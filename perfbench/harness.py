"""Measurement plumbing shared by the workloads: spans, Spark job
counters, percentiles and process memory.

Spans are recorded only in a traced run (``--trace 1``); an untraced
run gets ``NullTracer`` whose ``span`` is a no-op context, so the
end-to-end metrics are measured with tracing off. A traced run keeps
every span in memory and writes them out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75/p50 that leaves at least ten samples
    beyond it, so a reported tail is never one or two stragglers."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return 50


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine from ``/proc/stat``: the
    time a hypervisor ran other guests on this machine's CPUs, and all
    time, so their difference over a phase gives its steal share."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def session_cpu_s(sid: int) -> float:
    """User + system CPU seconds of the live processes of session
    ``sid`` (the worker, its JVM and the JVM's Python workers). The
    kernel leaves out the time a hypervisor ran other guests (steal)."""
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:         # the process ended meanwhile
            continue
        f = stat[stat.rindex(")") + 2:].split()
        if int(f[3]) == sid:    # f[3] session, f[11] utime, f[12] stime
            ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class NullTracer:
    """Tracing off: spans cost one attribute lookup and nothing else."""

    enabled = False
    phase: str | None = None     # "setup", "measure" or "check"

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def op(self, spark, name: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    """In-memory span recorder.

    A span holds its name, start and end (``time.perf_counter``
    seconds), the span that was open on the same thread when it began
    (its cause) and the id of the operation it belongs to. ``count``
    adds to a named counter. ``op`` opens the operation's root span and
    tags its Spark jobs with a job group, so the jobs, stages and tasks
    each operation launched are read back from the status tracker.
    The recorder times its own bookkeeping (``overhead_s``)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_op = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent["id"] if parent else None,
               "op": getattr(self._local, "op", None), "phase": self.phase,
               **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = t0 = time.perf_counter()
        self._add_overhead(t0 - t_in)
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            stack.pop()
            self._add_overhead(time.perf_counter() - t1)

    def count(self, name: str, value: float = 1.0) -> None:
        t0 = time.perf_counter()
        with self._lock:
            self.counters[name] += value
        self._add_overhead(time.perf_counter() - t0)

    @contextlib.contextmanager
    def op(self, spark, name: str):
        """Root span of one operation plus its Spark job accounting."""
        t0 = time.perf_counter()
        sc = spark.sparkContext
        with self._lock:
            op_id = self._next_op
            self._next_op += 1
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, name)
        self._local.op = op_id
        self._add_overhead(time.perf_counter() - t0)
        try:
            with self.span(name, kind="op") as rec:
                yield rec
        finally:
            t1 = time.perf_counter()
            jobs, stages, tasks = spark_work(sc, group)
            rec.update(jobs=jobs, stages=stages, tasks=tasks)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.op = None
            self._add_overhead(time.perf_counter() - t1)

    def _add_overhead(self, dt: float) -> None:
        if self.phase == "measure":
            with self._lock:
                self.overhead_s += dt

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"summary": summary, "counters": self.counters,
                       "spans": self.spans}, fh)


def spark_work(sc, group: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks the status tracker holds for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def layer_summary(tracer: Tracer, op_kind: str = "op") -> dict[str, float]:
    """Per-layer figures common to every workload, from a traced run:
    mean build / plan / exec span time, Spark work per operation and
    the recorder's own cost per operation."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    ops = []
    for s in tracer.spans:
        if "end" not in s or s["phase"] != "measure":
            continue
        if s.get("kind") == op_kind:
            ops.append(s)
        elif s.get("kind") in ("build", "plan", "exec"):
            by_kind[s["kind"]].append(s["end"] - s["start"])
    n = max(1, len(ops))
    mean = (lambda xs: 1000.0 * statistics.fmean(xs) if xs else 0.0)
    return {
        "op.build_ms": mean(by_kind["build"]),
        "op.plan_ms": mean(by_kind["plan"]),
        "op.exec_ms": mean(by_kind["exec"]),
        "spark.jobs_per_op": sum(s.get("jobs", 0) for s in ops) / n,
        "spark.stages_per_op": sum(s.get("stages", 0) for s in ops) / n,
        "spark.tasks_per_op": sum(s.get("tasks", 0) for s in ops) / n,
        "trace.overhead_ms_per_op": 1000.0 * tracer.overhead_s / n,
    }


def force_plan(df) -> None:
    """Run Catalyst to a physical plan without executing it. The plan is
    cached on the Dataset's QueryExecution, so a later action on the
    same DataFrame reuses it."""
    df._jdf.queryExecution().executedPlan()
