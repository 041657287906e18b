"""Run one workload in this process and print its result line.

Started by ``run.py`` in a fresh process whose environment already
fixes the core count, driver heap and scratch directories; not meant
to be run by hand. Stdout gets two JSON lines: the workload's metrics by
their own names (``named_metrics``), then the result; everything else
goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from collections import defaultdict

PER_LAYER = ("session.start_s", "op.build_ms", "op.plan_ms", "op.exec_ms",
             "spark.jobs_per_op", "spark.stages_per_op",
             "spark.tasks_per_op", "trace.overhead_ms_per_op",
             "trace.cpu_ms", "trace.latency_ms")
UNITS = {"setup_s": "s", "cpu_ms": "ms",
         "session.start_s": "s", "op.build_ms": "ms",
         "op.plan_ms": "ms", "op.exec_ms": "ms",
         "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
         "spark.tasks_per_op": "count", "trace.overhead_ms_per_op": "ms",
         "trace.cpu_ms": "ms", "trace.latency_ms": "ms"}


def typical(by_type: dict[str, list[float]],
            weights: dict[str, float]) -> float:
    """Geometric mean of each operation type's median latency, weighted by the type's share of the workload (TPC-H's power
    metric is the unweighted geometric mean of its query times). A
    median per type does not jump between types the way one median over
    a mix of slow and fast types does; the geometric mean lets a 10%
    change in any type move the figure by that type's share of 10%,
    whether the type is slow or fast."""
    w = {k: weights[k] for k in by_type}
    return math.exp(sum(w[k] * math.log(statistics.median(v))
                        for k, v in by_type.items()) / sum(w.values()))


def span_totals(tracer) -> dict:
    """Count, total and mean of every span name per phase (the set-up's
    refresh cycle is broken down under ``setup``), plus the catalog's
    per-module sums and its sub-second floor."""
    acc: dict = defaultdict(lambda: [0, 0.0])
    modules: dict = defaultdict(float)
    floor = 0.0
    for s in tracer.spans:
        if "end" not in s:
            continue
        d = s["end"] - s["start"]
        acc[(s["phase"], s["name"])][0] += 1
        acc[(s["phase"], s["name"])][1] += d
        if "module" in s and s["phase"] == "measure":
            modules[s["module"]] += d
            floor += d if d < 1.0 else 0.0
    out: dict = defaultdict(dict)
    for (phase, name), (n, t) in acc.items():
        out[phase][name] = {"n": n, "total_s": t, "mean_ms": 1000.0 * t / n}
    if modules:
        out["catalog.modules_s"] = dict(modules)
        out["catalog.floor_s"] = floor
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)

    import movie_rec_spark  # noqa: F401  (fail fast without the engine)
    from harness import NullTracer, Tracer, layer_summary, vm_hwm_mb
    from harness import cpu_ticks, session_cpu_s
    import workloads as W

    tracer = Tracer() if args.trace else NullTracer()
    ctx = W.Ctx(None, tracer, args.seed, args.data_dir, args.work_dir)
    t = time.perf_counter()
    wl = W.WORKLOADS[args.workload](ctx)
    wl.write_inputs()
    datagen_s = time.perf_counter() - t

    def phase(name):
        tracer.phase = name

    phase("setup")
    t = time.perf_counter()
    from movie_rec_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    ctx.spark = spark
    wl.setup()
    setup_s = time.perf_counter() - t

    phase("measure")
    steal0, total0 = cpu_ticks()
    cpu0 = session_cpu_s(os.getsid(0))
    m = wl.measure(args.seconds)
    cpu_s = session_cpu_s(os.getsid(0)) - cpu0
    steal1, total1 = cpu_ticks()
    if not m.lat:
        print(f"every operation failed: {wl.errors[:3]}", file=sys.stderr)
        return 1
    phase("check")
    errors = wl.check()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    attempted = sum(map(len, m.lat.values())) + m.failed
    latency = typical(m.lat, wl.weights)
    cpu = 1000.0 * cpu_s / attempted
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"),
             "cpu_ms": (cpu, "ms"), "latency_ms": (latency, "ms"),
             "error_rate": (m.failed / attempted, "failed/attempted"),
             **wl.named(m), "bench.datagen_s": (datagen_s, "s"),
             "host.steal_pct": (100.0 * (steal1 - steal0)
                                / max(1, total1 - total0), "%")}

    if args.trace:
        layer = layer_summary(tracer)
        layer["session.start_s"] = session_s
        layer["trace.cpu_ms"] = cpu
        layer["trace.latency_ms"] = latency
        metrics = {k: layer[k] for k in PER_LAYER}
        tracer.dump(args.trace_out, {
            "workload": args.workload, "seed": args.seed,
            "per_layer": metrics, "workload_figures": ctx.extra,
            "spans_by_name": span_totals(tracer),
            "named_metrics": {k: v for k, (v, _) in named.items()}})
    else:
        metrics = {"setup_s": setup_s, "cpu_ms": cpu}
    info = {"workload": args.workload, "ops": attempted, **ctx.extra,
            "latency_ms_by_type": m.lat}
    print(json.dumps(info, default=str), file=sys.stderr)
    for e in wl.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"workload": args.workload, "named_metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": m.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
