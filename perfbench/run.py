"""Benchmark of record for movie_rec_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: ``serve`` (closed-loop per-user reads, after one run of the
periodic recompute job in set-up) and ``catalog`` (one cold pass of a
subset of the declared analytics queries). See BENCHMARK.json for why
each exists.

Each invocation runs the workload in a fresh worker process with
``SPARK_GRAFT_CPUS`` = half the cores this process may use, a driver heap
sized to the host, and every scratch, local, checkpoint and temp
directory under a per-run directory inside the checkout
(``.perfbench_tmp/``), removed afterwards together with every process
the worker started. Stdout gets the workload's metrics by their own
names (``{"workload", "named_metrics"}``), then, as its last line, the
result JSON ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 1``
the metrics are the per-layer ones and the spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "catalog")
TIME_LIMIT_S = 170          # the worker is killed past this


def host_settings() -> dict[str, str]:
    """Core count and driver heap for this host: half the cores this
    process may run on, so the JVM's compiler and collector threads and
    the Python client do not queue behind Spark's task threads, and a
    fifth of physical memory (1-4 GiB) so the single local-mode JVM
    never competes with the rest of the machine."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, total_kb // (5 * 1024 * 1024)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": f"{heap_gb}g"}


def worker_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(host_settings())
    dirs = {k: os.path.join(run_dir, k) for k in
            ("tmp", "local", "ckpt", "scratch", "data", "work")}
    for d in dirs.values():
        os.makedirs(d)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_CHECKPOINT_DIR": dirs["ckpt"],
        "MRS_SCRATCH_DIR": dirs["scratch"],
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={dirs['tmp']} "
            "pyspark-shell"),
    })
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    its Python workers) and wait, bounded, until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "movie_rec_spark")):
        print(f"no movie_rec_spark package under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-",
                               dir=os.path.join(ROOT, ".perfbench_tmp"))
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = worker_env(run_dir)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data-dir", os.path.join(run_dir, "data"),
           "--work-dir", os.path.join(run_dir, "work"),
           "--trace-out", os.path.join(
               out_dir, f"trace-{args.workload}-{args.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop_group(proc.pid)
        proc.communicate()
        print(f"worker exceeded {TIME_LIMIT_S}s", file=sys.stderr)
        return 1
    finally:
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        print(f"worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = named = None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
        elif isinstance(obj, dict) and "named_metrics" in obj:
            named = obj
    if result is None or named is None:
        print("worker printed no result", file=sys.stderr)
        return 1
    print(json.dumps(named))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
