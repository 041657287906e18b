"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/stability.py --workloads serve catalog --seeds 10 \
        --seconds 10 [--first-seed 100] [--trace 0]

Runs ``run.py`` once per (workload, seed), one run at a time, and
prints for every metric, gated and named, its median, quartiles
(``statistics.quantiles`` with n=4) and spread = (Q3 - Q1) / median —
the figure a metric's regression bound in BENCHMARK.json has to
exceed. The raw results are written to
``.perfbench_out/stability-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["named_metrics"] = json.loads(lines[-2])["named_metrics"]
    result["wall_s"] = time.perf_counter() - t
    return result


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r = run_once(w, seed, args.seconds, args.trace)
            runs.append(r)
            print(f"{w} seed={seed} wall={r['wall_s']:.0f}s "
                  f"correct={r['correct']} steal="
                  f"{r['named_metrics']['host.steal_pct']['value']:.1f}% "
                  + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        table = {k: spread([r["metrics"][k]["value"] for r in runs])
                 for k in runs[0]["metrics"]}
        table.update({f"named.{k}": spread([r["named_metrics"][k]["value"]
                                            for r in runs])
                      for k in runs[0]["named_metrics"]
                      if all(r["named_metrics"].get(k, {}).get("value")
                             for r in runs)})
        for k, s in table.items():
            print(f"  {w:8s} {k:26s} median={s['median']:.4g} "
                  f"q1={s['q1']:.4g} q3={s['q3']:.4g} "
                  f"spread={s['spread']:.3f}", flush=True)
        print(f"  {w:8s} wall per run: median "
              f"{statistics.median(r['wall_s'] for r in runs):.0f}s, "
              f"all correct: {all(r['correct'] for r in runs)}", flush=True)
        with open(os.path.join(out_dir, f"stability-{w}.json"), "w") as fh:
            json.dump({"runs": runs, "spread": table}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
