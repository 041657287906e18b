"""Reference-regime hyperparameter grid, run once offline (VERDICT r3
item 6).

The reference greps its best SVD params from a 144-combo × 3-fold
surprise GridSearchCV (prototype/trainer.py:45-66: n_factors {10,30,50}
× n_epochs {10,30,50} × lr_all ×4 × reg_all {0.2,0.4,0.6,0.8}). ALS has
no learning rate (each block is solved exactly, not gradient-stepped),
so the Spark-native full shape is the 36-combo cube rank × maxIter ×
regParam over the SAME values, 3-fold CV, parallelism 4 — run at sf0.1
(599 351 ratings) and committed to GRID_SEARCH.md. The production
defaults (rank 16, 6 sweeps, reg 0.2) are CV-scored with the identical
fold split for an apples-to-apples gap; tests/test_ml.py asserts the
committed gap stays within the gate.

Usage: python tools/grid_full.py [sf_dir] [out_md]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from movie_rec_spark import ml as M  # noqa: E402
from movie_rec_spark.session import get_spark  # noqa: E402
from movie_rec_spark.sources.catalog import load_table  # noqa: E402

RANKS = (10, 30, 50)
ITERS = (10, 30, 50)
REGS = (0.2, 0.4, 0.6, 0.8)


def cv_table(cv_model):
    """(params dict, avg RMSE) per combo, best first."""
    rows = []
    for pm, rmse in zip(cv_model.getEstimatorParamMaps(),
                        cv_model.avgMetrics):
        p = {param.name: v for param, v in pm.items()}
        rows.append((p, rmse))
    rows.sort(key=lambda r: r[1])
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/GRID_SEARCH.md"
    spark = get_spark("grid_full")
    spark.sparkContext.setLogLevel("ERROR")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = M.build_ratings(li, o).cache()
    n = ratings.count()

    t0 = time.time()
    cv = M.grid_search(ratings, ranks=RANKS, regs=REGS, iters=ITERS,
                       num_folds=3, parallelism=4)
    grid_wall = time.time() - t0
    rows = cv_table(cv)
    best_p, best_rmse = rows[0]

    # production defaults through the SAME CV machinery/fold seed
    cv_def = M.grid_search(ratings, ranks=(M.RANK,), regs=(M.REG_PARAM,),
                           iters=(M.MAX_ITER,), num_folds=3, parallelism=4)
    (_, default_rmse), = cv_table(cv_def)

    lines = [
        "# GRID_SEARCH — reference-regime hyperparameter sweep (sf0.1)",
        "",
        "Generated by `tools/grid_full.py`; consumed by",
        "`tests/test_ml.py::test_grid_artifact_defaults_within_gate`.",
        "",
        f"- corpus: {sf_dir} ({n} ratings), 3-fold CV, seed {M.SEED}",
        f"- grid: rank {list(RANKS)} x maxIter {list(ITERS)} x "
        f"regParam {list(REGS)} = {len(rows)} combos "
        f"(reference: prototype/trainer.py:45-66; the lr_all axis has "
        f"no ALS analogue)",
        f"- grid wall-clock: {grid_wall:.0f} s (CrossValidator "
        f"parallelism 4, ALS numBlocks 8, checkpointed lineage)",
        "",
        f"- **best combo: rank={best_p['rank']} "
        f"maxIter={best_p['maxIter']} regParam={best_p['regParam']} "
        f"-> avg RMSE {best_rmse:.4f}**",
        f"- **production defaults: rank={M.RANK} maxIter={M.MAX_ITER} "
        f"regParam={M.REG_PARAM} -> avg RMSE {default_rmse:.4f} "
        f"(gap {default_rmse - best_rmse:+.4f})**",
        "",
        "| rank | maxIter | regParam | avg RMSE |",
        "|---|---|---|---|",
    ]
    for p, rmse in rows:
        lines.append(f"| {p['rank']} | {p['maxIter']} | {p['regParam']} "
                     f"| {rmse:.4f} |")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: best {best_rmse:.4f} {best_p}, "
          f"defaults {default_rmse:.4f}, wall {grid_wall:.0f}s")


if __name__ == "__main__":
    main()
