"""ML pipeline: latent-factor collaborative filtering with MLlib ALS.

Reference parity (SURVEY.md §2.12): the reference trains a Funk-SVD
(scikit-surprise SGD) model every 15 minutes, scores the anti-testset,
and keeps per-user top-N (estimator.py:38-129, trainer.py:45-141). ALS is
the same model family (explicit-feedback latent factors) trained
distributed; parity is metric-band + structural invariants, never
value-equality (§7.3 item 1). Seeded end-to-end for repo-internal
determinism.

The reference's scaling cliff — ``build_anti_testset()`` materializing
|U|×|I|−|R| tuples in RAM (estimator.py:56) — disappears structurally:
``recommendForAllUsers`` does blocked GEMM + distributed top-K without
ever forming the cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rec_spark.functions import clamp, round_half_up
from movie_rec_spark.localdf import local_df

# Reference production hyperparameters (web/config.py:29-34): factors=50,
# epochs=50, lr=0.008, reg=0.2. ALS has no learning rate; rank/reg map
# directly, iterations are ALS sweeps (converges in far fewer than SGD
# epochs). Defaults here are sized for the sf0.01 correctness gate;
# production values go through train_als kwargs. MAX_ITER sized to the
# convergence curve on the sf0.1 hold-out fold: rmse 1.6282 @ 8 sweeps,
# 1.6302 @ 6, 1.6567 @ 4 — sweep 7-8 buys 0.1% rmse for 40% more fit
# wall-clock, so 6 is the knee (gate: tests/test_ml.py::test_rmse_gate_sf01).
RANK = 16
MAX_ITER = 6
# 0.4 from the committed full-grid sweep (GRID_SEARCH.md): every one of
# the 9 best combos uses regParam 0.4 (best avg RMSE 1.5648 vs 1.66+ at
# 0.2), and unlike rank/maxIter it costs nothing at fit time. The
# reference's production reg_all=0.2 (web/config.py:33) tuned an SGD
# objective; ALS's exact block solves regularize differently.
REG_PARAM = 0.4
SEED = 42
TOP_N = 20                       # web/config.py:26
RATING_MIN, RATING_MAX = 0.5, 5.0  # Reader(rating_scale=(0.5, 5.0))


def build_ratings(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Derive an explicit-feedback ratings table from the star schema:
    user = o_custkey, item = l_partkey, rating = per-(user,item) mean
    quantity mapped onto the half-star [0.5, 5.0] domain (l_quantity is
    1..50 → /10, rounded to half-stars like controller.py:329-331)."""
    o = orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_quantity")
        .join(o, "l_orderkey", "inner")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(
            clamp(
                round_half_up(F.avg("l_quantity") / 10.0),
                RATING_MIN, RATING_MAX,
            ).alias("rating")
        )
    )


def train_als(ratings: DataFrame, rank: int = RANK, max_iter: int = MAX_ITER,
              reg_param: float = REG_PARAM, seed: int = SEED,
              num_blocks: int = 8):
    """ML1: fit the latent-factor model (ALS ~ reference SVD family,
    estimator.py:38-49). coldStartStrategy='drop' mirrors surprise
    skipping unknown ids.

    num_blocks sizes the user/item factor blocks: per-iteration task
    count grows ~blocks², so MLlib's default 10 costs 2× wall-clock on
    a sub-1M-row local run (measured 7.5s → 3.5s at 8 blocks, sf0.1).
    On a cluster set it ≈ number of executors so each holds one block.
    """
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="rating",
        coldStartStrategy="drop",
        seed=seed,
        nonnegative=False,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
    )
    return als.fit(ratings)


def recommend_top_n(model, n: int = TOP_N) -> DataFrame:
    """ML4+K5: per-user top-N without the anti-testset cross join —
    ``recommendForAllUsers`` is MLlib's distributed blocked top-K
    (replaces estimator.py:56,63,118-129). Scores clamped into the
    rating domain (ML5, trainer.py:37)."""
    recs = model.recommendForAllUsers(n)
    exploded = recs.select(
        "user_id",
        F.posexplode("recommendations").alias("rank0", "rec"),
    )
    return exploded.select(
        "user_id",
        F.col("rec.item_id").alias("item_id"),
        clamp(F.col("rec.rating").cast("double"),
              RATING_MIN, RATING_MAX).alias("score"),
        (F.col("rank0") + 1).cast("int").alias("rank"),
    )


def evaluate_ranking(recs: DataFrame, test: DataFrame,
                     k: int = 10) -> dict:
    """Top-K ranking metrics — the evaluation a recommender actually
    ships on (RMSE measures rating regression, not list quality;
    beyond reference, which stops at RMSE/MAE, trainer.py:57-66):
    precision@K, recall@K, and NDCG@K of per-user ranked lists against
    a held-out relevant set.

    Everything is one ranked-recs ⋈ test join keyed on (user, item)
    plus per-user aggregates — no collect, no per-user loop: hits
    carry their rank, so DCG = Σ 1/log2(rank+1) folds in the same
    keyed agg, and the ideal DCG for n relevant items comes from a
    broadcast rank-constant table (K rows). Users with no held-out
    relevants are excluded (standard).
    """
    r = recs.filter(F.col("rank") <= k).select(
        "user_id", "item_id", "rank")
    t = test.select("user_id", "item_id").distinct()
    n_rel = t.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (r.join(t, ["user_id", "item_id"])
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_hit"),
                 F.sum(1.0 / F.log2(F.col("rank") + 1)).alias("dcg")))
    # ideal DCG: prefix sums of 1/log2(i+1), i = 1..k (tiny, driver)
    import math

    prefix = []
    acc = 0.0
    for i in range(1, k + 1):
        acc += 1.0 / math.log2(i + 1)
        prefix.append(acc)
    idcg = F.element_at(
        F.array(*[F.lit(x) for x in prefix]),
        F.least(F.col("n_rel"), F.lit(k)).cast("int"))
    per_user = (n_rel.join(hits, "user_id", "left")
                .select(
                    "user_id", "n_rel",
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    (F.coalesce("dcg", F.lit(0.0)) / idcg)
                    .alias("ndcg")))
    agg = per_user.agg(
        F.avg(F.col("n_hit") / F.lit(k)).alias("precision_at_k"),
        F.avg(F.col("n_hit") / F.col("n_rel")).alias("recall_at_k"),
        F.avg("ndcg").alias("ndcg_at_k"),
        F.count(F.lit(1)).alias("n_users")).collect()[0]
    return {"precision_at_k": agg.precision_at_k,
            "recall_at_k": agg.recall_at_k,
            "ndcg_at_k": agg.ndcg_at_k,
            "n_users": agg.n_users}


def evaluate_rmse_mae(model, test: DataFrame) -> tuple[float, float]:
    """ML3: RMSE + MAE on a held-out split (trainer.py:57,63-66)."""
    from pyspark.ml.evaluation import RegressionEvaluator

    pred = model.transform(test)
    rmse = RegressionEvaluator(metricName="rmse", labelCol="rating",
                               predictionCol="prediction").evaluate(pred)
    mae = RegressionEvaluator(metricName="mae", labelCol="rating",
                              predictionCol="prediction").evaluate(pred)
    return rmse, mae


def grid_search(ratings: DataFrame,
                ranks: tuple[int, ...] = (8, 16),
                regs: tuple[float, ...] = (0.1, 0.2),
                num_folds: int = 3,
                parallelism: int = 4,
                seed: int = SEED,
                iters: tuple[int, ...] | None = None,
                num_blocks: int = 8):
    """ML2: hyperparameter grid + k-fold CV, best-RMSE selection
    (trainer.py:45-66: 144 combos × 3 folds, n_jobs=4 →
    CrossValidator(parallelism=4)). Grid kept small by default; the
    reference's full grid shape is a kwargs change (``iters`` grids
    maxIter — the ALS analogue of n_epochs; the reference's lr_all axis
    has no ALS counterpart because ALS solves each block exactly
    instead of gradient-stepping, so the 144-combo SGD grid maps to 36
    ALS combos). tools/grid_full.py runs that full shape offline and
    commits the table to GRID_SEARCH.md."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.recommendation import ALS
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    als = ALS(userCol="user_id", itemCol="item_id", ratingCol="rating",
              coldStartStrategy="drop", maxIter=MAX_ITER, seed=seed,
              numUserBlocks=num_blocks, numItemBlocks=num_blocks)
    gb = (
        ParamGridBuilder()
        .addGrid(als.rank, list(ranks))
        .addGrid(als.regParam, list(regs))
    )
    if iters:
        gb = gb.addGrid(als.maxIter, list(iters))
    grid = gb.build()
    cv = CrossValidator(
        estimator=als,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse", labelCol="rating",
                                      predictionCol="prediction"),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )
    return cv.fit(ratings)


def q_grid_search(lineitem: DataFrame, orders: DataFrame,
                  ranks: tuple[int, ...] = (2, 4),
                  regs: tuple[float, ...] = (0.2, 0.4),
                  iters: tuple[int, ...] = (4,),
                  num_folds: int = 2) -> DataFrame:
    """Declared query (rows-only: ML training is not SQL-expressible):
    ML2 as a queries() citizen — a genuine (small) hyperparameter grid
    + k-fold CV over the corpus ratings, returning the scored combo
    table (rank, max_iter, reg_param, avg_rmse, is_best). The
    reference's full 144-combo regime (trainer.py:45-66) is the same
    code path via kwargs; its sf0.1 sweep is committed in
    GRID_SEARCH.md and gated by
    tests/test_ml.py::test_grid_artifact_defaults_within_gate.

    Scale shape: CrossValidator fans the fits out (parallelism), each
    fit is MLlib ALS — distributed by construction; the returned table
    is |grid| rows assembled from avgMetrics on the driver (a scalar
    per combo, not data). Deterministic under the fixed seed (the ALS
    determinism gate pins same-seed refits)."""
    ratings = build_ratings(lineitem, orders)
    cv = grid_search(ratings, ranks=ranks, regs=regs, iters=iters,
                     num_folds=num_folds, parallelism=4)
    best_rmse = min(cv.avgMetrics)
    rows = []
    for pm, rmse in zip(cv.getEstimatorParamMaps(), cv.avgMetrics):
        by_name = {p.name: v for p, v in pm.items()}
        rows.append((int(by_name["rank"]), int(by_name["maxIter"]),
                     float(by_name["regParam"]),
                     round(float(rmse), 4),
                     1 if rmse == best_rmse else 0))
    spark = ratings.sparkSession
    return (local_df(
        spark, rows, "rank bigint, max_iter bigint, reg_param double, "
                     "avg_rmse double, is_best int")
        .orderBy("avg_rmse", "rank", "max_iter", "reg_param"))


def q_als_recs(lineitem: DataFrame, orders: DataFrame,
               n: int = 5) -> DataFrame:
    """Declared query (rows-only: ML is not SQL-expressible): full
    train → recommend pipeline. Structural invariants tested in
    tests/test_ml.py; the driver checks rows + schema stability."""
    ratings = build_ratings(lineitem, orders)
    model = train_als(ratings)
    return recommend_top_n(model, n)


# The T4 serving-semantics query lives in operators/relational.py
# (q_recommend): serving must not fit a model in-query —
# pipeline.serve_recommendations applies the same overlay rules to this
# module's PRECOMPUTED ALS recs (run_pipeline's gold table), loaded once
# into a driver-side ServingIndex.

# --- q_als_audit: the ML4 scoring path made hash-checkable ----------------
# The ALS FIT is information-theoretically unhashable cross-engine
# (float least-squares whose bit pattern depends on seed, block
# topology, and BLAS accumulation order — SURVEY §4.3), but everything
# AFTER the fit is deterministic plumbing: score = user·item dot
# product, ML5 clamp, exclude-seen anti-join, per-user dense top-N.
# The audit replaces the fitted factors with md5-derived INTEGER
# pseudo-factors both engines can rebuild independently (the
# q_hll_audit doctrine applied to ML4), so the driver hash row
# certifies the serving plumbing end-to-end while the real fit keeps
# its RMSE/structure/determinism pytest gates.

AUDIT_K = 4       # pseudo-factor rank
AUDIT_MOD = 20    # user/item sampling modulus (bounds the dense GEMM)
AUDIT_TOPN = 3
AUDIT_CLAMP = 256  # integer clamp bound (the ML5 clamp, pre-scale)
AUDIT_GRID = 8     # coarse quantization grid for the declared pred_q


def _pseudo_factor(prefix: str, id_col, f: int):
    """Deterministic integer factor in [-8, 8]: first 4 md5 hex chars
    of '<prefix>:<id>:<f>' mod 17, shifted — the portable-signature
    hex-parse recipe (same arithmetic in the DuckDB oracle)."""
    key = F.concat_ws(":", F.lit(prefix), id_col.cast("string"),
                      F.lit(str(f)))
    return (F.conv(F.substring(F.md5(key.cast("binary")), 1, 4),
                   16, 10).cast("long") % 17 - 8)


def q_als_audit(lineitem: DataFrame, orders: DataFrame,
                n: int = AUDIT_TOPN) -> DataFrame:
    """Declared query (r12, ORACLE-EXACT): the recommendForAllUsers
    serving path under engine-portable pseudo-factors — score every
    (sampled user, sampled item) pair by the rank-AUDIT_K integer dot
    product, clamp (ML5), quantize onto the AUDIT_GRID, drop seen
    pairs (the serving contract: never recommend what's in the
    history), and keep each user's dense
    top-``n`` by (score DESC, item_id).

    Output: (user_id, item_id, pred_q, rank), ordered by
    (user_id, rank). Integer arithmetic end-to-end, so the DuckDB
    oracle reproduces it bit-exactly — the hash row certifies the
    scoring join, clamp, anti-join, and ranking window that the real
    ALS recs flow through (q_als_recs stays rows-only by necessity).

    Scale shape: the modulus sample bounds the dense score block
    (users/MOD × items/MOD — the blocked-GEMM audit harness, not the
    production sparse path); factors are map-side expressions; one
    broadcast cross attach + the seen anti-join + one user-keyed rank
    window. Reference analogue: estimator.py:56,63 (score unseen) +
    trainer.py:37 (clamp)."""
    from pyspark.sql.window import Window

    # Raw (user_id, item_id) interaction pairs == build_ratings'
    # grouping keys, built WITHOUT the rating aggregate (only pair
    # membership is used here) and cut once: the naive
    # `build_ratings(...)` formulation re-executed the lineitem⋈orders
    # join + aggregation THREE times (users-distinct, items-distinct,
    # and the anti-join feed) — measured 9.95 s at sf0.1. The
    # broadcast dim join has no shuffle, so the checkpointed handoff
    # costs one scan; every consumer below filters it by the audit
    # modulus FIRST, so the downstream exchanges move 1/MOD (users,
    # items) or 1/MOD² (anti-join build) of the pairs.
    o = orders.select(F.col("o_orderkey").alias("l_orderkey"),
                      "o_custkey")
    pairs = (lineitem.select("l_orderkey", "l_partkey")
             .join(o, "l_orderkey", "inner")
             .select(F.col("o_custkey").alias("user_id"),
                     F.col("l_partkey").alias("item_id"))
             .localCheckpoint(eager=False))
    users = (pairs.filter(F.col("user_id") % AUDIT_MOD == 0)
             .select("user_id").distinct())
    items = (pairs.filter(F.col("item_id") % AUDIT_MOD == 0)
             .select("item_id").distinct())
    # the anti-join can only ever match sampled (user, item) pairs, so
    # the build side shrinks by MOD² BEFORE it moves — small enough to
    # BROADCAST at any scale (guide §3.1/§3.2; without the hint the
    # stats-less checkpoint scan planned a SortMergeJoin that shuffled
    # and sorted both the 750k-row score block and the full pair set)
    seen = F.broadcast(
        pairs.filter((F.col("user_id") % AUDIT_MOD == 0)
                     & (F.col("item_id") % AUDIT_MOD == 0)))
    # spread the dense score block across the cluster: the sampled
    # user side comes out of its distinct aggregate AQE-coalesced to
    # ONE partition (it is tiny), which would make the
    # user×item cross product — the only O(|users|·|items|) stage —
    # single-threaded (measured 2.5 s of the 8.8 s wall at sf0.1).
    # Round-robin the stream side over the scheduler's parallelism
    # (cluster-adaptive, not a constant) so the GEMM fans out.
    n_blocks = users.sparkSession.sparkContext.defaultParallelism
    p = users.repartition(n_blocks).select(
        "user_id", *[_pseudo_factor("alsp", F.col("user_id"), f)
                     .alias(f"p{f}") for f in range(AUDIT_K)])
    q = items.select(
        "item_id", *[_pseudo_factor("alsq", F.col("item_id"), f)
                     .alias(f"q{f}") for f in range(AUDIT_K)])
    score = sum(F.col(f"p{f}") * F.col(f"q{f}")
                for f in range(AUDIT_K)).alias("score")
    # ML5 clamp + grid quantization: shifted non-negative before the
    # integer div so truncation == floor in both engines
    scored = (p.crossJoin(F.broadcast(q))    # bounded item block
              .select("user_id", "item_id", score)
              .join(seen, ["user_id", "item_id"], "left_anti")
              .select("user_id", "item_id", "score",
                      F.expr(f"({AUDIT_CLAMP} + "
                             f"least(greatest(score, {-AUDIT_CLAMP}),"
                             f" {AUDIT_CLAMP})) div {AUDIT_GRID}")
                      .alias("pred_q")))
    w = Window.partitionBy("user_id").orderBy(
        F.col("score").desc(), "item_id")
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= n)
            .select("user_id", "item_id",
                    F.col("pred_q").cast("long").alias("pred_q"),
                    "rank")
            .orderBy("user_id", "rank"))

def build_implicit_events(events: DataFrame) -> DataFrame:
    """Implicit-feedback interaction strengths from the event stream:
    confidence = weighted interaction count per (user, item-proxy).
    The reference's implicit path (M5, controller.py:156-171) invents a
    pseudo-rating; the principled formulation (Hu/Koren/Volinsky 2008)
    keeps the raw strength and lets ALS weight by confidence. Item id
    comes out of the event's JSON props payload (``{"k": <id>}`` —
    JVM-side get_json_object, the S12 JSON surface), weighted by event
    kind: purchase 5, click 2, anything else 1."""
    weights = F.when(F.col("event_type") == "purchase", 5.0) \
        .when(F.col("event_type") == "click", 2.0) \
        .otherwise(1.0)
    return (
        events.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item_id"),
            weights.alias("w"))
        .filter(F.col("item_id").isNotNull())
        .groupBy("user_id", "item_id")
        .agg(F.sum("w").alias("strength"))
    )


def train_als_implicit(interactions: DataFrame, rank: int = RANK,
                       max_iter: int = MAX_ITER, reg_param: float = REG_PARAM,
                       alpha: float = 10.0, seed: int = SEED,
                       num_blocks: int = 8):
    """ML1 implicit twin: ALS with implicitPrefs — factorizes the
    preference indicator weighted by confidence 1 + alpha*strength
    instead of reconstructing ratings. This is the at-scale form of the
    reference's implicit-rating rule (M5): no pseudo-rating injection,
    the signal stays an interaction strength."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank, maxIter=max_iter, regParam=reg_param,
        implicitPrefs=True, alpha=alpha,
        userCol="user_id", itemCol="item_id", ratingCol="strength",
        coldStartStrategy="drop", seed=seed,
        numUserBlocks=num_blocks, numItemBlocks=num_blocks,
    )
    return als.fit(interactions)


def q_als_implicit(events: DataFrame, n: int = 3) -> DataFrame:
    """Declared query (rows-only): implicit-feedback ALS end-to-end —
    event stream → confidence-weighted interactions → implicit ALS →
    per-user top-n. Structural invariants (scores in (0, 1]-ish
    preference range, n rows per user, determinism under the fixed
    seed) are pytest-pinned in tests/test_ml.py."""
    model = train_als_implicit(build_implicit_events(events))
    recs = model.recommendForAllUsers(n)
    return (
        recs.select("user_id",
                    F.posexplode("recommendations").alias("rank0", "rec"))
        .select("user_id",
                F.col("rec.item_id").alias("item_id"),
                F.round(F.col("rec.rating").cast("double"), 4).alias("pref"),
                (F.col("rank0") + 1).cast("int").alias("rank"))
    )
