"""ML pipeline tests — metric-band + structural invariants, never
value-equality (SURVEY.md §5, §7.3 item 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_rec_spark import ml as ML
from movie_rec_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def exclude_seen(recs: DataFrame, seen: DataFrame) -> DataFrame:
    """Drop (user, item) pairs the user already interacted with and
    re-rank densely — the leave-one-out evaluation protocol."""
    kept = recs.join(seen.select("user_id", "item_id"),
                     ["user_id", "item_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("rank")
    return kept.withColumn("rank",
                           F.row_number().over(w).cast("int"))


@pytest.fixture(scope="module")
def ratings(spark):
    df = ML.build_ratings(
        load_table(spark, SF, "lineitem"), load_table(spark, SF, "orders")
    ).cache()
    yield df
    # Unpersist at module teardown: Spark's cache manager substitutes
    # any LATER query whose plan contains this fragment (q_als_audit
    # composes build_ratings on the same tables), which changes its
    # physical plan and broke test_plans' exchange budgets when the
    # whole suite runs in one session.
    df.unpersist()


@pytest.fixture(scope="module")
def model(ratings):
    return ML.train_als(ratings)


def test_ratings_domain(ratings):
    row = ratings.agg(
        F.min("rating").alias("lo"), F.max("rating").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert row.n > 0 and 0.5 <= row.lo and row.hi <= 5.0
    # half-star grid
    bad = ratings.filter((F.col("rating") * 2) % 1 != 0).count()
    assert bad == 0


def test_topn_structure(model, ratings):
    recs = ML.recommend_top_n(model, n=5).cache()
    try:
        per_user = recs.groupBy("user_id").count()
        assert per_user.filter("count != 5").count() == 0
        # scores clamped into rating domain (ML5)
        assert recs.filter(
            (F.col("score") < 0.5) | (F.col("score") > 5.0)).count() == 0
        # ranks are 1..5
        assert recs.filter(
            (F.col("rank") < 1) | (F.col("rank") > 5)).count() == 0
    finally:
        recs.unpersist()
    # every user with ratings got recs
    n_users = ratings.select("user_id").distinct().count()
    assert per_user.count() == n_users


def test_rmse_band(ratings):
    train, test = ratings.randomSplit([0.8, 0.2], seed=7)
    model = ML.train_als(train)
    rmse, mae = ML.evaluate_rmse_mae(model, test)
    # constant-mean predictor RMSE on this data ~ stddev(rating) ~ 0.7;
    # the model must not be catastrophically worse, and mae <= rmse.
    std = ratings.agg(F.stddev("rating")).collect()[0][0]
    assert rmse < 2 * std, f"rmse {rmse} vs std {std}"
    assert mae <= rmse


def test_rmse_gate_sf01(spark):
    """ALS quality gate (reference regime: hold-out RMSE selection,
    trainer.py:57,63-66): pinned ABSOLUTE band on a deterministic
    hash-split fold at sf0.1, so a training regression — bad hyperparam
    edit, broken ratings derivation, seed drift — fails CI rather than
    just shifting a structural invariant.

    Measured baseline 1.6302 with the pre-sweep defaults (rank=16,
    iter=6, reg=0.2, seed=42, 80/20 xxhash64 split; 1.6282 at iter=8 —
    the knee analysis lives on ml.MAX_ITER); the GRID_SEARCH.md sweep
    moved reg to 0.4 (3-fold CV avg 1.5641), so the 1.75 band now
    carries extra headroom and pins regressions harder.
    The synthetic ratings carry little latent structure, so the gate
    pins regression, not model skill."""
    SF01 = "/root/testdata/sf0.1"
    ratings = ML.build_ratings(
        load_table(spark, SF01, "lineitem"), load_table(spark, SF01, "orders"))
    bucket = F.pmod(F.xxhash64(F.col("user_id"), F.col("item_id")), F.lit(100))
    train, test = ratings.filter(bucket < 80), ratings.filter(bucket >= 80)
    model = ML.train_als(train)
    rmse, mae = ML.evaluate_rmse_mae(model, test)
    assert rmse <= 1.75, f"RMSE regression: {rmse:.4f} > band 1.75"
    assert mae <= rmse


def test_determinism_same_seed(ratings):
    r1 = ML.recommend_top_n(ML.train_als(ratings, rank=4, max_iter=3), 3)
    r2 = ML.recommend_top_n(ML.train_als(ratings, rank=4, max_iter=3), 3)
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))


def test_grid_search_small(ratings):
    cv = ML.grid_search(ratings, ranks=(2, 4), regs=(0.2,), num_folds=2,
                        parallelism=2)
    assert cv.bestModel.rank in (2, 4)
    assert len(cv.avgMetrics) == 2


def test_q_recommend_excludes_seen(spark):
    from movie_rec_spark.operators.relational import q_recommend, user_parts
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    seen = {r.l_partkey for r in user_parts(li, orders, 1).collect()}
    out = q_recommend(li, orders, custkey=1, n=10).collect()
    assert 0 < len(out) <= 10
    rec_items = {r.item_id for r in out}
    assert not (rec_items & seen), "recommended an already-seen item"
    assert {r.rec_source for r in out} <= {"precomputed", "popular"}


def test_serve_overlay_both_branches(spark):
    """Crafted fixture where BOTH overlay branches contribute: seen
    knocks items out of the precomputed recs AND the back-fill must skip
    seen and already-recommended items before topping up to n."""
    from overlay import serve_overlay

    recs = spark.createDataFrame(
        [(10, 5.0, "als"), (11, 4.0, "als"), (12, 3.0, "als")],
        "item_id long, score double, rec_source string")
    seen = spark.createDataFrame([(11,), (20,)], "item_id long")
    popularity = spark.createDataFrame(
        [(10, 99.0),   # already recommended -> skipped by back-fill
         (20, 98.0),   # seen -> skipped
         (21, 97.0), (22, 96.0), (23, 95.0)],
        "item_id long, score double")
    out = serve_overlay(recs, seen, popularity, n=4).collect()
    assert [(r.item_id, r.rec_source) for r in out] == [
        (10, "als"), (12, "als"),          # 11 dropped as seen
        (21, "popular"), (22, "popular"),  # back-fill skips 10 and 20
    ]
    # precomputed rows rank before popular even at lower score
    assert out[1].score < out[2].score
    # the serving index answers the same fixture identically
    from movie_rec_spark.pipeline import (PipelineResult,
                                          serve_recommendations)
    result = PipelineResult(
        seen.selectExpr("1 AS user_id", "int(item_id) AS movie_id"),
        popularity.selectExpr("int(item_id) AS movie_id",
                              "int(score) AS count_users"),
        recs.selectExpr("1 AS user_id", "int(item_id) AS item_id", "score"),
        None)
    assert [tuple(r) for r in serve_recommendations(result, 1, 4).collect()] \
        == [tuple(r) for r in out]


def test_q_grid_search_declared_query(spark):
    """The declared ML2 query: one row per grid combo, exactly one
    is_best row and it carries the minimum avg_rmse, params come from
    the declared grid, and RMSE sits in the plausible rating-scale
    band (the full-regime artifact gate below covers the production
    sweep)."""
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    out = ML.q_grid_search(li, orders).collect()
    assert len(out) == 4                      # 2 ranks x 2 regs x 1 iter
    assert [r.avg_rmse for r in out] == sorted(r.avg_rmse for r in out)
    best = [r for r in out if r.is_best == 1]
    assert len(best) == 1
    assert best[0].avg_rmse == min(r.avg_rmse for r in out)
    assert {(r.rank, r.max_iter) for r in out} <= {(2, 4), (4, 4)}
    assert {r.reg_param for r in out} == {0.2, 0.4}
    assert all(0.0 < r.avg_rmse < 5.0 for r in out)


def test_grid_artifact_defaults_within_gate():
    """The committed full-grid sweep (GRID_SEARCH.md, reference regime:
    trainer.py:45-66) must stay consistent with the production
    defaults: the artifact's recorded default combo IS ml.py's current
    constants (staleness guard — regenerate with tools/grid_full.py
    after any default change), and its CV RMSE sits within 0.05 of the
    recorded grid best (the 'defaults are near-optimal' claim)."""
    import re

    with open("/root/repo/GRID_SEARCH.md") as f:
        text = f.read()
    best = re.search(
        r"best combo: rank=(\d+) maxIter=(\d+) regParam=([\d.]+) "
        r"-> avg RMSE ([\d.]+)", text)
    assert best, "GRID_SEARCH.md missing best-combo line"
    defaults = re.search(
        r"rank=(\d+)\s+maxIter=(\d+) regParam=([\d.]+) -> avg RMSE "
        r"([\d.]+) \(gap", text)
    assert defaults, "GRID_SEARCH.md missing production-defaults line"
    d_rank, d_iter, d_reg, d_rmse = defaults.groups()
    assert (int(d_rank), int(d_iter), float(d_reg)) == (
        ML.RANK, ML.MAX_ITER, ML.REG_PARAM), (
        "GRID_SEARCH.md records different defaults than ml.py — "
        "re-run tools/grid_full.py")
    best_rmse = float(best.group(4))
    assert float(d_rmse) <= best_rmse + 0.05
    assert float(d_rmse) <= 1.75  # same absolute band as the sf0.1 gate


def test_als_implicit_prefers_interacted_item(spark):
    """Implicit ALS on a clean block-diagonal interaction matrix: each
    user's top-ranked item is the one they interacted with, output is
    deterministic under the fixed seed, and rows per user == n."""
    import datetime as dt
    from movie_rec_spark.ml import q_als_implicit
    rows = []
    eid = 0
    for u in range(1, 5):
        for _ in range(6):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1), u, "purchase",
                         1.0, '{"k": %d}' % u))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    out = q_als_implicit(ev, n=2)
    rows1 = sorted(map(tuple, out.collect()))
    rows2 = sorted(map(tuple, q_als_implicit(ev, n=2).collect()))
    assert rows1 == rows2, "seeded pipeline must be deterministic"
    per_user = {}
    for u, item, pref, rank in rows1:
        per_user.setdefault(u, []).append((rank, item, pref))
    assert set(per_user) == {1, 2, 3, 4}
    for u, recs in per_user.items():
        assert len(recs) == 2
        assert min(r[0] for r in recs) == 1
        top = min(recs)[1]
        assert top == u, f"user {u} should rank own item first, got {top}"


def test_ranking_metrics_hand_computed(spark):
    """evaluate_ranking on a hand-built rec list: u1 hits ranks 1 and
    3 of 2 relevants (P@2... no: K=3), u2 hits nothing, u3 has no
    held-out row and is excluded. Metrics match the closed forms."""
    import math

    recs = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.7, 3),
         (2, 10, 0.9, 1), (2, 11, 0.8, 2), (2, 12, 0.7, 3),
         (3, 10, 0.9, 1)],
        "user_id int, item_id int, score double, rank int")
    test = spark.createDataFrame(
        [(1, 10), (1, 12), (2, 99)], "user_id int, item_id int")
    m = ML.evaluate_ranking(recs, test, k=3)
    assert m["n_users"] == 2
    # u1: hits at ranks 1,3 of n_rel=2 -> P=2/3, R=1,
    #     ndcg = (1 + 1/log2(4)) / (1 + 1/log2(3))
    ndcg1 = (1 + 1 / math.log2(4)) / (1 + 1 / math.log2(3))
    assert abs(m["precision_at_k"] - (2 / 3 + 0) / 2) < 1e-12
    assert abs(m["recall_at_k"] - (1.0 + 0.0) / 2) < 1e-12
    assert abs(m["ndcg_at_k"] - (ndcg1 + 0.0) / 2) < 1e-12


def test_ranking_beats_popularity_on_planted_structure(spark):
    """On a ratings matrix with PLANTED block structure (two user
    cohorts, each loving a disjoint item block), ALS top-K must beat
    the non-personalized popularity list on NDCG@10 against a held-out
    loved item per user — popularity cannot separate the cohorts by
    construction, so this is the minimum personalization bar."""
    rows = []
    for u in range(40):
        block = u % 2                      # cohort -> item block
        for j in range(12):
            item = block * 100 + j
            rows.append((u, item, 5.0))    # loved block
        for j in range(3):
            item = (1 - block) * 100 + j
            rows.append((u, item, 1.0))    # disliked other block
    ratings = spark.createDataFrame(
        rows, "user_id int, item_id int, rating double")
    # hold out one loved item per user, VARYING by user so every
    # item still appears in other users' training data (a shared
    # held-out item would be cold — unlearnable by any CF model)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("rating"),
        F.desc((F.col("item_id") + F.col("user_id") * 7) % 12),
        F.desc("item_id"))
    ranked = ratings.withColumn("rn", F.row_number().over(w))
    heldout = ranked.filter(F.col("rn") == 1).select(
        "user_id", "item_id")
    train = ranked.filter(F.col("rn") > 1).drop("rn")
    model = ML.train_als(train)
    # leave-one-out protocol: recommend wide, EXCLUDE seen, re-rank
    als_recs = exclude_seen(ML.recommend_top_n(model, 30), train)
    als = ML.evaluate_ranking(als_recs, heldout)
    pop_items = (train.groupBy("item_id")
                 .agg(F.count(F.lit(1)).alias("c"))
                 .orderBy(F.desc("c"), F.asc("item_id")).limit(30)
                 .withColumn("rank", F.row_number().over(
                     Window.orderBy(F.desc("c"), F.asc("item_id"))))
                 .select("item_id", "rank"))
    pop = exclude_seen(
        train.select("user_id").distinct()
        .crossJoin(pop_items)
        .select("user_id", "item_id",
                F.lit(1.0).alias("score"), "rank"), train)
    base = ML.evaluate_ranking(pop, heldout)
    assert als["n_users"] == base["n_users"] == 40
    assert als["ndcg_at_k"] > base["ndcg_at_k"]
    assert als["recall_at_k"] > 0.5        # finds the held-out item


def _roundtrip_hash(df):
    import hashlib
    rows = sorted(map(tuple, df.collect()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def test_q_als_recs_declared_config_deterministic(spark):
    """The DECLARED q_als_recs (default grid-pinned config, fixture
    tables) fit twice in one session yields byte-identical top-N —
    q_als_recs is rows-only at the driver forever (DuckDB cannot fit
    ALS), so this pins what CAN be pinned: a regression in MLlib
    seeding, shuffle partitioning, or the ratings build flips this
    test instead of silently changing a driver row."""
    li = load_table(spark, SF, "lineitem")
    od = load_table(spark, SF, "orders")
    h1 = _roundtrip_hash(ML.q_als_recs(li, od))
    h2 = _roundtrip_hash(ML.q_als_recs(li, od))
    assert h1 == h2


def test_q_als_implicit_declared_config_deterministic(spark):
    """Same-session double-fit hash pin for the implicit twin."""
    ev = load_table(spark, SF, "events")
    h1 = _roundtrip_hash(ML.q_als_implicit(ev))
    h2 = _roundtrip_hash(ML.q_als_implicit(ev))
    assert h1 == h2


def test_als_audit_serving_invariants(spark, ratings):
    """q_als_audit (the ML4 serving-path audit twin): per-user ranks
    are dense 1..n ordered by the underlying score; no (user, item)
    pair from the seen set leaks through the exclude-seen anti-join;
    pred_q stays inside the shifted clamp grid; users/items respect
    the sampling modulus. The cross-engine exactness itself is the
    driver/selfcheck hash row — this pins the serving contract."""
    out = ML.q_als_audit(load_table(spark, SF, "lineitem"),
                         load_table(spark, SF, "orders")).collect()
    assert out, "audit produced no rows at sf0.001"
    seen = {(r.user_id, r.item_id) for r in ratings.collect()}
    by_user: dict[int, list] = {}
    for r in out:
        assert r.user_id % ML.AUDIT_MOD == 0
        assert r.item_id % ML.AUDIT_MOD == 0
        assert (r.user_id, r.item_id) not in seen
        assert 0 <= r.pred_q <= (2 * ML.AUDIT_CLAMP) // ML.AUDIT_GRID
        by_user.setdefault(r.user_id, []).append(r)
    for u, rows in by_user.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1)), u
        assert len(rows) <= ML.AUDIT_TOPN
