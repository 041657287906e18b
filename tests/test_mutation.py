"""Property-style tests for the mutation layer (M1-M5)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from movie_rec_spark.operators import mutation as M


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, ts=dt.datetime(2024, 1, d, h), user_id=u,
             event_type=t, value=float(v), props="{}")
         for (i, u, t, v, d, h) in rows]
    )


def test_upsert_latest_wins_and_tiebreak(spark):
    ev = _events(spark, [
        (1, 1, "click", 1.0, 1, 0),
        (2, 1, "click", 2.0, 2, 0),   # newer ts wins
        (3, 1, "click", 3.0, 2, 0),   # same ts -> higher event_id wins
        (4, 2, "click", 4.0, 1, 0),
    ])
    out = {(r.user_id, r.event_type): (r.event_id, r.value)
           for r in M.q_upsert_latest(ev).collect()}
    assert out == {(1, "click"): (3, 3.0), (2, "click"): (4, 4.0)}


def test_upsert_is_idempotent(spark):
    ev = _events(spark, [(i, i % 3, "t", i, 1 + i % 5, i % 24)
                         for i in range(1, 40)])
    once = M.upsert_latest(ev)
    twice = M.upsert_latest(once)
    assert sorted(once.collect()) == sorted(twice.collect())


def test_delete_by_key_composite(spark):
    ev = _events(spark, [
        (1, 1, "error", 0.0, 1, 1),
        (2, 1, "click", 1.0, 1, 2),   # same user+day as error -> deleted
        (3, 1, "click", 1.0, 2, 2),   # other day -> kept
        (4, 2, "click", 1.0, 1, 2),   # other user -> kept
    ])
    kept = {r.event_id for r in M.q_delete_antijoin(ev).collect()}
    assert kept == {3, 4}


def test_implicit_fill_default_and_avg(spark):
    ev = _events(spark, [
        (1, 1, "purchase", 10.0, 1, 0),
        (2, 1, "purchase", 20.0, 1, 1),
        (3, 1, "view", 0.0, 2, 0),     # user 1 has avg 15.0
        (4, 2, "view", 0.0, 2, 0),     # user 2 has no purchases -> 3.5
    ])
    out = {r.event_id: r.implied_value for r in M.q_implicit_fill(ev).collect()}
    assert out == {3: 15.0, 4: 3.5}


def test_append_events_injected_clock_is_deterministic(spark):
    from pyspark.sql import functions as F

    existing = _events(spark, [(5, 1, "click", 1.0, 1, 0)])
    new = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 2, 1), user_id=9, event_type="view",
             value=0.0, props="{}")])
    fixed = dt.datetime(2024, 3, 1, 12, 0, 0)
    out = M.append_events(existing, new, clock=F.lit(fixed)).collect()
    assert len(out) == 1
    assert out[0].event_id == 6          # max(existing)+1
    assert out[0].ingested_at == fixed   # injected clock, bit-exact


def test_append_events_default_clock_is_current(spark):
    """F7: the default stamp is server-side current_timestamp — bounded
    by driver wall-clock before/after (generous skew allowance)."""
    existing = _events(spark, [(1, 1, "click", 1.0, 1, 0)])
    new = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 2, 1), user_id=9, event_type="view",
             value=0.0, props="{}"),
         Row(ts=dt.datetime(2024, 2, 2), user_id=8, event_type="view",
             value=0.0, props="{}")])
    lo = dt.datetime.now() - dt.timedelta(minutes=5)
    out = M.append_events(existing, new).collect()
    hi = dt.datetime.now() + dt.timedelta(minutes=5)
    stamps = {r.ingested_at for r in out}
    assert len(stamps) == 1, "one query -> one batch stamp for all rows"
    assert lo <= stamps.pop() <= hi


def test_assign_dense_ids(spark):
    existing = spark.createDataFrame([Row(user_id=7, name="a")])
    new = spark.createDataFrame([Row(name="b"), Row(name="c"), Row(name="d")])
    out = M.assign_dense_ids(new, existing, "user_id").collect()
    assert sorted(r.user_id for r in out) == [8, 9, 10]
    # empty existing table -> ids start at 1
    out2 = M.assign_dense_ids(
        new, existing.filter("user_id < 0"), "user_id").collect()
    assert sorted(r.user_id for r in out2) == [1, 2, 3]


def test_assign_dense_ids_scalable_matches_window_form(spark):
    """The two-pass (range-partition + per-slice rank + offset) form
    assigns the IDENTICAL (row → id) multiset as the global-window
    form on a seeded batch — including duplicate rows, which are
    interchangeable under the all-columns total order — and its ids
    stay dense from max(existing)+1."""
    import random

    rng = random.Random(42)
    rows = [Row(user_id=rng.randint(1, 40),
                val=round(rng.uniform(0, 9), 2))
            for _ in range(500)]
    rows += rows[:25]  # duplicates: any total order must still agree
    new = spark.createDataFrame(rows)
    existing = spark.createDataFrame(
        [Row(event_id=i, user_id=1, val=0.0) for i in range(1, 78)])
    a = sorted(tuple(r) for r in
               M.assign_dense_ids(new, existing, "event_id").collect())
    b = sorted(tuple(r) for r in
               M.assign_dense_ids_scalable(
                   new, existing, "event_id", partitions=8).collect())
    assert a == b
    ids = sorted(r[-1] for r in a)
    assert ids == list(range(78, 78 + len(rows)))


def test_assign_dense_ids_scalable_no_batch_cardinality_window(spark):
    """Scale guard (the shared tests/plan_guards.py walker, same
    contract as the DSIR threshold form): every unpartitioned Window
    in the scalable plan sits above an Aggregate (the ≤partitions-row
    offsets table), and the per-slice row_number is key-partitioned —
    no batch-cardinality rows pass through a single-task sort."""
    from tests.plan_guards import (
        assert_no_unpartitioned_fullcardinality_window,
    )

    new = spark.createDataFrame([Row(user_id=i % 7, val=float(i))
                                 for i in range(100)])
    existing = spark.createDataFrame([Row(event_id=5, user_id=0,
                                          val=0.0)])
    df = M.assign_dense_ids_scalable(new, existing, "event_id",
                                     partitions=4)
    assert_no_unpartitioned_fullcardinality_window(df)


def test_merge_frames_semantics(spark):
    """MERGE kernel unit check on crafted rows: winning update
    replaces, stale update is ignored, tombstone deletes, stale
    tombstone does not, unmatched tombstone never inserts."""
    from pyspark.sql import Row

    from movie_rec_spark.sources.merge import merge_frames

    t = spark.createDataFrame([
        Row(k=1, v="a", ts=10),   # updated by newer row
        Row(k=2, v="b", ts=10),   # stale update -> kept
        Row(k=3, v="c", ts=10),   # tombstone -> deleted
        Row(k=4, v="d", ts=10),   # stale tombstone -> kept
        Row(k=5, v="e", ts=10),   # untouched
    ])
    u = spark.createDataFrame(
        [(1, "A", 11, False), (2, "B", 9, False), (3, None, 11, True),
         (4, None, 9, True), (6, "F", 11, False), (7, None, 11, True)],
        "k bigint, v string, ts bigint, _deleted boolean")
    got = {r.k: (r.v, r.ts)
           for r in merge_frames(t, u, keys=["k"], ts_col="ts").collect()}
    assert got == {1: ("A", 11), 2: ("b", 10), 4: ("d", 10),
                   5: ("e", 10), 6: ("F", 11)}


def test_snapshot_diff_classifies_all_four_states(spark):
    """added/removed/changed/unchanged classification with null-safe
    value comparison (NULL == NULL is unchanged, NULL vs value is
    changed)."""
    from movie_rec_spark.operators.mutation import snapshot_diff
    old = spark.createDataFrame(
        [(1, 10, None), (2, 20, "x"), (3, 30, None), (4, 40, "y")],
        "k bigint, v int, s string")
    new = spark.createDataFrame(
        [(1, 10, None), (2, 21, "x"), (4, 40, None), (5, 50, "z")],
        "k bigint, v int, s string")
    out = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "changed", 5: "added"}


def test_snapshot_diff_refuses_schema_drift(spark):
    """A column present on one side only would silently hide its
    changes — the kernel must refuse, like snapshot_merge does."""
    import pytest
    from movie_rec_spark.operators.mutation import snapshot_diff
    old = spark.createDataFrame([(1, 10)], "k bigint, v int")
    new = spark.createDataFrame([(1, 10, 5)], "k bigint, v int, w int")
    with pytest.raises(ValueError, match="column sets differ"):
        snapshot_diff(old, new, ["k"])


def test_incremental_view_apply_edges(spark):
    """Delta application handles: a row moving BETWEEN groups, a group
    dropping to zero rows (removed from the view), and a brand-new
    group appearing — and matches a full recompute exactly."""
    from movie_rec_spark.operators.mutation import (
        incremental_view_apply,
        snapshot_diff,
    )

    schema = "event_id bigint, user_id bigint, v bigint"
    v1 = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 7), (3, 20, 100)], schema)
    v2 = spark.createDataFrame(
        [(1, 30, 5),            # row 1 MOVED group 10 → 30
         (2, 10, 9),            # row 2 value changed
                                # row 3 removed → group 20 vanishes
         (4, 40, 1)], schema)   # new row, new group
    view = v1.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    feed = (snapshot_diff(v1, v2, keys=["event_id"])
            .filter(F.col("status") != "unchanged"))
    got = {r.user_id: (r.n, r.s)
           for r in incremental_view_apply(
               view, feed, ["user_id"], "n", {"s": "v"}).collect()}
    want = {r.user_id: (r.n, r.s)
            for r in v2.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s")).collect()}
    assert got == want
    assert 20 not in got and got[30] == (1, 5) and got[40] == (1, 1)


def test_incremental_view_unchanged_feed_is_noop(spark):
    from movie_rec_spark.operators.mutation import (
        incremental_view_apply,
        snapshot_diff,
    )

    schema = "event_id bigint, user_id bigint, v bigint"
    v1 = spark.createDataFrame([(1, 10, 5), (2, 20, 7)], schema)
    view = v1.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    # UNFILTERED feed of an identical table: all-unchanged rows must
    # aggregate to zero delta
    feed = snapshot_diff(v1, v1, keys=["event_id"])
    got = {r.user_id: (r.n, r.s)
           for r in incremental_view_apply(
               view, feed, ["user_id"], "n", {"s": "v"}).collect()}
    assert got == {10: (1, 5), 20: (1, 7)}
