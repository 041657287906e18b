"""As-of join (temporal.py), salted aggregation (skew.py), and the
grouping-set / approx queries added to relational.py.

The as-of semantics cases (inclusive tie, no-prior-snapshot NULL,
latest-of-several) use tiny hand-written frames; the salted operators
are property-checked for equivalence with their unsalted counterparts.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from movie_rec_spark.operators import relational as R
from movie_rec_spark.operators import skew as SK
from movie_rec_spark.operators.temporal import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny_asof(spark):
    events = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-05T00:00:00")),   # after snap@3 -> 100
            (2, 10, _ts("2024-01-03T00:00:00")),   # == snap@3 (inclusive) -> 100
            (3, 10, _ts("2024-01-02T00:00:00")),   # after snap@1 only -> 50
            (4, 10, _ts("2023-12-31T00:00:00")),   # before all -> NULL
            (5, 20, _ts("2024-01-09T00:00:00")),   # user 20, after snap@8 -> 70
            (6, 30, _ts("2024-01-05T00:00:00")),   # user with no snapshots -> NULL
        ],
        "event_id long, user_id long, ts timestamp",
    )
    snaps = spark.createDataFrame(
        [
            (10, _ts("2024-01-01T00:00:00"), 50, 50.0),
            (10, _ts("2024-01-03T00:00:00"), 100, 100.0),
            (10, _ts("2024-01-03T00:00:00"), 99, 99.0),   # same-ts dupe: max key wins
            (20, _ts("2024-01-08T00:00:00"), 70, 70.0),
        ],
        "user_id long, snap_ts timestamp, o_orderkey long, o_totalprice double",
    )
    return events, snaps


def test_asof_semantics(tiny_asof):
    events, snaps = tiny_asof
    out = asof_join(events, snaps, key="user_id", event_ts="ts",
                    snap_ts="snap_ts", value_cols=["o_orderkey", "o_totalprice"])
    got = {r["event_id"]: r["o_orderkey"] for r in out.collect()}
    assert got == {1: 100, 2: 100, 3: 50, 4: None, 5: 70, 6: None}
    assert out.columns == ["event_id", "user_id", "ts", "o_orderkey", "o_totalprice"]


def test_asof_left_row_preserving(tiny_asof):
    events, snaps = tiny_asof
    out = asof_join(events, snaps, key="user_id", event_ts="ts",
                    snap_ts="snap_ts", value_cols=["o_orderkey"])
    assert out.count() == events.count()


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90% of rows) + a tail — the shape salting exists for.
    rows = [(1, i, float(i % 7)) for i in range(900)]
    rows += [(k, 1000 + k, float(k)) for k in range(2, 30)]
    return spark.createDataFrame(rows, "k long, payload long, v double")


def test_salted_count_equals_groupby(skewed):
    df = skewed
    plain = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["k"]: r["n"] for r in SK.salted_count(df, "k", 4).collect()}
    assert salted == plain


def test_salt_actually_spreads_hot_key(skewed):
    df = skewed
    n_buckets = (SK.with_salt(df, 4).filter(F.col("k") == 1)
                 .select("_salt").distinct().count())
    assert n_buckets >= 2


def test_misra_gries_candidates_complete(spark):
    """Any key above the n/capacity threshold must survive the sketch.
    capacity=3 over an 8-partition frame forces real decrement steps;
    the hot keys (count > 60/3 = 20) must all be in the candidate set,
    and the summary union stays within tasks*capacity rows."""
    rows = ([(1,)] * 30 + [(2,)] * 22 + [(3,)] * 2
            + [(k,) for k in range(10, 16)])
    df = spark.createDataFrame(rows, "k long").repartition(8)
    cands = {r.k for r in
             SK.misra_gries_candidates(df, "k", capacity=3).collect()}
    assert {1, 2} <= cands
    assert len(cands) <= 8 * 3


def test_heavy_hitters_exact_counts(spark):
    """q_heavy_hitters returns exactly the keys over n/capacity with
    their EXACT counts — the sketch is a candidate filter only."""
    rows = [(i, dt.datetime(2024, 1, 1), uid, "view", 0.0)
            for i, uid in enumerate([7] * 50 + [8] * 30
                                    + list(range(100, 120)))]
    ev = _ev(spark, rows)
    got = {r.user_id: r.n_occurrences
           for r in SK.q_heavy_hitters(ev, capacity=4).collect()}
    # n=100, threshold count*4 > 100 -> strictly more than 25
    assert got == {7: 50, 8: 30}


def test_rollup_and_cube_shapes(spark):
    li = spark.createDataFrame(
        [("A", "F", 1.0), ("A", "O", 2.0), ("B", "F", 3.0)],
        "l_returnflag string, l_linestatus string, l_quantity double")
    # rollup: 3 leaves + 2 per-flag subtotals + 1 grand total
    assert R.q_rollup(li).count() == 6
    # cube adds the 2 per-status subtotals
    assert R.q_cube(li).count() == 8
    total = (R.q_rollup(li)
             .filter(F.col("l_returnflag").isNull()).collect())
    assert len(total) == 1 and total[0]["sum_qty"] == 6.0 and total[0]["n_rows"] == 3


def test_approx_distinct_within_band(spark):
    orders = spark.range(0, 5000).select(
        (F.col("id") % 637).alias("o_custkey"))
    row = R.q_approx_distinct(orders).collect()[0]
    assert row["exact_users"] == 637
    assert abs(row["approx_users"] - row["exact_users"]) / row["exact_users"] < 0.05


def test_range_join_binned_boundaries(spark):
    import datetime as dt

    from movie_rec_spark.operators.temporal import range_join_binned

    E = dt.datetime(2024, 1, 1)

    def m(minutes):
        return E + dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, 1, m(0)), (2, 1, m(29)), (3, 1, m(30)), (4, 1, m(75)),
         (5, 2, m(10))],
        "event_id long, user_id int, ts timestamp")
    right = spark.createDataFrame(
        [(1, m(0), m(30), 100),   # [0, 30): catches ts 0, 29 — NOT 30
         (1, m(60), m(90), 200),  # [60, 90): catches 75
         (3, m(0), m(30), 300)],  # other key: no match
        "user_id int, win_start timestamp, win_end timestamp, tag int")
    got = sorted(
        (r.event_id, r.tag)
        for r in range_join_binned(
            left, right, key="user_id", left_ts="ts",
            right_start="win_start", right_end="win_end",
            bin_seconds=600,  # bins deliberately smaller than intervals
        ).collect())
    assert got == [(1, 100), (2, 100), (4, 200)]


def test_range_join_binned_subsecond_sliver(spark):
    """An interval end with a sub-second fraction whose truncated second
    is bin-aligned must still match probes in the final sliver: end =
    00:30:00.4 owns probe 00:30:00.2 (ts < end), which lives in a bin
    past floor((unix(end)-1)/bin). Regression for the bin-range bug."""
    import datetime as dt

    from movie_rec_spark.operators.temporal import range_join_binned

    E = dt.datetime(2024, 1, 1)
    end = E + dt.timedelta(minutes=30, microseconds=400_000)
    probe_in = E + dt.timedelta(minutes=30, microseconds=200_000)
    probe_out = E + dt.timedelta(minutes=30, microseconds=600_000)
    left = spark.createDataFrame(
        [(1, 1, probe_in), (2, 1, probe_out)],
        "event_id long, user_id int, ts timestamp")
    right = spark.createDataFrame(
        [(1, E, end, 7)],
        "user_id int, win_start timestamp, win_end timestamp, tag int")
    got = sorted(
        (r.event_id, r.tag)
        for r in range_join_binned(
            left, right, key="user_id", left_ts="ts",
            right_start="win_start", right_end="win_end",
            bin_seconds=600,
        ).collect())
    assert got == [(1, 7)]


def _events(spark, rows):
    """rows: (user_id, event_type, day, value)."""
    return spark.createDataFrame(
        [(u, t, dt.datetime(2024, 1, d, 12, 0, 0), v)
         for u, t, d, v in rows],
        "user_id bigint, event_type string, ts timestamp, value double")


def test_funnel_enforces_step_order(spark):
    """A click BEFORE the user's first view must not convert step 2;
    a full ordered path counts all three steps."""
    from movie_rec_spark.operators.temporal import q_funnel
    ev = _events(spark, [
        (1, "view", 1, 0.0), (1, "click", 2, 0.0), (1, "purchase", 3, 0.0),
        (2, "click", 1, 0.0), (2, "view", 2, 0.0),      # click too early
        (3, "view", 1, 0.0), (3, "purchase", 2, 0.0),   # skipped click
    ])
    out = {r.step: r.n_users for r in q_funnel(ev).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_same_timestamp_counts(spark):
    """Inclusive semantics: a click at exactly the first-view instant
    converts (ts >= t)."""
    from movie_rec_spark.operators.temporal import q_funnel
    ev = _events(spark, [(1, "view", 5, 0.0), (1, "click", 5, 0.0)])
    out = {r.step: r.n_users for r in q_funnel(ev).collect()}
    assert out == {"view": 1, "click": 1, "purchase": 0}


def test_funnel_window_bounds_step_delay(spark):
    """max_delay_days=3: a click 5 days after the first view does NOT
    convert, a click within 3 days does (inclusive boundary), and
    first-touch still holds — user 3's purchase measures from the
    EARLIEST in-window click even though a later click also qualified."""
    from movie_rec_spark.operators.temporal import q_funnel, q_funnel_window
    ev = _events(spark, [
        (1, "view", 1, 0.0), (1, "click", 6, 0.0),   # delay 5d: out
        (2, "view", 1, 0.0), (2, "click", 4, 0.0),   # delay 3d: in
        (3, "view", 1, 0.0), (3, "click", 2, 0.0), (3, "click", 8, 0.0),
        (3, "purchase", 7, 0.0),                     # 5d after first click
    ])
    out = {r.step: r.n_users for r in q_funnel_window(ev).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 0}
    # unbounded funnel converts user 1's late click and user 3's purchase
    unb = {r.step: r.n_users for r in q_funnel(ev).collect()}
    assert unb == {"view": 3, "click": 3, "purchase": 1}


def test_anomaly_flags_spike_against_own_baseline(spark):
    """A 100x spike after a steady per-user baseline flags; the same
    absolute value is NORMAL for a user whose baseline is high
    (per-entity baselines); cold frames (< min_n) and zero-variance
    frames never score."""
    from movie_rec_spark.operators.temporal import q_anomaly
    ev = _events(spark, [
        # user 1: steady 1.0 ± small, then a spike
        (1, "view", 1, 1.0), (1, "view", 2, 1.2), (1, "view", 3, 0.8),
        (1, "view", 4, 1.1), (1, "view", 5, 0.9), (1, "view", 6, 100.0),
        # user 2: 100.0 IS the baseline (with variance), never flags
        (2, "view", 1, 100.0), (2, "view", 2, 101.0), (2, "view", 3, 99.0),
        (2, "view", 4, 100.5), (2, "view", 5, 99.5), (2, "view", 6, 100.0),
        # user 3: constant stream -> zero variance -> no score
        (3, "view", 1, 5.0), (3, "view", 2, 5.0), (3, "view", 3, 5.0),
        (3, "view", 4, 5.0), (3, "view", 5, 5.0), (3, "view", 6, 5.0),
    ]).withColumn("event_id", F.expr("monotonically_increasing_id()"))
    out = [(r.user_id, r.ts.day, r.zscore, r.is_anomaly)
           for r in q_anomaly(ev).collect()]
    flagged = {(u, d) for u, d, _z, a in out if a}
    assert flagged == {(1, 6)}
    # cold start: user 1 days 1-4 have < 5 points in frame -> unscored
    assert all(z is None for u, d, z, _a in out if u == 1 and d <= 4)
    assert all(z is None for u, d, z, _a in out if u == 3)


def test_cohort_offsets_anchor_per_user(spark):
    """offset_weeks floors days-since-first/7 per user (day 8 -> 1);
    repeat activity in the same week collapses to one row per user."""
    from movie_rec_spark.operators.temporal import q_cohort
    ev = _events(spark, [
        (1, "view", 1, 0.0), (1, "view", 2, 0.0),   # offset 0 twice
        (1, "view", 9, 0.0),                         # offset 1
        (2, "view", 3, 0.0), (2, "view", 17, 0.0),  # offsets 0 and 2
    ])
    out = {(str(r.cohort_week), r.offset_weeks): r.n_users
           for r in q_cohort(ev).collect()}
    # 2024-01-01 is a Monday; both users' first dates truncate to it
    assert out == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-01", 2): 1}


def test_rolling_window_time_range_frame(spark):
    """RANGE frame counts by time distance, not row count: events 1, 5,
    and 10 days apart — the 7-day trailing frame holds {a}, {a,b},
    {b,c} respectively (day-10 drops the day-1 event, keeps day-5)."""
    from movie_rec_spark.operators.temporal import q_rolling_window
    ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "view", 1.0),
         (2, 1, dt.datetime(2024, 1, 5), "view", 2.0),
         (3, 1, dt.datetime(2024, 1, 10), "view", 4.0),
         (9, 2, dt.datetime(2024, 1, 10), "view", 8.0)],
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double")
    out = {r.event_id: (r.n_7d, r.value_7d)
           for r in q_rolling_window(ev).collect()}
    assert out == {1: (1, 1.0), 2: (2, 3.0), 3: (2, 6.0), 9: (1, 8.0)}


def test_scd2_islands_and_validity(spark):
    """Consecutive repeats collapse into one version; validity chains
    [valid_from, valid_to) with NULL marking the current version; an
    A->B->A flip produces three versions, not two."""
    from movie_rec_spark.operators.temporal import q_scd2
    ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "A", 0.0),
         (2, 1, dt.datetime(2024, 1, 2), "A", 0.0),
         (3, 1, dt.datetime(2024, 1, 3), "B", 0.0),
         (4, 1, dt.datetime(2024, 1, 4), "A", 0.0)],
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double")
    ev = ev.select("event_id", "ts", "user_id", "event_type", "value")
    out = sorted(q_scd2(ev).collect(), key=lambda r: r.version)
    assert [(r.version, r.attr, r.n_events) for r in out] == [
        (1, "A", 2), (2, "B", 1), (3, "A", 1)]
    assert out[0].valid_to == out[1].valid_from == dt.datetime(2024, 1, 3)
    assert out[1].valid_to == out[2].valid_from == dt.datetime(2024, 1, 4)
    assert out[2].valid_to is None


def test_resample_fills_gaps_per_user_span(spark):
    """The spine runs the user's own [first, last] hours inclusive;
    silent hours appear as explicit zero rows flagged gap=True; no
    rows outside the span."""
    from movie_rec_spark.operators.temporal import q_resample
    ev = _events(spark, [
        (1, "view", 1, 1.0),        # jan 1 12:00
        (1, "view", 1, 2.0),        # same hour
    ])
    ev2 = spark.createDataFrame(
        [(9, 1, dt.datetime(2024, 1, 1, 15, 30), "view", 4.0)],
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double")
    ev = ev.unionByName(ev2.select(*ev.columns))
    out = {r.hour.hour: r for r in q_resample(ev).collect()}
    assert sorted(out) == [12, 13, 14, 15]
    assert (out[12].n_events, out[12].total_value, out[12].gap) == (2, 3.0, False)
    assert (out[13].n_events, out[13].gap) == (0, True)
    assert (out[14].n_events, out[14].gap) == (0, True)
    assert (out[15].n_events, out[15].total_value) == (1, 4.0)


def test_spatial_radius_join_matches_naive(spark):
    """Grid blocking must be answer-preserving: pairs straddling cell
    boundaries (candidates only via the 3x3 neighborhood) and pairs
    exactly AT the radius are found; far pairs are not; each pair
    appears exactly once."""
    from itertools import combinations

    from movie_rec_spark.operators.spatial import radius_join

    pts = [(1, 0.5, 0.5), (2, 0.6, 0.5),    # same cell, close
           (3, 0.95, 0.5), (4, 1.05, 0.5),  # adjacent cells, close
           (5, 5.0, 5.0), (6, 6.0, 5.0),    # exactly at radius 1.0
           (7, 50.0, 50.0)]                 # isolated
    df = spark.createDataFrame(pts, "pid bigint, x double, y double")
    got = {(r.pid_a, r.pid_b) for r in radius_join(df).collect()}
    want = {(a[0], b[0]) for a, b in combinations(pts, 2)
            if round((a[1]-b[1])**2 + (a[2]-b[2])**2, 6) <= 1.0}
    assert got == want
    assert (5, 6) in got and (3, 4) in got and \
        all(7 not in p for p in got)


def test_spatial_join_candidate_volume_is_blocked(spark):
    """The blocking claim itself: the joined candidate set (before the
    distance filter) must be far below the quadratic all-pairs count
    for spread-out points."""
    from movie_rec_spark.operators.spatial import event_points, radius_join
    from movie_rec_spark.sources.catalog import load_table

    pts = event_points(load_table(
        spark, "/root/testdata/sf0.01", "events"))
    n = pts.count()
    # count candidates by removing the distance filter: re-run the
    # join at a huge radius bound but same cell size via internals —
    # simplest faithful proxy: candidates = pairs sharing a 3x3 cell
    from pyspark.sql import functions as F2
    cell = 1.0
    p = pts.select("pid",
                   F2.floor(F2.col("x") / cell).alias("cx"),
                   F2.floor(F2.col("y") / cell).alias("cy"))
    a = p.select(F2.col("pid").alias("pa"), "cx", "cy",
                 F2.explode(F2.array(*[
                     F2.struct(F2.lit(dx).alias("dx"),
                               F2.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)]))
                 .alias("o"))
    a = a.select("pa", (F2.col("cx") + F2.col("o.dx")).alias("jx"),
                 (F2.col("cy") + F2.col("o.dy")).alias("jy"))
    b = p.select(F2.col("pid").alias("pb"),
                 F2.col("cx").alias("jx"), F2.col("cy").alias("jy"))
    candidates = (a.join(b, ["jx", "jy"])
                  .filter(F2.col("pa") < F2.col("pb")).count())
    assert candidates < (n * (n - 1) // 2) * 0.01, \
        f"{candidates} candidates vs {n*(n-1)//2} all-pairs"


def test_event_transitions_rows_and_probabilities(spark):
    """The matrix contains exactly the observed adjacent pairs (per
    user, time order), counts them right, and each from-row's
    probabilities sum to 1 (4dp rounding aside)."""
    import datetime as dt
    from collections import Counter
    from movie_rec_spark.operators.temporal import q_event_transitions
    seqs = {1: ["view", "view", "cart", "buy"],
            2: ["view", "cart", "view"],
            3: ["buy"]}  # single event: no transition
    rows = []
    for u, seq in seqs.items():
        for i, et in enumerate(seq):
            rows.append((u * 100 + i, dt.datetime(2024, 1, 1, 0, i),
                         u, et))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    got = {(r.from_type, r.to_type): r for r in
           q_event_transitions(ev).collect()}
    want = Counter()
    for seq in seqs.values():
        for a, b in zip(seq, seq[1:]):
            want[(a, b)] += 1
    assert {k: r.n_pairs for k, r in got.items()} == dict(want)
    by_from = Counter()
    for (a, _), r in got.items():
        by_from[a] += r.pr
    assert all(abs(p - 1.0) < 1e-3 for p in by_from.values())


def test_session_paths_split_on_gap_and_count_duplicates(spark):
    """A gap over the threshold splits the path; identical journeys
    from different users/sessions collapse into one counted row; path
    order follows (ts, event_id) within the session."""
    import datetime as dt
    from movie_rec_spark.operators.temporal import q_session_paths
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: view>click, then a 31-min gap, then view>click again
    for k, off in enumerate([0, 60, 31 * 60 + 60, 31 * 60 + 120]):
        rows.append((k, base + dt.timedelta(seconds=off), 1,
                     "view" if k % 2 == 0 else "click"))
    # user 2: one view>click session
    rows += [(10, base, 2, "view"),
             (11, base + dt.timedelta(seconds=60), 2, "click")]
    # user 3: same-timestamp pair -> event_id breaks the tie
    rows += [(21, base, 3, "buy"), (20, base, 3, "cart")]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    got = {r.path: r for r in q_session_paths(ev).collect()}
    assert got["view>click"].n_sessions == 3
    assert got["view>click"].path_len == 2
    assert got["cart>buy"].n_sessions == 1  # id 20 (cart) sorts first


def test_ab_test_detects_a_planted_arm_difference(spark):
    """Arm B's values are shifted up by a constant; the z-test must
    flag significance with z > 0, and the means must be exact."""
    import datetime as dt
    from movie_rec_spark.operators.temporal import q_ab_test
    rows = []
    for u in range(40):
        for i in range(50):
            v = 10.0 + (i % 7) + (5.0 if u % 2 == 1 else 0.0)
            rows.append((u * 1000 + i, dt.datetime(2024, 1, 1), u,
                         "view", v))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    r = q_ab_test(ev).collect()[0]
    assert r.n_a == r.n_b == 1000
    assert abs(r.mean_b - r.mean_a - 5.0) < 1e-9
    assert r.z_score > 1.96 and bool(r.significant)


def _ev(spark, rows):
    """(event_id, ts, user_id, event_type, value) -> events frame."""
    return spark.createDataFrame(
        [(i, t, u, e, float(v), "{}") for (i, t, u, e, v) in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")


def test_attribution_last_touch_lookback_and_direct(spark):
    """Purchase credits the latest strictly-prior touch of its user;
    stale (> lookback) and touchless purchases fall to 'direct';
    a later purchase re-attributes to the touch before IT."""
    from movie_rec_spark.operators.temporal import q_attribution
    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    ev = _ev(spark, [
        (1, s(0), 1, "view", 0),
        (2, s(10), 1, "click", 0),
        (3, s(20), 1, "purchase", 10.0),    # -> click (latest touch)
        (4, s(30), 1, "purchase", 5.0),     # still click (no new touch)
        (5, s(0), 2, "purchase", 7.0),      # no touch -> direct
        (6, s(0), 3, "view", 0),
        (7, s(8 * 24 * 3600), 3, "purchase", 2.0),  # stale -> direct
    ])
    got = {r.channel: (r.n_conversions, r.revenue)
           for r in q_attribution(ev).collect()}
    assert got == {"click": (2, 15.0), "direct": (2, 9.0)}


def test_attribution_same_timestamp_touch_counts(spark):
    """A touch sharing the purchase's timestamp but with a smaller
    event_id is strictly prior under the (ts, event_id) total order."""
    from movie_rec_spark.operators.temporal import q_attribution
    t0 = dt.datetime(2024, 1, 10)
    ev = _ev(spark, [
        (1, t0, 1, "view", 0),
        (2, t0, 1, "purchase", 3.0),        # same ts, later id -> view
    ])
    got = {r.channel: r.n_conversions for r in q_attribution(ev).collect()}
    assert got == {"view": 1}


def test_active_users_window_boundary(spark):
    """WAU counts a user active exactly window-1 days back, not
    window days back; days with no events vanish from the series but
    still receive no phantom rows."""
    from movie_rec_spark.operators.temporal import q_active_users
    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "view", 0),
        (2, dt.datetime(2024, 1, 7), 2, "view", 0),   # day 1+6: u1 in
        (3, dt.datetime(2024, 1, 8), 3, "view", 0),   # day 1+7: u1 out
        (4, dt.datetime(2024, 1, 7), 2, "view", 0),   # dup user-day
    ]
    got = {r.day: (r.dau, r.wau)
           for r in q_active_users(_ev(spark, rows)).collect()}
    assert got == {dt.date(2024, 1, 1): (1, 1),
                   dt.date(2024, 1, 7): (1, 2),
                   dt.date(2024, 1, 8): (1, 2)}


def test_audience_overlap_exact_sets(spark):
    """Users {1,2} view, {2,3} click, {3} buy: view∩click = {2},
    click∩buy = {3}, view∩buy = ∅ (pair absent); Jaccard exact;
    repeat events never inflate memberships."""
    from movie_rec_spark.operators.temporal import q_audience_overlap
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, 1, "view", 0), (2, t0, 2, "view", 0),
            (3, t0, 2, "view", 0),                      # repeat
            (4, t0, 2, "click", 0), (5, t0, 3, "click", 0),
            (6, t0, 3, "buy", 0)]
    got = {(r.type_a, r.type_b): r
           for r in q_audience_overlap(_ev(spark, rows)).collect()}
    assert set(got) == {("click", "view"), ("buy", "click")}
    cv = got[("click", "view")]
    assert (cv.n_shared, cv.n_users_a, cv.n_users_b) == (1, 2, 2)
    assert cv.jaccard == round(1 / 3, 4)
    assert got[("buy", "click")].jaccard == 0.5


def test_twap_weights_by_holding_time(spark):
    """Value 1.00 held 9s then 100.00 held 1s -> TWAP 10.90 (plain AVG
    would say 50.50); the final observation carries zero time; a
    single-event user (no span) is excluded."""
    from movie_rec_spark.operators.temporal import q_twap
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0),
        (2, t0 + dt.timedelta(seconds=9), 1, "view", 100.0),
        (3, t0 + dt.timedelta(seconds=10), 1, "view", 999.0),  # 0-time
        (4, t0, 2, "view", 5.0),                               # lone
    ]
    got = {r.user_id: r for r in q_twap(_ev(spark, rows)).collect()}
    assert set(got) == {1}
    assert got[1].n_intervals == 2
    assert got[1].span_ms == 10_000
    assert got[1].twap == round((100 * 9000 + 10000 * 1000)
                                / 10000 / 100, 4)


def test_trend_recovers_planted_slope(spark):
    """A user spending 1.00 + 0.50/day for 5 days has slope 50
    cents/day, intercept 100 cents; a same-day-only user (den = 0)
    and a below-min-events user are excluded."""
    from movie_rec_spark.operators.temporal import q_trend
    rows = [(i, dt.datetime(2024, 1, 1 + i), 1, "view",
             1.0 + 0.5 * i) for i in range(5)]
    rows += [(10 + i, dt.datetime(2024, 1, 1), 2, "view", 9.9)
             for i in range(5)]                       # 5 events, 1 day
    rows += [(20, dt.datetime(2024, 1, 1), 3, "view", 1.0),
             (21, dt.datetime(2024, 1, 2), 3, "view", 2.0)]  # n < 5
    got = {r.user_id: r for r in q_trend(_ev(spark, rows)).collect()}
    assert set(got) == {1}
    assert got[1].slope_cents_per_day == 50.0
    assert got[1].intercept_cents == 100.0


def test_lag_features_windows_and_argmax(spark):
    """Corpus 'now' = day 40. u1's events on days 1, 20, 40, 40: the
    7d window holds the two day-40 events, the 30d window adds day 20,
    spend sums only windowed cents, days_since_last = 0, and the
    latest event by (ts, event_id) provides last_cents even when two
    events share the final timestamp."""
    from movie_rec_spark.operators.temporal import q_lag_features
    d = lambda n: dt.datetime(2024, 1, 1) + dt.timedelta(days=n - 1)
    rows = [(1, d(1), 1, "view", 7.0),
            (2, d(20), 1, "view", 2.0),
            (3, d(40), 1, "view", 3.0),
            (4, d(40), 1, "view", 4.0),    # same ts, higher event_id
            (5, d(40), 2, "view", 9.0)]
    got = {r.user_id: r for r in
           q_lag_features(_ev(spark, rows)).collect()}
    u1 = got[1]
    assert u1.n_events_7d == 2 and u1.n_events_30d == 3
    assert u1.spend_cents_30d == 200 + 300 + 400
    assert u1.days_since_last == 0
    assert u1.last_cents == 400
    assert got[2].n_events_7d == 1 and got[2].last_cents == 900


def test_new_vs_returning_split(spark):
    """u1 active days 1+2, u2 only day 2: day 1 = 1 new; day 2 = 1 new
    (u2) + 1 returning (u1). Repeat same-day events never double."""
    from movie_rec_spark.operators.temporal import q_new_vs_returning
    rows = [(1, dt.datetime(2024, 1, 1), 1, "view", 0),
            (2, dt.datetime(2024, 1, 1), 1, "view", 0),
            (3, dt.datetime(2024, 1, 2), 1, "view", 0),
            (4, dt.datetime(2024, 1, 2), 2, "view", 0)]
    got = {r.day: (r.new_users, r.returning_users, r.active_users)
           for r in q_new_vs_returning(_ev(spark, rows)).collect()}
    assert got == {dt.date(2024, 1, 1): (1, 0, 1),
                   dt.date(2024, 1, 2): (1, 1, 2)}


def test_seasonal_naive_lag_and_ape(spark):
    """Day 8 forecasts from day 1 (2 events), day 9 from day 2 (4):
    APE is the exact integer ratio; the first week has no
    predecessors and is absent."""
    from movie_rec_spark.operators.temporal import q_seasonal_naive
    rows, eid = [], 0
    for day, n in [(1, 2), (2, 4), (8, 3), (9, 4)]:
        for _ in range(n):
            rows.append((eid, dt.datetime(2024, 1, day), 1, "view", 0))
            eid += 1
    got = {r.d: r for r in
           q_seasonal_naive(_ev(spark, rows)).collect()}
    assert set(got) == {dt.date(2024, 1, 8), dt.date(2024, 1, 9)}
    r8 = got[dt.date(2024, 1, 8)]
    assert (r8.actual, r8.forecast, r8.ape) == (3, 2, round(1 / 3, 4))
    r9 = got[dt.date(2024, 1, 9)]
    assert (r9.actual, r9.forecast, r9.ape) == (4, 4, 0.0)


def test_changepoint_flags_level_shift_day(spark):
    """A clean 2/day -> 6/day shift after day 3 puts the |CUSUM| peak
    on the last low day; the statistic matches the hand formula."""
    from movie_rec_spark.operators.temporal import q_changepoint
    rows, eid = [], 0
    for day, n in [(1, 2), (2, 2), (3, 2), (4, 6), (5, 6), (6, 6)]:
        for _ in range(n):
            rows.append((eid, dt.datetime(2024, 1, day), 1, "view", 0))
            eid += 1
    got = {r.d: r for r in q_changepoint(_ev(spark, rows)).collect()}
    # T=6, N=24; S_3 = 6*6 - 3*24 = -36 is the peak magnitude
    assert got[dt.date(2024, 1, 3)].is_change
    assert got[dt.date(2024, 1, 3)].cusum_scaled == -36
    assert sum(1 for r in got.values() if r.is_change) == 1
    # final day is never the flagged candidate even though S=0 ties
    # can't happen here; its statistic is identically zero
    assert got[dt.date(2024, 1, 6)].cusum_scaled == 0


def test_changepoint_flat_series_flags_earliest(spark):
    """All-zero statistics (no shift) tie-break to the earliest day —
    deterministic, never engine-dependent."""
    from movie_rec_spark.operators.temporal import q_changepoint
    rows = [(i, dt.datetime(2024, 1, 1 + i), 1, "view", 0)
            for i in range(4)]
    got = q_changepoint(_ev(spark, rows)).collect()
    flagged = [r.d for r in got if r.is_change]
    assert flagged == [dt.date(2024, 1, 1)]


def test_rolling_percentiles_window_and_exactness(spark):
    """Each day's percentiles cover the trailing 7 days inclusive:
    day 8 must NOT see day 1's values; the p50 at an exact midpoint
    (even count, adjacent cents) HALF_UP-rounds in the cents domain."""
    from movie_rec_spark.operators.temporal import q_rolling_percentiles
    rows = [(i, dt.datetime(2024, 1, 1), 1, "view", v)
            for i, v in enumerate([10.00, 10.01])]          # p50 = 10.005
    rows += [(10, dt.datetime(2024, 1, 8), 1, "view", 99.0)]
    got = {r.day: r for r in
           q_rolling_percentiles(_ev(spark, rows)).collect()}
    d1, d8 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    # exact .5-cent midpoint rounds HALF_UP to 1001 cents
    assert (got[d1].p50_cents, got[d1].n_events) == (1001, 2)
    # day 8's window is [jan 2, jan 8] — day 1 rows are out of frame
    assert (got[d8].p50_cents, got[d8].n_events) == (9900, 1)
    # only observed days emit (the broadcast day-dimension clip)
    assert set(got) == {d1, d8}


def test_interpolate_linear_midpoints_and_flags(spark):
    """A 3-hour gap between 10.00 and 40.00 interpolates the straight
    line (17.50, 25.00, 32.50); observed hours pass through untouched
    and are flagged interpolated=False."""
    from movie_rec_spark.operators.temporal import q_interpolate
    rows = [(1, dt.datetime(2024, 1, 1, 0), 7, "view", 10.00),
            (2, dt.datetime(2024, 1, 1, 4), 7, "view", 40.00)]
    got = {r.hour.hour: r for r in
           q_interpolate(_ev(spark, rows)).collect()}
    assert [got[h].value for h in range(5)] == \
        [10.00, 17.50, 25.00, 32.50, 40.00]
    assert [got[h].interpolated for h in range(5)] == \
        [False, True, True, True, False]


def test_interpolate_halfup_rational_rounding(spark):
    """The integer identity floor((2n+d)/(2d)) rounds the exact
    rational HALF_UP: a 2-hour gap from 0.01 to 0.02 has midpoint
    1.5 cents -> 2 cents, never banker's-rounded to 0.01."""
    from movie_rec_spark.operators.temporal import q_interpolate
    rows = [(1, dt.datetime(2024, 1, 1, 0), 7, "view", 0.01),
            (2, dt.datetime(2024, 1, 1, 2), 7, "view", 0.02)]
    got = {r.hour.hour: r.value for r in
           q_interpolate(_ev(spark, rows)).collect()}
    assert got[1] == 0.02
