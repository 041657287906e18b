"""Mutation layer — CRUD semantics as batch table-maintenance transforms.

The reference mutates Postgres rows transactionally (SURVEY.md §2.9);
a lakehouse engine reproduces the same end states as pure transforms over
append-only logs: latest-wins upsert (M2), anti-join delete (M3),
implicit-value fill (M5), and dense id assignment (M1). Concurrent-writer
semantics deliberately differ from PG row locks (SURVEY.md §7.3 item 4).

All builders are pure DataFrame → DataFrame so they compose with the
streaming layer's foreachBatch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_VALUE = 3.5  # reference DEFAULT_RATING, web/config.py:25


def upsert_latest(events: DataFrame,
                  keys: Sequence[str] = ("user_id", "event_type"),
                  ts_col: str = "ts",
                  tiebreak_col: str = "event_id") -> DataFrame:
    """M2 latest-wins upsert: one surviving row per key, newest ``ts``
    wins, unique ``tiebreak_col`` makes the survivor deterministic
    (reference ``session.merge`` on the (user_id, movie_id) PK,
    controller.py:124).

    Shuffles once on the key; Spark ≥3.5's WindowGroupLimit turns the
    rn=1 filter into a per-partition top-1 (no full sort of big groups).
    """
    w = Window.partitionBy(*keys).orderBy(F.desc(ts_col), F.desc(tiebreak_col))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delete_by_key(table: DataFrame, tombstones: DataFrame,
                  keys: Sequence[str]) -> DataFrame:
    """M3 delete-by-key as a left_anti rewrite (controller.py:41-42,142-143).
    The tombstone side is usually tiny → broadcast."""
    return table.join(F.broadcast(tombstones.select(*keys).distinct()),
                      list(keys), "left_anti")


def q_upsert_latest(events: DataFrame) -> DataFrame:
    """Declared query: latest event per (user_id, event_type)."""
    return upsert_latest(events).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )


def q_delete_antijoin(events: DataFrame) -> DataFrame:
    """Declared query: composite-key delete — drop every event of a
    (user, day) that logged an 'error' that day (M3 over a derived
    tombstone set)."""
    tomb = (
        events.filter(F.col("event_type") == "error")
        .select("user_id", F.to_date("ts").alias("event_day"))
        .distinct()
    )
    keyed = events.withColumn("event_day", F.to_date("ts"))
    return delete_by_key(keyed, tomb, ("user_id", "event_day")).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )


def q_implicit_fill(events: DataFrame) -> DataFrame:
    """M5 implicit-rating rule: a 'view' (watched-without-rating analogue)
    gets value := coalesce(user's avg purchase value, 3.5)
    (controller.py:156-171, README.md:37-40).

    Left-outer join to the per-user stats (small agg → broadcast) then
    coalesce — exactly the reference's Redis-avg-else-default lookup (F8).

    The average is computed in integer cents with explicit HALF_UP —
    ``(2·S + n) DIV (2·n)`` — because ``round(avg(double), 2)`` is NOT
    engine-deterministic: float summation order differs (Spark partial
    sums vs sequential), and 2-decimal sums divided by n land exactly
    on .xx5 boundaries where even decimal-typed division semantics
    disagree across engines (observed: 79/19941 rows at sf0.1).
    Integer arithmetic on identical inputs is bit-exact everywhere.
    """
    stats = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("_s"),
            F.count("value").alias("_n"),
        )
        .select(
            "user_id",
            (F.expr("(2 * _s + _n) DIV (2 * _n)") / F.lit(100.0))
            .alias("avg_purchase"),
        )
    )
    return (
        events.filter(F.col("event_type") == "view")
        .join(F.broadcast(stats), "user_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("avg_purchase"), F.lit(DEFAULT_VALUE)).alias("implied_value"),
        )
    )


def append_events(existing: DataFrame, new_rows: DataFrame,
                  id_col: str = "event_id",
                  ts_col: str = "ingested_at",
                  clock: F.Column | None = None) -> DataFrame:
    """M1+F7 event-append write path: stamp each incoming row with the
    server-side ingestion timestamp and a dense sequence id, ready to
    union/append to the event log.

    F7: the default ``clock`` is ``F.current_timestamp()`` — the batch
    analogue of the reference stamping ``datetime.utcnow()`` on insert
    (controller.py:121,168, models.py:13-15). Spark evaluates
    current_timestamp once per QUERY, so every row of one append batch
    gets the identical stamp — the same property a transactional insert
    gives the reference. Tests inject a literal clock for determinism;
    production takes the default.
    """
    stamp = F.current_timestamp() if clock is None else clock
    stamped = new_rows.withColumn(ts_col, stamp.cast("timestamp"))
    return assign_dense_ids(stamped, existing, id_col)


def assign_dense_ids(new_rows: DataFrame, existing: DataFrame,
                     id_col: str) -> DataFrame:
    """M1 serial-id assignment: ids continue from max(existing)+1
    (PG sequence semantics, prepare_dataset.py:185-193 / controller.py:23-32).

    ``monotonically_increasing_id`` is unsuitable (sparse); instead a
    window row_number over an arbitrary-but-deterministic order, offset by
    the current max. The max() is a cheap single-column agg; the window is
    a single global sort of ONLY the new batch (small by construction).
    """
    base = existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m"))
    w = Window.orderBy(*[F.col(c) for c in new_rows.columns])
    return (
        new_rows.withColumn("_rn", F.row_number().over(w))
        .crossJoin(F.broadcast(base))
        .withColumn(id_col, (F.col("m") + F.col("_rn")).cast("bigint"))
        .drop("_rn", "m")
    )


def assign_dense_ids_scalable(new_rows: DataFrame, existing: DataFrame,
                              id_col: str,
                              partitions: int | None = None) -> DataFrame:
    """M1 serial-id assignment at BATCH scale — the same ids as
    ``assign_dense_ids`` (rank in the all-columns total order, offset
    by max(existing)+1; property-tested identical) without its
    single-task global window, which is batch-sized and fine for the
    reference's insert sizes but a 100×-batch scale-killer.

    zipWithIndex semantics in DataFrame terms, two passes:

    1. range-repartition the batch on ALL columns (so physical
       partitions are contiguous slices of the total order) and count
       rows per partition — the counts table is ≤``partitions`` rows;
       its cumulative offsets come from a window over THAT table, never
       over batch rows;
    2. rank within each partition (a window PARTITIONED by the range
       bucket id — per-task work is one partition's slice, bounded by
       batch/partitions) and add offset + max(existing) map-side.

    Equal full rows are interchangeable under any total order, so the
    (row → id) multiset is identical to the window form's even though
    range boundaries are sampled. Cost: two batch-row Exchanges (range
    + the pid hash) and one tiny agg — no stage ever holds more than
    one slice.

    NULL ordering: Spark sorts ASC NULLS FIRST, so a cross-engine
    oracle for this operator must pin ``NULLS FIRST`` on every ORDER BY
    key (DuckDB defaults to NULLS LAST) — q_assign_ids' oracle does.
    """
    cols = list(new_rows.columns)
    if partitions is None:
        partitions = int(new_rows.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    srt = (new_rows.repartitionByRange(partitions, *cols)
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=False))
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = (srt.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
            .select("_pid",
                    F.coalesce(F.sum("_c").over(w_off), F.lit(0))
                    .alias("_off")))
    base = existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m"))
    w_loc = Window.partitionBy("_pid").orderBy(
        *[F.col(c) for c in cols])
    return (
        srt.withColumn("_rn", F.row_number().over(w_loc))
        .join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(base))
        .withColumn(id_col,
                    (F.col("m") + F.col("_off") + F.col("_rn"))
                    .cast("bigint"))
        .drop("_pid", "_rn", "_off", "m")
    )


def q_assign_ids(events: DataFrame) -> DataFrame:
    """Declared M1 query (r10): sequence-id assignment in statement
    form — the even-event_id half of the events table plays the
    resident log (its max id is the sequence cursor, PG semantics per
    prepare_dataset.py:185-193 / controller.py:23-32), the odd half
    plays an incoming id-less batch, and ``assign_dense_ids_scalable``
    stamps dense ids max+1.. in the all-columns total order via the
    two-pass range-partition form — so the DECLARED path is the
    100×-batch shape (no batch-cardinality window; plan-tested), while
    the oracle's global row_number proves the id multiset equals the
    serial form's. Output ordered by event_id (unique by
    construction)."""
    ex = events.filter(F.col("event_id") % 2 == 0).select("event_id")
    new = (events.filter(F.col("event_id") % 2 == 1)
           .select("user_id", "event_type", "value", "ts"))
    return (assign_dense_ids_scalable(new, ex, "event_id")
            .select("event_id", "user_id", "event_type", "value", "ts")
            .orderBy("event_id"))


def q_merge_events(events: DataFrame) -> DataFrame:
    """Declared MERGE query (SURVEY §2.9 M2/M3 in statement form,
    reference analogue ``session.merge`` + delete,
    controller.py:124,142-146): the even-event_id half of the events
    table plays the resident table (latest-wins collapsed per
    (user_id, event_type)), the odd half plays the CDC batch — rows
    whose surviving event_id is divisible by 5 arrive as tombstones —
    and ``sources.merge.merge_frames`` applies
    delete / ts-guarded-update / insert in one statement. Fully
    SQL-expressible (two windowed CTEs + full outer join + CASE), so
    the driver hash-checks the whole MERGE kernel; the IO form
    (``snapshot_merge``, checked end to end by q_merge_snapshot and
    q_merge_stream) adds only partition scoping and an atomic
    manifest commit on top of this exact plan."""
    from movie_rec_spark.sources.merge import merge_frames

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    t = upsert_latest(
        events.filter(F.col("event_id") % 2 == 0)).select(*cols)
    u = (upsert_latest(events.filter(F.col("event_id") % 2 == 1))
         .select(*cols)
         .withColumn("_deleted", F.col("event_id") % 5 == 0))
    return merge_frames(t, u, keys=["user_id", "event_type"],
                        ts_col="ts")


def _snapshot_events_scenario(events: DataFrame, reader) -> DataFrame:
    """Shared scaffold for the declared snapshot-table queries: the
    q_merge_events scenario routed through a REAL manifest-committed
    table (sources/snapshot.py). The even-event_id half (latest-wins
    collapsed) is committed as v1 partitioned by event_type; the odd
    half plays the CDC batch and commits atomically as v2. ``reader``
    receives (spark, path) with both versions published and returns the
    DataFrame under test, which is materialized (localCheckpoint) so
    the scratch table can be removed immediately — repeated bench /
    correctness invocations must not leak a table copy per call."""
    import os
    import shutil

    from movie_rec_spark.scratch import scratch_dir
    from movie_rec_spark.sources.snapshot import (
        snapshot_create,
        snapshot_merge,
    )

    spark = events.sparkSession
    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    t = upsert_latest(
        events.filter(F.col("event_id") % 2 == 0)).select(*cols)
    u = (upsert_latest(events.filter(F.col("event_id") % 2 == 1))
         .select(*cols)
         .withColumn("_deleted", F.col("event_id") % 5 == 0))
    base = scratch_dir("mrs_snap_")
    try:
        path = os.path.join(base, "tbl")
        snapshot_create(spark, path, t, "event_type")
        snapshot_merge(spark, path, u, keys=["user_id", "event_type"],
                       ts_col="ts")
        return reader(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_merge_snapshot(events: DataFrame) -> DataFrame:
    """The SAME merge as q_merge_events, but routed END-TO-END through
    the manifest-committed snapshot table (sources/snapshot.py): the
    resident half is written as snapshot v1 partitioned by event_type,
    the CDC half commits atomically as v2 (snapshot_merge), and the
    result is read back THROUGH the published manifest. Shares
    q_merge_events' oracle — the commit protocol must change the
    durability story, never the answer — so the driver hash-checks the
    full write-commit-read path, not just the kernel."""
    from movie_rec_spark.sources.snapshot import snapshot_read

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    return _snapshot_events_scenario(
        events, lambda s, p: snapshot_read(s, p).select(*cols))


def q_snapshot_asof(events: DataFrame) -> DataFrame:
    """Time travel as a declared, oracle-backed query: after the CDC
    batch commits v2, read the table AS OF v1 through the retained
    manifest — the answer must be exactly the pre-merge resident state
    (the even-half latest-wins collapse), proving the merge rewrote
    partitions without disturbing the files v1 references. Oracle: the
    resident-state CTE alone (no merge applied)."""
    from movie_rec_spark.sources.snapshot import snapshot_read

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    return _snapshot_events_scenario(
        events,
        lambda s, p: snapshot_read(s, p, version=1).select(*cols))


def q_snapshot_cdf(events: DataFrame) -> DataFrame:
    """Version-to-version change-data-feed as a declared, oracle-backed
    query: ``snapshot_changes`` (time travel composed with the
    snapshot_diff kernel, sources/snapshot.py) between v1 and v2 of the
    merge scenario — every row the CDC batch added, removed (tombstone),
    or changed, with old/new values flattened to scalars so the driver
    hash-checks the feed exactly. Unchanged rows are filtered (a change
    feed ships changes). Oracle: the v1 CTE full-outer-joined to the
    merged-state SQL, classifying per column with IS DISTINCT FROM."""
    from movie_rec_spark.sources.snapshot import snapshot_changes

    def read_cdf(s, p):
        d = snapshot_changes(s, p, keys=["user_id", "event_type"],
                             from_version=1, to_version=2)
        return (
            d.filter(F.col("status") != "unchanged")
            .select(
                "user_id", "event_type", "status",
                F.col("_old.event_id").alias("old_event_id"),
                F.col("_old.value").alias("old_value"),
                F.col("_new.event_id").alias("new_event_id"),
                F.col("_new.value").alias("new_value"),
                F.col("_new.ts").alias("new_ts"),
            ))

    return _snapshot_events_scenario(events, read_cdf)


def snapshot_diff(old: DataFrame, new: DataFrame,
                  keys: Sequence[str]) -> DataFrame:
    """Change-data-feed between two table versions: full outer join on
    the key, value columns compared as one struct — rows classify as
    added / removed / changed / unchanged. The generic diff every
    lakehouse uses to publish incremental downstream feeds when the
    table itself is rewritten by batch jobs (the poor-format cousin of
    a transaction log's CDF, but format-agnostic and exact).

    Scale shape: one key-partitioned full-outer exchange per side —
    the same cost class as q_outer_join's reconciliation — and the
    struct equality is a row-local codegen comparison. Null-safe (<=>)
    so value columns containing NULLs compare deterministically.

    Schema discipline (same stance as sources/merge.py): both sides
    must carry the SAME columns — a column present on one side only
    would make its changes invisible to the struct comparison, so the
    kernel refuses instead of silently under-reporting the feed.
    """
    keys = list(keys)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            "snapshot_diff: column sets differ "
            f"(old-only={sorted(set(old.columns) - set(new.columns))}, "
            f"new-only={sorted(set(new.columns) - set(old.columns))}); "
            "align schemas first — a one-sided column would silently "
            "drop its changes from the feed")
    vals_old = [c for c in old.columns if c not in keys]
    o = old.select(*keys, F.struct(*vals_old).alias("_old"))
    n = new.select(*keys, F.struct(*vals_old).alias("_new"))
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_new").isNull(), "removed")
        .when(F.col("_old").isNull(), "added")
        .when(~F.col("_old").eqNullSafe(F.col("_new")), "changed")
        .otherwise("unchanged")
    )
    return joined.select(*keys, status.alias("status"), "_old", "_new")


def q_snapshot_diff(events: DataFrame) -> DataFrame:
    """Declared query: CDF between two deterministic snapshots of the
    per-user activity state — 'old' aggregates the first half of the
    window (events before the midpoint date), 'new' the whole window —
    so the diff publishes exactly which users appeared or changed in
    the second half. Unchanged rows are filtered (a change feed ships
    changes); counts are integers so the comparison is engine-exact.
    """
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"))
    old = snap(events.filter(F.col("ts") < cut))
    new = snap(events)
    d = snapshot_diff(old, new, ["user_id"])
    return (
        d.filter(F.col("status") != "unchanged")
        .select("user_id", "status",
                F.col("_old.n_events").alias("old_n_events"),
                F.col("_new.n_events").alias("new_n_events"),
                F.col("_new.n_types").alias("new_n_types"))
    )


def incremental_view_apply(view: DataFrame, changes: DataFrame,
                           keys: Sequence[str],
                           count_col: str,
                           sums: dict[str, str] | None = None
                           ) -> DataFrame:
    """Maintain a grouped ADDITIVE-aggregate view from a row-level
    change feed (``snapshot_diff`` / ``snapshot_changes`` output)
    without recomputing over the base table — the standard lakehouse
    downstream-view pattern a CDF exists for (Delta's table_changes →
    MERGE into the materialized aggregate; reference analogue: the
    15-minute full recompute of per-movie stats, scheduler.py:7-18,
    which at 100 TB must become exactly this delta application).

    Each change row contributes −(old row) and/or +(new row) to its
    group: 'removed' only subtracts, 'added' only adds, 'changed' does
    both — which also handles a row MOVING between groups (the old and
    new contributions land on different keys). ``count_col`` is the
    view's row count; ``sums`` maps view column → base column summed
    into it. Groups whose count reaches zero are dropped, matching a
    fresh recompute.

    Exactness contract: only additive integer aggregates (counts,
    integer/cents sums) are accepted semantics — those are
    associative/commutative, so delta application is BIT-equal to full
    recompute regardless of order (the declared query hash-proves it
    against a plain GROUP BY oracle). Float sums would drift by
    accumulation order; keep them out of incrementally-maintained
    views (same stance as the integer-cents AVG in q_top_movies).

    Scale shape: one aggregate shuffle over |changes| rows + one
    key-partitioned full-outer join against the view — O(changes +
    view), never O(base). Unchanged-row feeds cost nothing extra
    (they aggregate to zero delta, and a filtered feed skips them
    entirely).
    """
    keys = list(keys)
    sums = dict(sums or {})

    def side(struct: str, sign: int) -> DataFrame:
        return (changes.filter(F.col(struct).isNotNull())
                .select(
                    *[F.col(f"{struct}.{k}").alias(k) for k in keys],
                    F.lit(sign).cast("bigint").alias("_dn"),
                    *[(F.lit(sign) * F.col(f"{struct}.{src}")
                       .cast("bigint")).alias(f"_d_{out}")
                      for out, src in sums.items()]))

    delta = (
        side("_old", -1).unionByName(side("_new", +1))
        .groupBy(*keys)
        .agg(F.sum("_dn").alias("_dn"),
             *[F.sum(f"_d_{out}").alias(f"_d_{out}") for out in sums]))
    zero = F.lit(0).cast("bigint")
    joined = view.join(delta, keys, "full_outer")
    out_cols = [
        (F.coalesce(F.col(count_col), zero)
         + F.coalesce(F.col("_dn"), zero)).alias(count_col),
        *[(F.coalesce(F.col(out), zero)
           + F.coalesce(F.col(f"_d_{out}"), zero)).alias(out)
          for out in sums],
    ]
    return (joined.select(*keys, *out_cols)
            .filter(F.col(count_col) > 0))


def q_incremental_view(events: DataFrame) -> DataFrame:
    """Declared query: incremental maintenance ≡ full recompute,
    hash-exact. Base v1 drops event_ids divisible by 3; base v2 drops
    ids divisible by 7 and doubles the value of ids divisible by 5 —
    so the v1→v2 row-level feed carries all three change kinds (adds,
    removes, value changes). The per-user (n_events, sum_cents) view is
    aggregated ONCE over v1, the feed is applied with
    ``incremental_view_apply``, and the oracle is a plain GROUP BY over
    v2 — the maintained view must match it bit-for-bit without ever
    re-reading v1's rows."""
    cents = F.col("value") * 100
    base = events.select(
        "event_id", "user_id",
        F.round(cents, 0).cast("bigint").alias("v_cents"))
    v1 = base.filter(F.col("event_id") % 3 != 0)
    v2 = (base.filter(F.col("event_id") % 7 != 0)
          .withColumn("v_cents",
                      F.when(F.col("event_id") % 5 == 0,
                             F.col("v_cents") * 2)
                      .otherwise(F.col("v_cents"))))
    view = v1.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_cents").alias("sum_cents"))
    feed = (snapshot_diff(v1, v2, keys=["event_id"])
            .filter(F.col("status") != "unchanged"))
    return incremental_view_apply(
        view, feed, keys=["user_id"],
        count_col="n_events", sums={"sum_cents": "v_cents"})
