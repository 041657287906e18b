"""CDC stream → lakehouse table: Structured Streaming foreachBatch
committing each micro-batch to a manifest-committed snapshot table
(``sources.snapshot.snapshot_merge``).

This is the T-family composition the reference runs as row-at-a-time
ORM writes (controller.py:124,142-146,170: session.merge / delete per
request): a change stream lands as micro-batches, each batch is
collapsed latest-wins per key and MERGEd into the table —
update/delete/insert in one statement, touching only the partitions
present in the batch, published as one atomic version claim.

Correctness under streaming's failure model:
- WITHIN a batch: ``upsert_latest`` collapse (newest ts wins, unique
  tiebreak) makes the merge input key-unique and deterministic.
- ACROSS batches: the merge runs with ``ts_col``, so a re-delivered
  batch or late-arriving older version can never regress a row the
  table already advanced past (WHEN MATCHED AND s.ts >= t.ts).
- On REPLAY of a committed batch id: the manifest's
  ``last_stream_batch_id`` floor skips it outright — exactly-once
  commits, not just idempotent re-application.
- Deletes are CDC tombstones (``_deleted = true``); a tombstone is the
  newest version of its key, so the same ts guard orders it correctly.

The commit summaries go to a driver-side log list (observability hook;
production would emit them to the metrics sink): merge summaries are
O(1) per batch, never row data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rec_spark.operators.mutation import upsert_latest
from movie_rec_spark.sources.merge import DELETED_COL
from movie_rec_spark.sources.snapshot import (
    snapshot_create,
    snapshot_merge,
    snapshot_read,
    snapshot_stream_floor,
)


def merge_batch_snapshot(batch: DataFrame, table_path: str,
                         keys: Sequence[str], ts_col: str,
                         tiebreak_col: str, batch_id: int) -> dict:
    """One micro-batch committed to the MANIFEST table with TRUE
    exactly-once semantics: the snapshot's ``last_stream_batch_id``
    floor (carried through every commit, vacuum-proof) identifies a
    replayed batch, which is SKIPPED rather than re-applied — correct
    even for payload semantics that are not naturally idempotent, and
    the whole batch is one atomic version claim (a crash mid-commit
    publishes nothing; the replay then commits cleanly). Assumes one
    writer stream per table: the floor is keyed to the checkpoint's
    batch-id lineage, so pointing a FRESH checkpoint (ids restarting
    at 0) at an existing table requires a new table. An empty batch
    commits nothing: ``snapshot_merge`` finds it empty in the one
    aggregate it runs anyway and returns zero counts at the current
    version."""
    if batch_id <= snapshot_stream_floor(table_path):
        return {"batch_id": batch_id, "skipped_replay": True}
    collapsed = upsert_latest(batch, keys=keys, ts_col=ts_col,
                              tiebreak_col=tiebreak_col)
    summary = snapshot_merge(batch.sparkSession, table_path, collapsed,
                             keys=keys, ts_col=ts_col,
                             stream_batch_id=batch_id)
    return {"batch_id": batch_id, **summary}


def merge_stream_snapshot(spark: SparkSession, stream: DataFrame,
                          table_path: str, checkpoint_dir: str,
                          keys: Sequence[str], ts_col: str = "ts",
                          tiebreak_col: str = "event_id") -> list[dict]:
    """Drive the CDC stream into a snapshot table with exactly-once
    commits (``merge_batch_snapshot``) and availableNow; returns the
    per-batch summaries including replay skips. ``stream`` rows carry
    the table schema plus optional ``_deleted`` tombstone flags."""
    log: list[dict] = []

    def apply(batch: DataFrame, batch_id: int) -> None:
        log.append(merge_batch_snapshot(
            batch, table_path, keys, ts_col, tiebreak_col, batch_id))

    q = (stream.writeStream.foreachBatch(apply)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return log


def read_change_stream(spark: SparkSession, src_dir: str, schema,
                       max_files_per_trigger: int | None = 1) -> DataFrame:
    """File-source change stream: one parquet file per CDC batch. The
    ``_deleted`` column is optional in the files; absent → all upserts."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = r.parquet(src_dir)
    if DELETED_COL not in df.columns:
        df = df.withColumn(DELETED_COL, F.lit(False))
    return df


def q_merge_stream(events: DataFrame) -> DataFrame:
    """The CDC-stream merge sink as a DECLARED query, proven under
    AT-LEAST-ONCE delivery: the q_merge_events scenario (even half =
    resident snapshot table, odd half = CDC with %5 tombstones) arrives
    as THREE micro-batches of which the first two are THE SAME BATCH
    twice — the duplicate is the point. Each batch has its own batch
    id, so the exactly-once floor does not skip the duplicate:
    foreachBatch applies it through the latest-wins collapse and the
    ts-guarded ``snapshot_merge``, and the table read back through its
    manifest must hash-match the same DuckDB oracle as
    q_merge_events / q_merge_snapshot. Duplicate delivery provably
    cannot change the result (re-merged rows no-op on the ts guard,
    re-delivered tombstones find nothing to delete and insert
    nothing). Batches are key-disjoint (user parity), so each key's
    versions collapse within one batch exactly as the oracle's
    windowed CTE does.
    """
    import os
    import shutil

    from movie_rec_spark.scratch import scratch_dir
    from movie_rec_spark.streaming.replay import stage_batches

    spark = events.sparkSession
    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    t = upsert_latest(
        events.filter(F.col("event_id") % 2 == 0)).select(*cols)
    u = (events.filter(F.col("event_id") % 2 == 1).select(*cols)
         .withColumn("_deleted", F.col("event_id") % 5 == 0))
    b1 = u.filter(F.col("user_id") % 2 == 0)
    b2 = u.filter(F.col("user_id") % 2 == 1)
    # t (even event_ids) and u (odd) are both empty iff events is —
    # probe the BASE SCAN once instead of executing the upsert window
    # + the CDC projection just to test emptiness (r12: two subtree
    # executions → one limit-1 scan job). ASSUMES event_id is non-null
    # (true for the generated events table): rows with null event_id
    # fall out of both parity filters, so an all-null-id frame would
    # wrongly pass this probe and seed a zero-row table.
    if events.isEmpty():
        # empty in, empty out (the totality contract)
        return t
    base = scratch_dir("mrs_mstream_")
    try:
        path = os.path.join(base, "tbl")
        snapshot_create(spark, path, t, "event_type")
        src = stage_batches(os.path.join(base, "src"), [b1, b1, b2])
        # the staged frame's own schema: the table's column types come
        # from the same frame, and snapshot_merge refuses type drift
        merge_stream_snapshot(
            spark, read_change_stream(spark, src, u.schema), path,
            os.path.join(base, "ck"), keys=["user_id", "event_type"],
            ts_col="ts")
        return (snapshot_read(spark, path).select(*cols)
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)
