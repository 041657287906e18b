"""Structured Streaming layer — live counters + incremental stats.

Reference behavior (SURVEY.md §2.10): a lambda-style design — periodic
batch recompute (15/30 min APScheduler, app/__init__.py:51-54) plus live
Redis INCR/DECR counters on writes (controller.py:128,146,174). Here both
collapse into Structured Streaming:

- T3 live counters → streaming groupBy over the event stream.
- T2 incremental stats → the same agg in update mode, or foreachBatch
  merging into a stats table.
- T1's 15-min cadence → ``trigger(processingTime='15 minutes')``; tests
  use ``availableNow`` (process-everything-then-stop).

The reference has no late-data concept (Redis INCR is order-insensitive),
so the watermark is state-hygiene policy, ours to define (§2.10 T3): 1
hour of event-time lateness bounds state for windowed aggs. Unbounded
per-user counters (§7.3 item 5) are kept in `update` output mode where
state is one row per key — at 100 TB keys, shard by user_id range or
age out via the windowed form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

WATERMARK = "1 hour"

# CDC stream schema: events plus op = +1 (insert) / -1 (delete tombstone)
CDC_SCHEMA = StructType(
    EVENT_SCHEMA.fields + [StructField("op", LongType())])


def read_event_stream(spark: SparkSession, src_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of event parquet files.
    In production this is Kafka/Kinesis; the file source has identical
    semantics (append-only, replayable) for tests."""
    reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def event_counters(stream: DataFrame) -> DataFrame:
    """T3/M4: per-user live counters (n_ratings_{uid} analogue,
    controller.py:127-128). Update-mode streaming agg — state is one row
    per user; partial aggregation happens map-side per micro-batch."""
    return stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


def read_cdc_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of CDC rows (events + ``op``). Production is a
    Kafka topic carrying inserts and delete tombstones; the file source
    has the same append-only replayable semantics for tests."""
    return spark.readStream.schema(CDC_SCHEMA).format("parquet").load(src_dir)


def event_counters_cdc(stream: DataFrame, op_col: str = "op") -> DataFrame:
    """M4 INCR **and DECR** parity: live counters over a CDC stream whose
    rows carry op = +1 (insert) or -1 (delete tombstone).

    The reference decrements its Redis counters when a rating is deleted
    (controller.py:146,174); the streaming-native equivalent is a SIGNED
    aggregation — sum(op) / sum(op·value) — so a tombstone retracts its
    row's contribution and counter state always equals the batch recount
    of surviving events (pinned by test). Update output mode, one state
    row per user; a fully-deleted user converges to n_events = 0, the
    same observable state as a Redis key DECRed back to zero. A
    production sink is foreachBatch merging each micro-batch's changed
    rows into a snapshot table (``lakehouse.merge_stream_snapshot``).
    """
    sign = F.col(op_col).cast("long")
    return stream.groupBy("user_id").agg(
        F.sum(sign).alias("n_events"),
        F.sum(sign * F.col("value")).alias("total_value"),
    )


def windowed_counters(stream: DataFrame,
                      window: str = "1 hour",
                      watermark: str = WATERMARK) -> DataFrame:
    """Tumbling-window per-type counts with a watermark: the
    state-bounded form — Spark drops window state older than the
    watermark, so state size tracks the window span, not history."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n_events",
        )
    )


def incremental_stats(stream: DataFrame) -> DataFrame:
    """T2: the movie-stats aggregation (statistics.py:19-35) as an
    incremental streaming agg — count/avg per key in update mode
    replaces the 30-min full recompute."""
    return (
        stream.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.avg("value").alias("avg_value"),
        )
    )


def run_counters_batchwise(spark: SparkSession, src_dir: str,
                           checkpoint_dir: str,
                           sink_table: str = "live_counters") -> None:
    """Drive the counters stream with availableNow (process all pending
    input, then stop) into an in-memory sink — the test/CI harness for
    the streaming path; swap trigger+sink for production."""
    q = (
        event_counters(read_event_stream(spark, src_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_with_foreach_batch(spark: SparkSession, src_dir: str,
                           checkpoint_dir: str, apply_fn) -> None:
    """T1's scheduled-recompute hook as foreachBatch: ``apply_fn(df,
    batch_id)`` receives each micro-batch (e.g. to MERGE into a gold
    table / retrain — estimator.py:104-116's job body)."""
    q = (
        read_event_stream(spark, src_dir)
        .writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
