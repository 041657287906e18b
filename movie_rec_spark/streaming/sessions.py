"""Streaming gap-based sessionization.

``session_windows_stream`` has the semantics of the batch
``operators.temporal.q_sessionize`` (session = run of one user's events
with consecutive gaps <= 30 min; a gap strictly over the threshold
splits): ``session_window`` + watermark, Spark's native session
aggregation, so state merge and cleanup are the engine's job.
``q_sessionize_stream`` replays the events table through it out of
order as a declared, oracle-backed query.

State sizing at 100 TB: one open-session row per active user; the
watermark bounds it to users active within the horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rec_spark.localdf import local_df

SESSION_GAP = "30 minutes"


def session_windows_stream(stream: DataFrame,
                           gap: str = SESSION_GAP,
                           watermark: str = "1 hour") -> DataFrame:
    """Watermarked session-window aggregation. Append mode emits a
    session once the watermark passes its close."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end",
                "n_events", "total_value")
    )


def q_sessionize_stream(events: DataFrame) -> DataFrame:
    """The native session_window aggregation as a DECLARED, oracle-backed
    replay: the events table arrives as a file stream in two
    deliberately OUT-OF-ORDER batches (even event_ids, then odd — every
    user's odd-id events land after younger even-id ones), sessionized
    by ``session_windows_stream`` under a lateness bound covering the
    corpus span, and the emitted sessions must hash-match batch
    q_sessionize's DuckDB oracle exactly. A far-future sentinel row
    advances the global watermark past every session close + gap, so
    append mode finalizes and emits ALL sessions — the engine's late
    session-window merge is what's under test: any arrival order within
    the bound reproduces the batch answer.

    The lateness bound and the sentinel are DERIVED from the input's
    observed [min(ts), max(ts)] span (one tiny agg before the replay,
    the cost of fixture independence): the watermark delay must exceed
    the full span (batch 2 can be span-late relative to batch 1's
    max), and the sentinel must sit past max(ts) + gap + delay so the
    final watermark closes every session. Hardcoded literals here
    ('45 days', a 2024-06-01 sentinel) would silently late-drop events
    if the fixture were regenerated with a longer span or a different
    epoch.
    """
    from movie_rec_spark.streaming.replay import (
        derive_lateness,
        replay_file_stream,
    )

    spark = events.sparkSession
    schema = ("event_id bigint, user_id bigint, ts timestamp, "
              "value double")
    ev = events.select("event_id", "user_id", "ts", "value")
    wm_days, sentinel = derive_lateness(events)
    batches = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        local_df(spark, [(-1, -1, sentinel, 0.0)], schema),
    ]
    out = replay_file_stream(
        batches, schema,
        lambda s: session_windows_stream(
            s.select("user_id", "ts", "value"),
            watermark=f"{wm_days} days"),
        prefix="mrs_sess_et_")
    return out.filter(F.col("user_id") >= 0)
