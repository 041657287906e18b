"""Streaming rolling z-score anomaly detection — the custom-stateful
twin of ``operators.temporal.q_anomaly``.

Batch q_anomaly scores each event against its user's trailing
prior-only RANGE frame; serving that same alert online means carrying
each user's trailing window as STATE and scoring events as they
arrive. No built-in streaming window does prior-only per-event scoring
(stream aggregations emit per-window rows, not per-event flags), so
this is exactly the sanctioned ``applyInPandasWithState`` case.

Semantics parity with the batch kernel, tested (test_streaming):
- baseline = the user's events in ``[t − window, t − 1]`` unix seconds
  — PRIOR-ONLY, same-second ties excluded from each other's baselines
  (events of one second score together against state before any of
  them inserts);
- guards identical: fewer than ``min_n`` baseline points or zero
  variance → NULL z, never a flag; z rounds to 2dp BEFORE the
  threshold compare.

``anomaly_stream_eventtime`` makes no ordering assumption: events park
in per-user state until the WATERMARK seals their second, then score in
strict event-time order — batch-exact under ANY arrival order within
the lateness bound, at the cost of watermark-delay alert latency. The
out-of-order parity test drives a late event around younger ones and
still gets the batch kernel's rows.

State is one row per user: the parked buffer plus the scored trailing
window (ts_secs array<long>, vals array<double>), evicted below
``max_seen − window`` each batch, so state size is bounded by each
user's event rate × window — observable via the usual state-store
metrics.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from movie_rec_spark.localdf import local_df

from movie_rec_spark.operators.temporal import (
    ANOMALY_MIN_N,
    ANOMALY_Z_CUT,
    ROLLING_WINDOW_SEC,
)

ANOMALY_OUTPUT = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
    # long, matching batch q_anomaly's F.count exactly — the declared
    # streaming twin shares the batch oracle, so schemas must agree
    StructField("n_win", LongType()),
    StructField("zscore", DoubleType()),
    StructField("is_anomaly", BooleanType()),
])

# per-user state = the UNSCORED buffer (events the watermark has not
# yet sealed) + the scored trailing window
ANOMALY_ET_STATE = StructType([
    StructField("buf_ids", ArrayType(LongType())),
    StructField("buf_us", ArrayType(LongType())),
    StructField("buf_vals", ArrayType(DoubleType())),
    StructField("ts_secs", ArrayType(LongType())),
    StructField("vals", ArrayType(DoubleType())),
])


def _score_group_eventtime(key: tuple, pdfs: Iterable[pd.DataFrame],
                           state: Any) -> Iterator[pd.DataFrame]:
    """Buffer-then-score: arriving events park in per-user state until
    the WATERMARK passes their second (no earlier event can still
    arrive inside the lateness bound), then score in strict ts order
    against the prior-only window — no in-order delivery assumption;
    any arrival order within the watermark yields the batch kernel's
    exact output. The timeout timestamp re-arms to just past the oldest
    buffered second, so a user whose stream goes quiet still flushes
    when the global watermark advances past their buffer."""
    import math
    from bisect import bisect_left

    (user_id,) = key
    if state.exists:
        buf_ids, buf_secs, buf_vals, ts_secs, vals = [
            list(x) for x in state.get]
    else:
        buf_ids, buf_secs, buf_vals, ts_secs, vals = [], [], [], [], []

    if not state.hasTimedOut:
        # .tolist() materializes plain Python ints/floats in one C
        # pass instead of per-element numpy-scalar boxing (r12, guide
        # §4.2) — identical values
        frames = list(pdfs)
        for events in frames:
            if len(events):
                buf_ids += events["event_id"].tolist()
                # park MICROSECONDS so the original ts re-emits
                # exactly; window math floors to seconds on demand
                buf_secs += [x // 1_000
                             for x in events["ts"].astype("int64")
                             .tolist()]
                buf_vals += events["value"].tolist()

    wm_sec = state.getCurrentWatermarkMs() // 1000
    ripe = sorted(
        (us // 1_000_000, us, i, v)
        for i, us, v in zip(buf_ids, buf_secs, buf_vals)
        if us // 1_000_000 <= wm_sec)
    keep = [(i, us, v) for i, us, v in zip(buf_ids, buf_secs, buf_vals)
            if us // 1_000_000 > wm_sec]
    # the scored window stays time-sorted across invocations (ripe is
    # scored ascending; watermark monotonicity keeps new ripe secs >=
    # parked ones), so the prior-only baseline is a CONTIGUOUS slice
    # found by bisect — verified per invocation, with the original
    # O(state) scan as fallback, and the slice preserves element
    # order so the float summation is unchanged (r12)
    sorted_ok = all(ts_secs[i] <= ts_secs[i + 1]
                    for i in range(len(ts_secs) - 1))
    out: dict[str, list] = {f.name: [] for f in ANOMALY_OUTPUT.fields}
    i = 0
    while i < len(ripe):
        sec = ripe[i][0]
        j = i
        while j < len(ripe) and ripe[j][0] == sec:
            j += 1
        if sorted_ok:
            base = vals[bisect_left(ts_secs, sec - ROLLING_WINDOW_SEC):
                        bisect_left(ts_secs, sec)]
        else:
            base = [v for t, v in zip(ts_secs, vals)
                    if sec - ROLLING_WINDOW_SEC <= t <= sec - 1]
        n = len(base)
        z_ok, mu, sd = False, 0.0, 0.0
        if n >= ANOMALY_MIN_N:
            mu = sum(base) / n
            sd = math.sqrt(sum((x - mu) ** 2 for x in base) / n)
            z_ok = sd > 0
        for k in range(i, j):
            _s, us, eid, v = ripe[k]
            # + 0.0 IEEE-normalizes Python round()'s -0.0 to +0.0 —
            # Spark's HALF_UP round never emits -0.0, and the driver's
            # value hash is representation-sensitive
            zk = round((v - mu) / sd, 2) + 0.0 if z_ok else None
            out["event_id"].append(eid)
            out["ts"].append(us)
            out["value"].append(v)
            out["n_win"].append(n)
            out["zscore"].append(zk)
            out["is_anomaly"].append(
                zk is not None and abs(zk) >= ANOMALY_Z_CUT)
        if ts_secs and sec < ts_secs[-1]:
            sorted_ok = False
        for k in range(i, j):
            ts_secs.append(sec)
            vals.append(ripe[k][3])
        i = j
    if ts_secs:
        floor = max(ts_secs) - ROLLING_WINDOW_SEC
        kept2 = [(t, v) for t, v in zip(ts_secs, vals) if t >= floor]
        ts_secs = [t for t, _ in kept2]
        vals = [v for _, v in kept2]
    state.update(([i for i, _us, _v in keep],
                  [us for _i, us, _v in keep],
                  [v for _i, _us, v in keep],
                  ts_secs, vals))
    if keep:  # fire again once the watermark passes the oldest parked sec
        state.setTimeoutTimestamp(
            (min(us // 1_000_000 for _i, us, _v in keep) + 1) * 1000)
    if out["event_id"]:
        import numpy as np

        # numpy-typed columns skip pandas' per-element object
        # sanitize (measured 1.6 ms/frame -> ~50 us); values are
        # bit-identical — us*1000 viewed as datetime64[ns] IS
        # pd.Timestamp(us, unit="us"), and None -> NaN -> Arrow null
        # matches the object-column path (r12, guide §4.2)
        n_out = len(out["event_id"])
        yield pd.DataFrame({
            "event_id": np.asarray(out["event_id"], np.int64),
            "user_id": np.full(n_out, int(user_id), np.int64),
            "ts": (np.asarray(out["ts"], np.int64)
                   * 1000).view("datetime64[ns]"),
            "value": np.asarray(out["value"], np.float64),
            "n_win": np.asarray(out["n_win"], np.int64),
            "zscore": np.asarray(
                [math.nan if z is None else z for z in out["zscore"]],
                np.float64),
            "is_anomaly": np.asarray(out["is_anomaly"], bool),
        })


def anomaly_stream_eventtime(stream: DataFrame,
                             watermark: str = "10 minutes") -> DataFrame:
    """Out-of-order-safe online scorer: watermarked event-time
    buffering + in-order scoring (see _score_group_eventtime)."""
    return (
        stream.select("event_id", "user_id", "ts", "value")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _score_group_eventtime,
            outputStructType=ANOMALY_OUTPUT,
            stateStructType=ANOMALY_ET_STATE,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def q_anomaly_stream_et(events: DataFrame) -> DataFrame:
    """The watermark-buffered online scorer as a DECLARED, oracle-backed
    query: the events table is replayed as a file stream in two
    deliberately out-of-order arrival batches (even event_ids, then odd
    — so every user's odd-id events arrive AFTER younger even-id ones),
    scored by ``anomaly_stream_eventtime``, and the per-event output
    must hash-match batch q_anomaly's DuckDB oracle exactly. A
    far-future sentinel row advances the global watermark past the
    corpus so every real second seals and flushes; the lateness bound
    and sentinel are DERIVED from the input's observed span
    (replay.derive_lateness — fixture-independent, ADVICE r6), which
    is the variant's contract — ANY arrival order within the bound
    reproduces the batch kernel bit-for-bit."""
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
        lambda s: anomaly_stream_eventtime(s,
                                           watermark=f"{wm_days} days"),
        prefix="mrs_anom_et_",
        # Python-stateful scorer: per-(user, batch) work runs in the
        # Python workers, so ask for enough state partitions to spread
        # the groups (half the scheduler parallelism measured best at
        # sf0.1 — the other half is state-commit overhead headroom)
        state_parallelism=max(
            2, spark.sparkContext.defaultParallelism // 2))
    return out.filter(F.col("user_id") >= 0)
