"""Streaming ingestion dedup — emit each key's FIRST occurrence only.

The ingestion-dedup stage of a training-data pipeline: upstream
delivery is at-least-once (retries, replayed partitions), downstream
wants exactly-one row per logical key. State per key is a single
first-seen marker, so this is the minimal stateful operator: the
at-scale cost model is |distinct keys| state rows (the regime
analysis of the retired stream_state_scale probe, ``git show
d6b2a7b:tools/stream_state_scale.py``, applies verbatim — state tracks
KEYS, never events).

Two implementations of the same processor:

- ``stream_dedup_first`` — `applyInPandasWithState` (GroupState), the
  API this container fully supports; backs the DECLARED oracle-backed
  q_stream_dedup.
- ``FirstSeenProcessor`` (tests/test_streaming.py) — the SAME logic on
  Spark 4's `transformWithStateInPandas` StatefulProcessor API.
  ENVIRONMENT-BOUND: the TWS Python runner imports google.protobuf,
  which this container does not ship (and installs are forbidden), so
  the TWS twin is `skipif`-gated exactly like the PIL/soundfile codec
  branches (tests/test_codecs.py posture) and runs automatically in
  any image that has protobuf.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEDUP_OUTPUT = StructType([
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("first_event_id", LongType()),
])

# state: the per-type first-seen markers for ONE user — parallel
# arrays (event_type, first_event_id). Keying the GroupState at the
# user level instead of (user, type) is an r12 optimization (guide
# §1.2 via measurement: the applyInPandasWithState wall scales with
# GROUP INVOCATIONS — a no-op stateful replay at sf0.1 cost 8.5 s
# with (user, type) groups vs 4.5 s with user groups — so folding the
# ~5 types/user into one state row cuts per-(group, batch) protocol +
# state-store rows 5x while total state content is unchanged: still
# exactly one marker per logical key).
DEDUP_STATE = StructType([
    StructField("types", ArrayType(StringType())),
    StructField("first_ids", ArrayType(LongType())),
])


def _first_seen(key: tuple, pdfs: Iterable[pd.DataFrame],
                state: Any) -> Iterator[pd.DataFrame]:
    """Emit each (user, type) key's first-arrived event once; suppress
    everything after. Within a micro-batch 'first' is the min event_id
    (a batch has no intra-order); across batches the state marker
    wins. One invocation per USER per batch; the per-type markers live
    together in this user's state row."""
    (user_id,) = key
    if state.exists:
        types, first_ids = state.get
        seen = set(types)
        types, first_ids = list(types), list(first_ids)
    else:
        seen, types, first_ids = set(), [], []

    new: dict[str, int] = {}
    for pdf in pdfs:
        for et, eid in zip(pdf["event_type"], pdf["event_id"]):
            if et in seen:
                continue
            eid = int(eid)
            if et not in new or eid < new[et]:
                new[et] = eid
    if not new:
        return
    out_types = sorted(new)
    for et in out_types:
        types.append(et)
        first_ids.append(new[et])
    state.update((types, first_ids))
    yield pd.DataFrame({
        "user_id": [int(user_id)] * len(out_types),
        "event_type": out_types,
        "first_event_id": [new[et] for et in out_types],
    })


def stream_dedup_first(stream: DataFrame) -> DataFrame:
    """(user_id, event_type)-keyed first-occurrence filter over a
    stream of events, with GroupState keyed per USER (see DEDUP_STATE:
    one state row per user carries its per-type markers — O(1) per
    logical key, 5x fewer group invocations). NoTimeout (ingestion
    dedup keys live as long as the pipeline; production would add a
    TTL timer sized to the upstream's replay horizon)."""
    return (
        stream.select("user_id", "event_type", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _first_seen,
            outputStructType=DEDUP_OUTPUT,
            stateStructType=DEDUP_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def q_stream_dedup(events: DataFrame) -> DataFrame:
    """Declared query: streaming ingestion dedup replayed over the
    events table in FOUR in-order event_id-range micro-batches, with
    the second batch delivered TWICE (the at-least-once simulation —
    q_merge_stream's staging trick applied to a stateful operator).
    Emitted rows are each (user_id, event_type)'s first occurrence.

    ORACLE-EXACT because arrival order is pinned by the staging: the
    batches partition event_id space in increasing ranges, so the
    first-ARRIVED event per key is the globally minimal event_id, and
    the duplicate batch must change nothing — the oracle is the plain
    ``min(event_id) GROUP BY user_id, event_type``. A dedup that ever
    re-emits (state lost, wrong key, duplicate delivery leaking
    through) produces extra rows and fails the row-count check before
    the hash is even compared.

    Scale shape: state is one marker row per distinct key (measured
    regime: state tracks keys, never events — SCALE.md §Round 8);
    the emitted stream is exactly |keys| rows.
    """
    from movie_rec_spark.streaming.replay import replay_file_stream

    schema = "event_id bigint, user_id bigint, event_type string"
    ev = events.select("event_id", "user_id", "event_type")
    n = ev.agg(F.max("event_id")).first()[0] or 0
    cuts = [0, n // 4, n // 2, 3 * n // 4, n + 1]
    batches = [ev.filter((F.col("event_id") >= lo)
                         & (F.col("event_id") < hi))
               for lo, hi in zip(cuts, cuts[1:])]
    batches.insert(2, batches[1])  # batch 2 delivered twice
    spark = events.sparkSession
    out = replay_file_stream(
        batches, schema, stream_dedup_first, prefix="mrs_dedup_",
        # Python-stateful first-seen filter: one 1-row pandas frame per
        # (key, batch) — Python per-group overhead dominates, spread
        # the groups (see replay_file_stream docstring)
        state_parallelism=max(
            2, spark.sparkContext.defaultParallelism // 2))
    return out.orderBy("user_id", "event_type")
