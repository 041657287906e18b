"""Skew mitigation: salted aggregation.

At 100 TB a handful of hot keys can put one shuffle partition hours
behind the rest. Two remedies, in preference order:

1. **AQE skew-join splitting** (``spark.sql.adaptive.skewJoin.enabled``,
   on in session.py): Spark splits oversized join partitions at
   runtime — zero code. This is the default answer for joins.
2. **Salting** (this module): when AQE can't help — skewed
   aggregation keys — spread each hot key over ``n_salts`` sub-keys,
   aggregate partially per (key, salt), then combine per key.

The salt must spread rows WITHIN one key, so it hashes the full row
content (deterministic across task retries — ``rand()`` is not and can
produce wrong results on retry with non-idempotent shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fanout_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Spread an under-partitioned input across the session's cores
    before an expensive fused map chain (guide §2.5 input skew / §2.6
    idle capacity — the q_video_scenes synth-repartition doctrine made
    reusable): a single-file, single-row-group table scans as ONE task
    no matter how many cores the session has, so every per-row codegen
    chain fused onto that scan (per-shingle md5, sliding-window
    fingerprints, codec decodes) runs serially. When the input already
    carries >= defaultParallelism * factor partitions — every real
    table at production scale — the frame is returned UNCHANGED: no
    exchange is added, so the 100 TB plan shape is untouched. Locally
    the explicit NUMBERED repartition survives AQE coalescing (AQE only
    coalesces ENSURE_REQUIREMENTS exchanges), so the downstream map
    work genuinely fans out. The shuffle moves only the columns the
    caller selected — project before calling (guide §2.3)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
               F.lit(n_salts)).cast("int"),
    )


def salted_count(df: DataFrame, key: str, n_salts: int = 8) -> DataFrame:
    """Two-phase skew-proof count per key: partial count on
    (key, salt) — spreading a hot key over n_salts reducers — then the
    cheap final combine on the (now tiny) per-key partials."""
    return (
        with_salt(df, n_salts)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(key)
        .agg(F.sum("_c").alias("n"))
    )


def q_salted_count(events: DataFrame) -> DataFrame:
    """Declared query: per-user event counts via the two-phase salted
    aggregation — oracle-checked against the plain GROUP BY, proving the
    salt is semantics-preserving."""
    return salted_count(events, "user_id", n_salts=8)

HH_CAPACITY = 200   # Misra-Gries summary size -> threshold n/200


def mg_fold(counters: dict, item_counts, capacity: int) -> dict:
    """Fold (item, count) pairs into a Misra-Gries summary IN PLACE —
    the shared kernel of the batch sketch below and the streaming twin
    (streaming/sketch.py). Decrement steps subtract the same amount
    from every counter (min(new count, current min) per batched MG
    step), preserving the classic undercount bound D ≤ n/(capacity+1).
    """
    for item, cnt in item_counts:
        if item in counters:
            counters[item] += int(cnt)
        elif len(counters) < capacity:
            counters[item] = int(cnt)
        else:
            dec = min(int(cnt), min(counters.values()))
            drop = [i for i, c in counters.items() if c <= dec]
            for i in counters:
                counters[i] -= dec
            for i in drop:
                del counters[i]
            rem = int(cnt) - dec
            if rem > 0 and len(counters) < capacity:
                counters[item] = rem
    return counters


def misra_gries_candidates(df: DataFrame, key: str,
                           capacity: int = HH_CAPACITY) -> DataFrame:
    """Per-partition Misra-Gries frequency summaries, merged by key.

    Each task keeps at most ``capacity`` counters regardless of key
    cardinality (the point of the sketch — a plain per-partition
    groupBy holds |distinct-per-partition| keys, unbounded at 100 TB on
    a high-cardinality column). Batches feed the sketch via vectorized
    ``value_counts`` — one counter update per DISTINCT item per Arrow
    batch, not per row. Decrement steps subtract the same amount from
    every counter, preserving the classic bound: a key absent from a
    partition's summary has fewer than n_p/capacity occurrences there,
    so (Agarwal et al., "Mergeable Summaries", PODS'12) any key with
    global count > n/capacity survives in at least one summary — the
    union is a complete candidate set for the n/capacity threshold.

    The merge here is a conservative groupBy-sum (no re-pruning):
    a superset of the properly-merged MG summary, at most
    tasks×capacity rows — negligible, and completeness is what the
    exact second pass needs.
    """
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            mg_fold(counters,
                    pdf[key].dropna().value_counts().items(), capacity)
        if counters:
            yield pd.DataFrame({key: list(counters),
                                "est": list(counters.values())})

    sketched = df.select(key).mapInPandas(
        mg, schema=f"{key} {dict(df.dtypes)[key]}, est long")
    return sketched.groupBy(key).agg(F.sum("est").alias("est"))


def q_heavy_hitters(events: DataFrame,
                    capacity: int = HH_CAPACITY) -> DataFrame:
    """Exact frequent-items query, sketch-accelerated: every user_id
    with more than n/capacity events, with its EXACT count — the
    hot-key detector that feeds this module's salting decisions
    (beyond reference — SURVEY.md §2 note).

    Two passes: (1) Misra-Gries candidates (bounded memory, NO
    corpus-cardinality shuffle — the summary union is ≤ tasks×capacity
    rows); (2) exact recount of the corpus against the BROADCAST
    candidate set, so the only key-shuffle that ever happens carries
    candidate keys alone. The threshold compare stays in integers
    (count·capacity > n) — no division, no float edge.

    At 100 TB this replaces a full-cardinality groupBy (billions of
    distinct keys through the exchange) with a second scan + a
    ≤capacity-key aggregate; scans are cheap, wide shuffles are not.
    The completeness argument lives on misra_gries_candidates.
    """
    cands = F.broadcast(
        misra_gries_candidates(events, "user_id", capacity)
        .select("user_id"))
    total = events.agg(
        F.count(F.lit(1)).alias("n"))
    counted = (
        events.join(cands, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences")))
    return (
        counted.join(F.broadcast(total))
        .where(F.col("n_occurrences") * capacity > F.col("n"))
        .select("user_id", "n_occurrences")
    )
