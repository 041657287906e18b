"""KV sink value encoding (SURVEY.md §2.1 S9-S11).

The reference materializes recs/stats into Redis with pipelined SETs in
chunks of REDIS_CHUNK_SIZE=1000 (estimator.py:81-102, statistics.py:39-60,
web/config.py:21). The Spark-native equivalent is a table write:
``run_pipeline`` publishes the encoded ``rec_kv`` table as parquet, so
only the reference's value encoding lives here — ``u{uid} →
"id;id;..."`` and its decode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def encode_rec_list(recs: DataFrame, n: int = 20) -> DataFrame:
    """S9 value encoding: per-user ';'-joined item list ordered by rank
    (estimator.py:89-91: ``u{uid} → "id;id;..."``) — F5 concat_ws over a
    rank-sorted collect_list."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        recs.filter(F.col("rank") <= n)
        .withColumn("ids", F.collect_list(F.col("item_id").cast("string")).over(w))
        .groupBy("user_id")
        .agg(F.first("ids").alias("ids"))
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("key"),
            F.concat_ws(";", "ids").alias("value"),
        )
    )


def decode_rec_list(kv: DataFrame) -> DataFrame:
    """S11/F4 decode: ``"id;id;..."`` → array<int> rows
    (controller.py:224)."""
    return kv.select(
        F.regexp_replace("key", "^u", "").cast("bigint").alias("user_id"),
        F.split("value", ";").cast("array<int>").alias("item_ids"),
    )
