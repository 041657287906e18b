"""Physical table layout for scale: bucketing + partitioned writes.

At 100 TB the dominant cost of the core joins (lineitem ⋈ orders on
orderkey, ratings ⋈ ratings-shaped facts on user_id) is the shuffle.
Two storage-layout answers, both pure Spark:

- **Bucketing**: ``bucketBy(n, key)`` at write time pre-hashes rows into
  a fixed number of buckets per key. A join of two tables bucketed on
  the join key with compatible bucket counts needs NO Exchange at all —
  tasks zip matching buckets (tests/test_layout.py asserts the
  zero-Exchange plan). Re-used across every downstream join/agg on that
  key, the one-time write cost amortizes exactly like an index.
- **Partitioned writes**: ``partitionBy(col)`` creates a directory per
  value; a filter on that column prunes entire directories at planning
  time (PartitionFilters in the scan, no data read) — the 100 TB answer
  to time-range and category predicates.

Bucket-count sizing: aim for bucket files of 100-200 MB at target scale
(e.g. 100 TB fact / 128 MB ≈ 800 K buckets is too many files; bucket on
top of date partitions instead: buckets × partitions files total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int, sort_col: str | None = None) -> None:
    """Persist ``df`` as a bucketed managed table. ``sortBy`` inside the
    bucket additionally removes the Sort from downstream sort-merge
    joins (zip directly)."""
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, bucket_col))
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def bucketed_table(spark: SparkSession, sf_dir: str, table: str,
                   bucket_col: str, n_buckets: int = 16,
                   sort_col: str | None = None) -> DataFrame:
    """MAINTAINED bucketed copy of a catalog table — the index-like
    layer the reference gets from its PK b-tree indexes
    (movierama_ddl.sql:3,18-19): pay one write, then every downstream
    join/groupBy on ``bucket_col`` skips its Exchange forever.

    The data lives at a deterministic external location keyed by
    (sf_dir, table, bucket_col, n_buckets), so it is built AT MOST ONCE
    per corpus: a fresh session finds the finished files (_SUCCESS) and
    only re-registers the metadata via ``CREATE TABLE ... CLUSTERED
    BY ... LOCATION`` — bucketing info lives in the session catalog,
    not the parquet footers, so the DDL is what tells Spark the layout
    is trustworthy. This is exactly the amortization contract of a
    database index, and why the first bench pass of a *_bucketed query
    pays the build while the min-of-2 reports steady state (same
    declared serving model as q_knn_ivf's built index).
    """
    import hashlib
    import os

    digest = hashlib.md5(
        os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    # sort_col participates in the identity: a sorted layout is a
    # DIFFERENT physical contract (zero-Sort merge zip) than the
    # unsorted one, and must not collide with it on disk
    sfx = f"_s{sort_col}" if sort_col else ""
    name = f"mrs_b_{table}_{bucket_col}_{n_buckets}{sfx}_{digest}"
    if spark.catalog.tableExists(name):
        return spark.table(name)

    from movie_rec_spark.sources.catalog import load_table

    src = load_table(spark, sf_dir, table)
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    path = os.path.join(warehouse, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in src.schema.fields)
        sort = f"SORTED BY ({sort_col})" if sort_col else ""
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({bucket_col}) {sort} "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'")
    else:
        # ONE file per bucket: repartition on the bucket hash so each
        # task owns exactly one bucket — Spark only reports sorted
        # output (and skips the downstream Sort) for single-file
        # buckets; multi-file buckets would demote sortBy to a
        # per-file property the planner can't use.
        from pyspark.sql import functions as F
        w = (src.repartition(n_buckets, F.col(bucket_col))
             .write.mode("overwrite").format("parquet")
             .bucketBy(n_buckets, bucket_col).option("path", path))
        if sort_col:
            w = w.sortBy(sort_col)
        w.saveAsTable(name)
    return spark.table(name)


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """Directory-per-value layout; filters on ``partition_col`` prune at
    planning time (never touch excluded directories)."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)

