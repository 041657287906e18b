"""Storage-layout proofs: bucketed joins need no Exchange; partitioned
layouts prune directories at planning time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_rec_spark.plans import (
    count_exchanges,
    partition_filters,
    scanned_bucketed,
)
from movie_rec_spark.sources.catalog import load_table
from movie_rec_spark.sources.layout import (
    write_bucketed,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    write_bucketed(
        load_table(spark, SF, "orders"), "t_orders_b",
        "o_orderkey", 8, sort_col="o_orderkey")
    write_bucketed(
        load_table(spark, SF, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"),
        "t_lineitem_b", "o_orderkey", 8, sort_col="o_orderkey")
    yield "t_orders_b", "t_lineitem_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


@pytest.fixture()
def no_broadcast(spark):
    """At test scale everything fits the broadcast threshold, which
    (correctly) beats bucketing; disable it to exercise the layout the
    way a 100 TB fact-fact join would."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    ot, lt = bucketed_tables
    joined = spark.table(lt).join(spark.table(ot), "o_orderkey")
    assert scanned_bucketed(joined)
    assert count_exchanges(joined) == 0, (
        "bucketed co-located join must not shuffle")
    # and it computes the same rows as the shuffled join
    plain = (
        load_table(spark, SF, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey")
        .join(load_table(spark, SF, "orders"), "o_orderkey")
    )
    assert joined.count() == plain.count()


def test_bucketed_agg_has_no_exchange(spark, bucketed_tables, no_broadcast):
    ot, _ = bucketed_tables
    agg = spark.table(ot).groupBy("o_orderkey").agg(
        F.sum("o_totalprice").alias("s"))
    assert count_exchanges(agg) == 0, (
        "groupBy on the bucket key must reuse the bucketed distribution")


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "events_by_type")
    write_partitioned(
        load_table(spark, SF, "events"), path, "event_type")
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    pf = partition_filters(df)
    assert pf and any("purchase" in f for f in pf), (
        f"expected a planning-time partition filter, got {pf!r}")
    got = df.count()
    want = (load_table(spark, SF, "events")
            .filter(F.col("event_type") == "purchase").count())
    assert got == want


def test_bucketed_catalog_drops_agg_exchange(spark):
    """The top-movies plan over the maintained bucketed lineitem
    (bucketed on the grouping key l_partkey) loses the aggregation
    Exchange the parquet path needs, and the rows are identical —
    layout must never change the answer."""
    from movie_rec_spark.operators.relational import top_movies_plan
    from movie_rec_spark.plans import count_exchanges, scanned_bucketed
    from movie_rec_spark.sources.layout import bucketed_table

    part = load_table(spark, SF, "part")
    plain = top_movies_plan(load_table(spark, SF, "lineitem"), part)
    li_b = bucketed_table(spark, SF, "lineitem", "l_partkey", 8)
    buck = top_movies_plan(li_b, part)
    assert scanned_bucketed(buck)
    assert count_exchanges(buck) < count_exchanges(plain), (
        f"bucketed plan must drop the groupBy Exchange: "
        f"{count_exchanges(buck)} vs {count_exchanges(plain)}")
    assert [tuple(r) for r in buck.collect()] == \
        [tuple(r) for r in plain.collect()]


def test_bucketed_catalog_reregisters_without_rewrite(spark):
    """A fresh session (no table metadata) finds the finished files and
    re-registers via DDL instead of rewriting: the parquet part files
    must be byte-identical (same inodes untouched) after re-entry."""
    import glob
    import os

    from movie_rec_spark.sources.layout import bucketed_table

    bucketed_table(spark, SF, "lineitem", "l_partkey", 8)
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir").removeprefix("file:")
    loc = glob.glob(os.path.join(warehouse, "mrs_b_lineitem_l_partkey_8_*"))
    assert loc, "bucketed table location missing"
    before = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(loc[0], "*.parquet"))}
    assert before
    # simulate the fresh-session path: drop ONLY the metadata
    name = os.path.basename(loc[0])
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # DROP TABLE on an external table keeps files; re-entry must
    # re-register, not rewrite
    df = bucketed_table(spark, SF, "lineitem", "l_partkey", 8)
    assert df.count() > 0
    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(loc[0], "*.parquet"))}
    assert after == before, "re-registration must not rewrite data files"


def test_cobucketed_fact_join_drops_exchanges_and_sorts(
        spark, no_broadcast):
    """q_bucketed_join's layout: both facts co-bucketed AND sorted on
    the order key, so the fact-fact sort-merge join needs neither an
    Exchange nor a Sort before the zip; the raw-table twin needs both.
    Rows identical — layout must never change the answer."""
    from movie_rec_spark.operators.relational import (
        order_priority_revenue,
    )
    from movie_rec_spark.plans import count_exchanges, physical_plan
    from movie_rec_spark.sources.layout import bucketed_table

    plain = order_priority_revenue(
        load_table(spark, SF, "lineitem"), load_table(spark, SF, "orders"))
    buck = order_priority_revenue(
        bucketed_table(spark, SF, "lineitem", "l_orderkey", 8,
                       sort_col="l_orderkey"),
        bucketed_table(spark, SF, "orders", "o_orderkey", 8,
                       sort_col="o_orderkey"))
    # one Exchange remains (the 5-key priority agg); the join's two
    # fact shuffles are gone
    assert count_exchanges(buck) <= 1 < count_exchanges(plain)
    # The SMJ's Sort nodes remain by default: since SPARK-28632 the
    # scan only advertises bucket-sortedness under
    # spark.sql.legacy.bucketedTableScan.outputOrdering (one file per
    # bucket isn't guaranteed in general — our writer does guarantee
    # it, so the flag is a safe opt-in here). Even unflagged, the Sort
    # is per-partition over already-sorted runs — no shuffle, and
    # TimSort-style merges on sorted input — so the Exchange win is
    # the one that matters. Prove the opt-in removes the Sort too:
    old = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        buck2 = order_priority_revenue(
            bucketed_table(spark, SF, "lineitem", "l_orderkey", 8,
                           sort_col="l_orderkey"),
            bucketed_table(spark, SF, "orders", "o_orderkey", 8,
                           sort_col="o_orderkey"))
        join_part = physical_plan(buck2).split("SortMergeJoin")[-1]
        assert "Sort " not in join_part
    finally:
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", old)
    assert sorted(map(tuple, buck.collect())) == \
        sorted(map(tuple, plain.collect()))
