"""Serving reads over the star tables: Spark jobs per request, answers
that follow a table rewritten in place, and the held answers matching
the plans and point queries they stand for."""

from __future__ import annotations

import shutil
from collections import Counter
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from movie_rec_spark import memo
from movie_rec_spark.operators import relational as R
from movie_rec_spark.sources.catalog import load_table
from spark_jobs import jobs_launched

SF = "/root/testdata/sf0.001"
USER = 7
UNKNOWN = 10**9

READS = {
    # name: (build over a table loader, job budget on a memo hit)
    "q_top_movies": (lambda t: R.q_top_movies(t("lineitem"), t("part")), 0),
    "q_user_latest_ratings": (lambda t: R.q_user_latest_ratings(
        t("orders"), t("customer"), custkey=USER), 0),
    "q_user_top_ratings": (lambda t: R.q_user_top_ratings(
        t("orders"), t("customer"), custkey=USER), 0),
    "q_user_rated_movies": (lambda t: R.q_user_rated_movies(
        t("lineitem"), t("orders"), t("part"), custkey=USER), 0),
    "q_recommend": (lambda t: R.q_recommend(
        t("lineitem"), t("orders"), custkey=USER), 4),
}


# Point-query references: each plans one customer's rows with the
# custkey as a filter literal (the per-request Spark plans the held
# answers replace).
def _ref_orders(orders, customer, custkey, *order):
    o = orders.filter(F.col("o_custkey") == F.lit(custkey))
    c = customer.filter(F.col("c_custkey") == F.lit(custkey)).select(
        "c_custkey", "c_name")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .select("o_orderkey", "c_name", "o_totalprice", "o_orderdate")
        .orderBy(*order)
        .limit(R.TOP_N)
    )


def ref_latest_ratings(orders, customer, custkey):
    return _ref_orders(orders, customer, custkey,
                       F.desc("o_orderdate"), F.desc("o_orderkey"))


def ref_top_ratings(orders, customer, custkey):
    return _ref_orders(orders, customer, custkey, F.desc("o_totalprice"),
                       F.desc("o_orderdate"), F.asc("o_orderkey"))


def ref_rated_movies(lineitem, orders, part, custkey):
    ids = R.user_parts(lineitem, orders, custkey)
    return part.join(F.broadcast(ids), part["p_partkey"] == ids["l_partkey"],
                     "left_semi").select("p_partkey", "p_name", "p_brand")


def _assert_same_answers(orders, customer, lineitem, part, custkeys):
    for ck in custkeys:
        for held, ref in (
                (R.q_user_latest_ratings(orders, customer, ck),
                 ref_latest_ratings(orders, customer, ck)),
                (R.q_user_top_ratings(orders, customer, ck),
                 ref_top_ratings(orders, customer, ck))):
            assert held.schema == ref.schema
            assert held.collect() == ref.collect(), ck
        held = R.q_user_rated_movies(lineitem, orders, part, ck)
        ref = ref_rated_movies(lineitem, orders, part, ck)
        assert held.schema == ref.schema
        assert Counter(held.collect()) == Counter(ref.collect()), ck


def _loader(spark, sf_dir):
    return lambda name: load_table(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(READS))
def test_read_job_budget(spark, name):
    build, budget = READS[name]
    t = _loader(spark, SF)
    build(t).collect()  # fills the memo for this table version
    assert jobs_launched(spark, lambda: build(t).collect()) <= budget


def test_top_movies_answer_matches_its_plan(spark):
    t = _loader(spark, SF)
    plan = R.top_movies_plan(t("lineitem"), t("part"))
    held = R.q_top_movies(t("lineitem"), t("part"))
    assert held.schema == plan.schema
    assert held.collect() == plan.collect()


def test_held_user_answers_match_point_queries(spark):
    """Every customer of sf0.001 and an unknown key: the held answers
    equal the per-customer point queries, in order for the two ranked
    reads and as a multiset for the semi-join."""
    t = _loader(spark, SF)
    custkeys = pc.unique(
        pq.read_table(f"{SF}/customer.parquet")["c_custkey"]).to_pylist()
    _assert_same_answers(t("orders"), t("customer"), t("lineitem"),
                         t("part"), [*custkeys, UNKNOWN])


def test_held_user_answers_on_ties_and_nulls(spark):
    """Hand-built frames: tied dates and prices, null order keys, one
    customer past the top-N cut, an order with no customer row, null
    customer keys, null part keys on either side of the semi-join and a
    part row listed twice."""
    day = [datetime(1996, 1, d) for d in range(1, 29)]
    orders = [
        # customer 1: dates tie, keys break them; a null key ties too
        (10, 1, 50.0, day[3]), (11, 1, 50.0, day[3]), (None, 1, 50.0, day[3]),
        (12, 1, 70.0, day[1]), (None, 1, 70.0, day[0]), (13, 1, None, day[2]),
        (14, 1, 70.0, None),
        # customer 2: past the cut, prices tie in pairs, dates break them
        *[(100 + i, 2, float(i // 2), day[i]) for i in range(25)],
        # customer 9 has no customer row; an order with no custkey
        (200, 3, 5.0, day[5]), (201, 9, 1.0, day[5]), (202, None, 9.0, day[6]),
    ]
    o = spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
                "o_orderdate timestamp")
    c = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three"), (4, "four"), (None, "nobody")],
        "c_custkey bigint, c_name string")
    li = spark.createDataFrame(
        [(10, 1), (11, 1), (11, 2), (12, None), (None, 3), (100, 2),
         (101, 5), (200, 6), (201, 1), (202, 2)],
        "l_orderkey bigint, l_partkey bigint")
    part = spark.createDataFrame(
        [(1, "p1", "b1"), (2, "p2", "b2"), (2, "p2 again", "b2"),
         (5, None, "b5"), (6, "p6", None), (None, "p-null", "bn")],
        "p_partkey bigint, p_name string, p_brand string")
    _assert_same_answers(o, c, li, part, [1, 2, 3, 4, 9, UNKNOWN])
    top = R.q_user_latest_ratings(o, c, 2).collect()
    assert len(top) == R.TOP_N and top[0].o_orderkey == 124


def test_rewritten_lineitem_is_served_afresh(spark, tmp_path):
    """``lineitem``, then ``orders``, then ``customer`` rewritten in
    place: every held answer follows the new files."""
    d = str(tmp_path)
    for name in ("lineitem", "orders", "part", "customer"):
        shutil.copyfile(f"{SF}/{name}.parquet", f"{d}/{name}.parquet")
    t = _loader(spark, d)

    def answers():
        return (R.q_top_movies(t("lineitem"), t("part")).collect(),
                R.q_recommend(t("lineitem"), t("orders"),
                              custkey=USER).collect())

    def user_answers():
        return (
            R.q_user_latest_ratings(t("orders"), t("customer"), USER)
            .collect(),
            R.q_user_top_ratings(t("orders"), t("customer"), USER).collect(),
            sorted(R.q_user_rated_movies(t("lineitem"), t("orders"),
                                         t("part"), USER).collect()))

    def assert_fresh():
        _assert_same_answers(t("orders"), t("customer"), t("lineitem"),
                             t("part"), [USER])

    before = answers()
    # drop the rows of the current top parts: both rankings must move
    li = pq.read_table(f"{d}/lineitem.parquet")
    top = [r.p_partkey for r in before[0][:5]]
    pq.write_table(li.filter(pc.invert(pc.is_in(
        li["l_partkey"], value_set=pa.array(top, li["l_partkey"].type)))),
        f"{d}/lineitem.parquet")
    after = answers()
    assert after[0] == R.top_movies_plan(t("lineitem"), t("part")).collect()
    assert not set(top) & {r.p_partkey for r in after[0]}
    assert not set(top) & {r.item_id for r in after[1]}
    memo.clear()
    assert after == answers()
    assert after != before

    # orders: the user loses their latest and their top-valued order
    before = user_answers()
    orders = pq.read_table(f"{d}/orders.parquet")
    gone = {before[0][0].o_orderkey, before[1][0].o_orderkey}
    pq.write_table(orders.filter(pc.invert(pc.is_in(
        orders["o_orderkey"],
        value_set=pa.array(sorted(gone), orders["o_orderkey"].type)))),
        f"{d}/orders.parquet")
    mid = user_answers()
    assert not gone & {r.o_orderkey for r in mid[0] + mid[1]}
    assert mid[0] != before[0] and mid[1] != before[1]
    assert_fresh()
    # customer: the user is renamed
    cust = pq.read_table(f"{d}/customer.parquet")
    names = pc.if_else(pc.equal(cust["c_custkey"], USER),
                       "renamed in place", cust["c_name"])
    pq.write_table(cust.set_column(cust.schema.get_field_index("c_name"),
                                   "c_name", names),
                   f"{d}/customer.parquet")
    after = user_answers()
    assert {r.c_name for r in after[0] + after[1]} == {"renamed in place"}
    assert after[2] == mid[2]
    assert_fresh()
    memo.clear()
    assert user_answers() == after
