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
from overlay import popularity_model, recommend_model, recommend_overlay
from spark_jobs import classes_compiled, jobs_launched

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
        t("lineitem"), t("orders"), custkey=USER), 1),
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


def _custkeys():
    return pc.unique(
        pq.read_table(f"{SF}/customer.parquet")["c_custkey"]).to_pylist()


def _recommended(lineitem, orders, custkey, n=R.REC_LIMIT):
    return [tuple(r) for r in
            R.q_recommend(lineitem, orders, custkey=custkey, n=n).collect()]


def test_recommend_matches_overlay_models(spark):
    """``q_recommend`` for every customer of sf0.001 and an unknown key
    against the overlay in pandas, and for a few keys against the Spark
    composition it replaced (popularity top-n, double anti-join
    back-fill, union)."""
    t = _loader(spark, SF)
    li, orders = t("lineitem"), t("orders")
    li_pd = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    pairs = li_pd.merge(
        pq.read_table(f"{SF}/orders.parquet").to_pandas(),
        left_on="l_orderkey", right_on="o_orderkey")
    seen = pairs.groupby("o_custkey")["l_partkey"].agg(set).to_dict()
    pop = popularity_model(li_pd)
    customers = _custkeys()
    want = {ck: recommend_model(pop, seen.get(ck, set()))
            for ck in [*customers, UNKNOWN]}
    # some customer has seen a precomputed rec: the back-fill is exercised
    assert any(r[2] == "popular" for rows in want.values() for r in rows)
    for ck, rows in want.items():
        assert _recommended(li, orders, ck) == rows, ck
    heaviest = sorted(customers, key=lambda ck: -len(seen.get(ck, ())))
    for ck in [*heaviest[:3], *customers[:2], UNKNOWN]:
        got = R.q_recommend(li, orders, custkey=ck)
        ref = recommend_overlay(li, orders, ck)
        assert got.schema == ref.schema
        assert got.collect() == ref.collect(), ck


def test_recommend_on_nulls_ties_and_short_rankings(spark):
    """Hand-built frames. Popularity ranks 1, null, 2, 4, 5, 3, 6: a
    null part key in the top n, scores tied at the n-th place (n=4,
    broken by avg_price), a user who has seen every non-null
    precomputed rec, an empty seen set, an unknown key and n above
    |pop|. The null item is never seen and is served at most once."""
    lines = []
    for item, count, price in ((1, 5, 10.0), (2, 4, 20.0), (None, 4, 30.0),
                               (3, 3, 10.0), (4, 3, 30.0), (5, 3, 20.0),
                               (6, 1, 10.0), (7, 9, 99.0)):
        # item 7's quantity is below the threshold: never popular
        qty = 1.0 if item == 7 else R.QTY_THRESHOLD
        for _ in range(count):
            lines.append((len(lines), item, qty, price))
    first = {}
    for key, item, *_ in lines:
        first.setdefault(item, key)
    owner = {key: 50 for key, *_ in lines}
    owner[first[2] + 1] = 1                           # seen {2}
    for item in (1, 2, 4, 7):                    # the non-null top 4, and 7
        owner[first[item]] = 2
    owner[first[None]] = 3                            # only a null part
    li = spark.createDataFrame(
        lines, "l_orderkey bigint, l_partkey bigint, l_quantity double, "
               "l_extendedprice double")
    orders = spark.createDataFrame(sorted(owner.items()),
                                   "o_orderkey bigint, o_custkey bigint")
    pre, pop = "precomputed", "popular"
    top4 = [(1, 5.0, pre), (None, 4.0, pre), (2, 4.0, pre), (4, 3.0, pre)]
    cases = {
        (1, 4): [(1, 5.0, pre), (None, 4.0, pre), (4, 3.0, pre),
                 (3, 3.0, pop)],
        (2, 4): [(None, 4.0, pre), (3, 3.0, pop), (5, 3.0, pop),
                 (6, 1.0, pop)],
        (2, 1): [(None, 4.0, pop)],
        (3, 4): top4,
        (UNKNOWN, 4): top4,
        (1, 10): [(1, 5.0, pre), (None, 4.0, pre), (3, 3.0, pre),
                  (4, 3.0, pre), (5, 3.0, pre), (6, 1.0, pre)],
        (1, 0): [],
    }
    for (ck, n), want in cases.items():
        assert _recommended(li, orders, ck, n) == want, (ck, n)


def test_fallback_compiles_no_code_per_user(spark):
    """After warm-up, ``q_recommend`` for new users compiles no class:
    the custkey and the seen set reach generated code only as data."""
    t = _loader(spark, SF)
    custkeys = _custkeys()

    def serve(users):
        for ck in users:
            R.q_recommend(t("lineitem"), t("orders"), custkey=ck).collect()

    serve(custkeys[:3])
    assert classes_compiled(spark, lambda: serve(custkeys[3:8])) == 0


def _seen_pairs_entries():
    """The memo's held (o_custkey, l_partkey) pairs, by identity."""
    return {id(v) for (_, params), (v, _, _) in memo._entries.items()
            if params == ("seen_parts",)}


def test_rewritten_lineitem_is_served_afresh(spark, tmp_path):
    """``lineitem``, then ``orders``, then ``customer``, then ``part``
    rewritten in place: every held answer follows the new files."""
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
    # and takes over an order of their first recommended part
    before = user_answers()
    rec = after[1][0].item_id
    orders = pq.read_table(f"{d}/orders.parquet")
    gone = {before[0][0].o_orderkey, before[1][0].o_orderkey}
    li = pq.read_table(f"{d}/lineitem.parquet")
    taken = pc.min(li.filter(pc.equal(li["l_partkey"], rec))["l_orderkey"])
    owner = pc.if_else(pc.equal(orders["o_orderkey"], taken),
                       pa.scalar(USER, orders["o_custkey"].type),
                       orders["o_custkey"])
    orders = orders.set_column(orders.schema.get_field_index("o_custkey"),
                               "o_custkey", owner)
    pq.write_table(orders.filter(pc.invert(pc.is_in(
        orders["o_orderkey"],
        value_set=pa.array(sorted(gone), orders["o_orderkey"].type)))),
        f"{d}/orders.parquet")
    mid = user_answers()
    assert not gone & {r.o_orderkey for r in mid[0] + mid[1]}
    assert mid[0] != before[0] and mid[1] != before[1]
    assert rec in {r.p_partkey for r in mid[2]}
    recs = R.q_recommend(t("lineitem"), t("orders"), custkey=USER).collect()
    assert rec not in {r.item_id for r in recs}
    assert recs == recommend_overlay(t("lineitem"), t("orders"),
                                     USER).collect()
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
    # part: the user's rated parts are renamed; the held pairs stay
    pairs = _seen_pairs_entries()
    assert pairs
    part = pq.read_table(f"{d}/part.parquet")
    mine = pa.array([r.p_partkey for r in after[2]],
                    part["p_partkey"].type)
    names = pc.if_else(pc.is_in(part["p_partkey"], value_set=mine),
                       "renamed in place", part["p_name"])
    pq.write_table(part.set_column(part.schema.get_field_index("p_name"),
                                   "p_name", names),
                   f"{d}/part.parquet")
    renamed = user_answers()
    assert {r.p_name for r in renamed[2]} == {"renamed in place"}
    assert [r.p_partkey for r in renamed[2]] == \
        [r.p_partkey for r in after[2]]
    assert _seen_pairs_entries() == pairs
    assert_fresh()
    memo.clear()
    assert user_answers() == renamed
