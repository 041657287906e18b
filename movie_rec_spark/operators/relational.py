"""Relational query core — the reference's complete batch query surface.

Each canonical query (SURVEY.md §2.13, mapped onto the star schema per
FIXTURES.md §B) is a pure DataFrame builder: it takes input DataFrames and
returns a DataFrame, so unit tests can feed tiny hand-written frames and
the `__spark_entry__` harness binds them to the parquet catalog.

Scale notes baked into every builder:
- aggregate BEFORE joining dimensions (shrinks the shuffle, then the dim
  join is a broadcast — zero extra shuffle);
- dimension sides pass through ``F.broadcast`` explicitly so the plan is
  broadcast-hash-join even if stats are missing;
- top-k is ``orderBy(...).limit(n)`` which Catalyst plans as
  TakeOrderedAndProject (no global sort);
- every computed column is aliased to the oracle-SQL name, and every
  LIMIT ordering ends in a unique key so the cut is deterministic across
  engines (SURVEY.md §7.3 item 3).

Serving's reads are the exception: like the reference's refresh job,
which stores its views in Redis (estimator.py:81-102,
statistics.py:39-60), ``q_top_movies``, ``q_user_latest_ratings``,
``q_user_top_ratings`` and ``q_user_rated_movies`` run one whole-table
plan per version of their inputs (``top_movies_plan``,
``user_orders_plan``, the rated pairs) and hold its rows in ``memo``
on the driver, per-user ones as CSR slices keyed by custkey
(``csr``). A request is a lookup served as a LocalRelation
and runs no Spark job; a rewritten input changes the memo key.
``q_recommend`` stays a Spark query, the measured floor of Spark
serving: one filter → sort → limit over the popularity aggregate it
holds as a checkpoint, with the user's held seen set and the held
slate as array literals, so a request runs one job and compiles no
code for its user.

Reference sites cited per query for parity checking.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_rec_spark import memo

# Workload constants — star-schema analogues of the reference's config
# (reference web/config.py:25-27: DEFAULT_RATING=3.5, TOP_N=20,
# STAT_MOVIE_USERS_LOWER_LIMIT=5).
QTY_THRESHOLD = 25.0          # ~ rating >= 3.5 filter (controller.py:86)
TOP_LIMIT = 100               # /movies/top default (routes.py:77)
REC_LIMIT = 10                # serving back-fill size
TOP_N = 20                    # per-user top-N (config.py:26)
STAT_LOWER_LIMIT = 5          # HAVING count > 5 (statistics.py:30)
FOCUS_CUSTKEY = 1             # "the user" in per-user queries
DEFAULT_VALUE = 3.5           # DEFAULT_RATING (config.py:25)


def part_popularity(lineitem: DataFrame, qty_threshold: float = QTY_THRESHOLD) -> DataFrame:
    """Shared agg: per-part order count + avg price over high-quantity rows.

    Reference: the group-avg/count core of get_top_movies
    (controller.py:83-92) and get_avg_ratings_recommendations
    (controller.py:293-296). Partial aggregation (map-side combine) and the
    shuffle-on-l_partkey are Catalyst's; filter is pushed to the scan.
    """
    return (
        lineitem.select("l_partkey", "l_orderkey", "l_quantity", "l_extendedprice")
        .filter(F.col("l_quantity") >= F.lit(qty_threshold))
        .groupBy("l_partkey")
        .agg(
            F.count("l_orderkey").alias("cnt_orders"),
            # integer-cents HALF_UP average — round(avg(double), 2) is
            # not engine-deterministic at .xx5 boundaries (float
            # summation order + division semantics differ); integer
            # arithmetic is bit-exact everywhere. See mutation.py
            # q_implicit_fill for the observed sf0.1 divergence.
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .alias("_s"),
        )
        .select(
            "l_partkey", "cnt_orders",
            (F.expr("(2 * _s + cnt_orders) DIV (2 * cnt_orders)")
             / F.lit(100.0)).alias("avg_price"),
        )
    )


def top_movies_plan(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Popularity ranking: J1 ⋈ P4 → A1+A2 → K1 (controller.py:77-105).

    lineitem ⋈ part; filter l_quantity >= t; group by part;
    order by count desc, avg desc; limit 100. Aggregates first so the
    broadcast dim join sees one row per part, not one per lineitem.
    """
    agg = part_popularity(lineitem)
    return (
        agg.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            agg["l_partkey"] == F.col("p_partkey"),
            "inner",
        )
        .select("p_partkey", "p_name", "cnt_orders", "avg_price")
        .orderBy(F.desc("cnt_orders"), F.desc("avg_price"), F.asc("p_partkey"))
        .limit(TOP_LIMIT)
    )


def q_top_movies(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """``top_movies_plan``'s answer, computed once per version of
    ``lineitem`` and ``part`` — the reference's statistics job stores
    the same ranking in Redis (statistics.py:39-60) and /movies/top
    reads it. The answer (at most ``TOP_LIMIT`` rows) is held in
    ``memo`` as an Arrow table on the driver and served as a
    LocalRelation: a hit runs no Spark job. A rewritten input changes
    the memo key, so no stale ranking is served.
    """
    def build():
        plan = top_movies_plan(lineitem, part)
        return plan.toArrow(), plan.schema

    table, schema = memo.lookup((lineitem, part), ("top_movies",), build)
    return lineitem.sparkSession.createDataFrame(table, schema)


def csr(users: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Keys and offsets of a user-sorted column: user ``keys[i]`` owns
    rows ``offsets[i]:offsets[i + 1]``. The held per-user answers below
    and ``pipeline.ServingIndex`` share this layout."""
    keys, start = np.unique(users, return_index=True)
    return keys, np.append(start, len(users))


def csr_rows(keys: np.ndarray, offsets: np.ndarray, user_id: int) -> slice:
    """``user_id``'s rows of a CSR column; empty for an unknown user."""
    i = int(np.searchsorted(keys, user_id))
    if i == len(keys) or keys[i] != user_id:
        return slice(0, 0)
    return slice(int(offsets[i]), int(offsets[i + 1]))


USER_ORDER_COLS = ("o_orderkey", "c_name", "o_totalprice", "o_orderdate")


def user_orders_plan(orders: DataFrame, customer: DataFrame,
                     *order: Column) -> DataFrame:
    """Every customer's first ``TOP_N`` orders under ``order``: J1 ⋈ P2
    → K5 grouped top-K, the build side of ``q_user_latest_ratings`` and
    ``q_user_top_ratings``.

    orders ⋈ broadcast(customer) on custkey, then row_number over
    (partition by o_custkey order by ``order``) ≤ ``TOP_N`` — one
    shuffle, and Spark ≥3.5 plans the rank filter as WindowGroupLimit,
    so no customer's whole order list is sorted or shuffled. Spark
    orders the rows and places the nulls, exactly as each query's own
    ORDER BY would. Rows come out in no particular order; ``rn`` is the
    rank within the customer.
    """
    o = orders.select("o_orderkey", "o_custkey", "o_totalprice",
                      "o_orderdate")
    c = customer.select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("o_custkey").orderBy(*order)))
        .filter(F.col("rn") <= F.lit(TOP_N))
        .select("o_custkey", "rn", *USER_ORDER_COLS)
    )


def _held_user_orders(orders: DataFrame, customer: DataFrame, custkey: int,
                      name: str, *order: Column) -> DataFrame:
    """``custkey``'s rows of ``user_orders_plan``, in rank order, from
    an index built once per version of ``orders`` and ``customer``."""
    def build():
        plan = user_orders_plan(orders, customer, *order)
        table = plan.toArrow()
        cust = table.column("o_custkey").to_numpy()
        sort = np.lexsort((table.column("rn").to_numpy(), cust))
        keys, offsets = csr(cust[sort])
        return (table.select(list(USER_ORDER_COLS)).take(sort), keys,
                offsets, plan.select(*USER_ORDER_COLS).schema)

    table, keys, offsets, schema = memo.lookup(
        (orders, customer), ("user_orders", name), build)
    rows = csr_rows(keys, offsets, custkey)
    return orders.sparkSession.createDataFrame(
        table.slice(rows.start, rows.stop - rows.start), schema)


def q_user_latest_ratings(orders: DataFrame, customer: DataFrame,
                          custkey: int = FOCUS_CUSTKEY) -> DataFrame:
    """User's latest activity: J1 ⋈ P2 → K2 (controller.py:47-58): the
    customer's orders joined to their name, ORDER BY date DESC, key
    DESC LIMIT 20.

    Answered like ``q_top_movies``: ``user_orders_plan`` ranks every
    customer's orders once per version of the inputs, and the ranked
    rows are held in ``memo`` as an Arrow table with CSR offsets by
    custkey (at most ``TOP_N`` rows per customer, whatever the size of
    ``orders``). A request is a binary search and a slice served as a
    LocalRelation: no Spark job. An unknown custkey gets no rows.
    """
    return _held_user_orders(orders, customer, custkey, "latest",
                             F.desc("o_orderdate"), F.desc("o_orderkey"))


def q_user_top_ratings(orders: DataFrame, customer: DataFrame,
                       custkey: int = FOCUS_CUSTKEY) -> DataFrame:
    """User's top-valued activity: J1 ⋈ P2 → K3 (controller.py:60-71):
    ORDER BY price DESC, date DESC, key ASC LIMIT 20, held and served
    as ``q_user_latest_ratings`` is."""
    return _held_user_orders(orders, customer, custkey, "top",
                             F.desc("o_totalprice"), F.desc("o_orderdate"),
                             F.asc("o_orderkey"))


def q_movie_stats(lineitem: DataFrame, lower_limit: int = STAT_LOWER_LIMIT) -> DataFrame:
    """Stats view: P5 bool-filter → A1+A2 → A4 HAVING → K4
    (statistics.py:19-35; threshold is strict ``>`` per statistics.py:30).

    Boolean predicate analogue: keep non-returned rows
    (l_returnflag <> 'R' ~ ``is_implicit IS FALSE``).

    The reference sorts the stats for display (statistics.py:29, K4);
    here the sort is deliberately OMITTED: an unbounded global sort is a
    full range-partition shuffle that buys nothing for a materialized
    stats table — ordering belongs to the consumer's top-k query. One
    shuffle total (the agg), enforced by tests/test_plans.py.
    """
    return (
        lineitem.select("l_partkey", "l_orderkey", "l_quantity", "l_returnflag")
        .filter(F.col("l_returnflag") != F.lit("R"))
        .groupBy("l_partkey")
        .agg(
            F.count("l_orderkey").alias("cnt_users"),
            # integer-cents HALF_UP average (see part_popularity)
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long"))
            .alias("_s"),
        )
        .filter(F.col("cnt_users") > F.lit(lower_limit))
        .select(
            "l_partkey", "cnt_users",
            (F.expr("(2 * _s + cnt_users) DIV (2 * cnt_users)")
             / F.lit(100.0)).alias("avg_qty"),
        )
    )


def user_parts(lineitem: DataFrame, orders: DataFrame,
               custkey: int = FOCUS_CUSTKEY) -> DataFrame:
    """Subquery: the part keys of a customer's order lines, one row per
    line (NOT distinct) — the semi-join build side of
    controller.py:277-280. Every caller broadcasts it into a semi- or
    anti-join, where a repeated key cannot change the result, so a
    ``distinct`` would only add a shuffle.

    The single-customer orders side is tiny → broadcast it into the
    lineitem join so no lineitem shuffle happens.
    """
    o = (
        orders.filter(F.col("o_custkey") == F.lit(custkey))
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(o), "l_orderkey", "inner")
        .select("l_partkey")
    )


def _seen_parts(lineitem: DataFrame, orders: DataFrame,
                custkey: int) -> np.ndarray:
    """The distinct non-null part keys of ``custkey``'s order lines,
    sorted. The distinct non-null (o_custkey, l_partkey) pairs of
    lineitem ⋈ orders are held once per version of the two inputs as
    CSR int columns; ``q_user_rated_movies`` and ``q_recommend`` share
    them."""
    def build():
        pairs = (
            lineitem.select("l_orderkey", "l_partkey")
            .join(orders.select(F.col("o_orderkey").alias("l_orderkey"),
                                "o_custkey"), "l_orderkey", "inner")
            .filter(F.col("o_custkey").isNotNull()
                    & F.col("l_partkey").isNotNull())
            .select("o_custkey", "l_partkey").distinct()
            .toArrow())
        cust, parts = (pairs.column(c).to_numpy()
                       for c in ("o_custkey", "l_partkey"))
        sort = np.lexsort((parts, cust))
        return (*csr(cust[sort]), parts[sort])

    keys, offsets, parts = memo.lookup(
        (lineitem, orders), ("seen_parts",), build)
    return parts[csr_rows(keys, offsets, custkey)]


def q_user_rated_movies(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
                        custkey: int = FOCUS_CUSTKEY) -> DataFrame:
    """Semi-join J3: parts the customer has ordered, with attributes
    (controller.py:231, IN-subquery membership — no multiplicity).

    The customer's seen part keys come from the held pairs
    (``_seen_parts``); part's answer columns are held on their own, once
    per version of ``part``, as an Arrow table keyed by p_partkey (part
    names are not copied into every pair). A request takes the part
    rows whose key is in the customer's slice, which keeps the
    semi-join's answer: each such part row once, and never a row with a
    null key. It is served as a LocalRelation with no Spark job.
    """
    def build():
        attrs = part.select("p_partkey", "p_name", "p_brand")
        held = attrs.filter(F.col("p_partkey").isNotNull()).toArrow()
        return held, held.column("p_partkey").to_numpy(), attrs.schema

    mine = _seen_parts(lineitem, orders, custkey)
    held, part_keys, schema = memo.lookup(part, ("part_attrs",), build)
    return lineitem.sparkSession.createDataFrame(
        held.take(np.flatnonzero(np.isin(part_keys, mine))), schema)


def q_avg_recommendations(lineitem: DataFrame, orders: DataFrame,
                          custkey: int = FOCUS_CUSTKEY) -> DataFrame:
    """Fallback recommendations: group-agg → J2 anti-join already-seen →
    K1 sort + limit (controller.py:262-310; the NOT-IN exclusion the
    reference builds-then-drops at controller.py:299 is applied here as the
    documented intent — SURVEY.md §2.13 bug (b))."""
    top = part_popularity(lineitem)
    seen = user_parts(lineitem, orders, custkey)
    return (
        top.join(F.broadcast(seen), "l_partkey", "left_anti")
        .select(
            F.col("l_partkey").alias("p_partkey"), "cnt_orders", "avg_price"
        )
        .orderBy(F.desc("cnt_orders"), F.desc("avg_price"), F.asc("p_partkey"))
        .limit(REC_LIMIT)
    )


def q_recommend(lineitem: DataFrame, orders: DataFrame,
                custkey: int = FOCUS_CUSTKEY, n: int = REC_LIMIT) -> DataFrame:
    """Declared T4 query, oracle-checkable: the serving overlay over a
    FIXED deterministic precomputed-recs input. The overlay keeps the
    user's precomputed recs that are still unseen, back-fills from the
    popularity ranking without seen or already-recommended items, and
    serves precomputed before popular (controller.py:180-314,
    README.md:42-44).

    The model path applies the same rules to ALS output
    (pipeline.serve_recommendations, by lookups in an index of the
    pipeline's precomputed recs table); here "last cycle's precomputed
    table" is stood in by the popularity top-``n`` — the reference's
    own cold-start fallback (controller.py:262-310) — which makes the
    overlay SQL-expressible and hash-checked by the driver at sf0.01.

    Because the slate ``P`` is drawn from the popularity ranking
    ``pop`` itself, the fresh recs ``P∖S`` and the back-fill
    ``pop∖S∖P`` (``S`` the seen set) are one ranking of ``pop∖S``:
    slate items first, then score desc, item_id asc, cut at ``n``.
    Only the seen set depends on the user. The popularity aggregate is
    computed once per version of ``lineitem`` and held in ``memo`` as a
    ``localCheckpoint`` (|parts| rows on the executors), the slate's
    ids once per version and ``n``, and the seen set comes from the
    pairs ``q_user_rated_movies`` holds. A request is one
    filter → sort → limit over the checkpoint: one Spark job. Both id
    sets enter the plan as typed ``array<bigint>`` literals, which
    generated code reads as reference objects, so no request compiles
    code for its user. A null item is never seen (as in an anti-join)
    and is served at most once.
    """
    def build():
        ids = (_popularity(lineitem)
               .orderBy(F.desc("score"), F.desc("avg_price"), F.asc("item_id"))
               .limit(n).select("item_id").toArrow().column(0))
        return ids.drop_null().to_numpy(), ids.null_count > 0

    seen = _seen_parts(lineitem, orders, custkey)
    # the slate's non-null ids, and whether a null id is among them
    slate, slate_null = memo.lookup(lineitem, ("recommend_slate", n), build)
    pop = _popularity(lineitem)
    item = F.col("item_id")
    source = F.when(
        F.coalesce(F.array_contains(F.lit(slate), item), F.lit(slate_null)),
        "precomputed").otherwise("popular")
    return (
        pop.filter(item.isNull() | ~F.array_contains(F.lit(seen), item))
        .select("item_id", "score", source.alias("rec_source"))
        .orderBy(F.col("rec_source") != "precomputed", F.desc("score"),
                 F.asc("item_id"))
        .limit(n)
    )


def _popularity(lineitem: DataFrame) -> DataFrame:
    """``part_popularity`` as (item_id, score, avg_price), held once per
    version of ``lineitem`` as a ``localCheckpoint``."""
    return memo.lookup(lineitem, ("recommend_popularity",),
                       lambda: part_popularity(lineitem).select(
                           F.col("l_partkey").alias("item_id"),
                           F.col("cnt_orders").cast("double").alias("score"),
                           "avg_price",
                       ).localCheckpoint())


def q_distinct_users(orders: DataFrame) -> DataFrame:
    """A5 DISTINCT: unique customer keys (prepare_dataset.py:86-87).
    Plans as partial HashAggregate → shuffle → final HashAggregate."""
    return orders.select("o_custkey").distinct()


def q_candidates(customer: DataFrame, part: DataFrame, lineitem: DataFrame,
                 orders: DataFrame) -> DataFrame:
    """J4 cross ⊳ anti candidate generation, aggregated to a per-customer
    candidate count (trainer.py:101 build_anti_testset).

    SMALL-SCALE ONLY (SURVEY.md §7.3 item 2): materializing |C|×|P| is the
    reference's known scaling cliff. At production scale use
    ALSModel.recommendForAllUsers (ml.py) which never forms the cross
    product; `candidate_counts_scalable` below gets the same counts with
    zero cross join.
    """
    pairs = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem["l_orderkey"] == F.col("o_orderkey"), "inner")
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    cand = (
        customer.select("c_custkey")
        .crossJoin(F.broadcast(part.select("p_partkey")))
        .join(
            pairs,
            (F.col("c_custkey") == pairs["o_custkey"])
            & (F.col("p_partkey") == pairs["l_partkey"]),
            "left_anti",
        )
    )
    return cand.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n_candidates"))


def candidate_counts_scalable(customer: DataFrame, part: DataFrame,
                              lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Same result as q_candidates without the cross join:
    n_candidates = |parts| − |distinct parts seen by customer|.
    This is the 100 TB formulation (one small agg + one broadcast)."""
    n_parts = part.select(F.count(F.lit(1)).alias("n_parts"))
    seen = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem["l_orderkey"] == F.col("o_orderkey"), "inner")
        .select("o_custkey", "l_partkey")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    return (
        customer.select("c_custkey")
        .join(seen, customer["c_custkey"] == seen["o_custkey"], "left")
        .crossJoin(F.broadcast(n_parts))
        .select(
            "c_custkey",
            (F.col("n_parts") - F.coalesce(F.col("n_seen"), F.lit(0))).alias("n_candidates"),
        )
    )


def q_user_topn(orders: DataFrame, n: int = TOP_N) -> DataFrame:
    """K5 grouped top-K: per-customer top-N orders by value
    (estimator.py:118-129's defaultdict+sort+slice, done distributed).

    row_number over (partition by customer order by value desc) ≤ N —
    Spark ≥3.5 rewrites this via the WindowGroupLimit rule into a
    per-partition top-K that never sorts whole groups.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(n))
        .select("o_custkey", "o_orderkey", "o_totalprice",
                F.col("rn").cast("int").alias("rn"))
    )


def q_scalar_funcs(events: DataFrame) -> DataFrame:
    """Scalar-function surface F1-F10 (SURVEY.md §2.8) as one projection:

    - round-to-half (F2, controller.py:329-331 — spec'd HALF_UP);
    - year extraction (F6, prepare_dataset.py:139);
    - concat_ws encode (F5, estimator.py:90);
    - split + size decode (F4, controller.py:224);
    - coalesce/default (F8, controller.py:158-161);
    - casts (F9/F10, routes.py:89-90).
    All built-in JVM expressions — zero UDFs (SURVEY.md §2.11).
    """
    return events.select(
        "event_id",
        (F.round(F.col("value") * 2, 0) / 2).alias("value_half"),
        F.year("ts").cast("int").alias("event_year"),
        F.concat_ws(";", F.col("event_type"), F.col("user_id").cast("string")).alias("tag"),
        F.size(F.split(F.col("props"), ":")).cast("int").alias("n_props_parts"),
        F.coalesce(F.col("value"), F.lit(DEFAULT_VALUE)).alias("value_filled"),
        F.floor(F.col("value")).cast("bigint").alias("value_floor"),
        F.col("value").cast("string").alias("value_str"),
    )


def q_set_ops(orders: DataFrame, events: DataFrame) -> DataFrame:
    """Set operations (UNION / INTERSECT / EXCEPT — absent from the
    reference, SURVEY.md §2.7; provided for engine completeness):
    customers who ordered INTERSECT users with events, UNION'd with
    high-value customers EXCEPT event-error users."""
    order_users = orders.select(F.col("o_custkey").alias("uid"))
    event_users = events.select(F.col("user_id").alias("uid"))
    big_spenders = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("uid"))
    )
    error_users = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("uid"))
    )
    return (
        order_users.intersect(event_users)
        .union(big_spenders.subtract(error_users))
        .distinct()
    )


def q_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP aggregation (beyond reference — SURVEY.md §2.4 notes no
    grouping sets exist there): hierarchical subtotals per
    (returnflag, linestatus), per returnflag, and grand total.
    sum(l_quantity) is exact (integral doubles), so no rounding needed
    for cross-engine equality."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("l_quantity").alias("sum_qty"),
             F.avg("l_quantity").alias("avg_qty"))
    )


def q_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE aggregation: all grouping-set combinations."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("l_quantity").alias("sum_qty"))
    )


def q_approx_distinct(orders: DataFrame) -> DataFrame:
    """Approximate distinct count — ORACLE-EXACT since r11: the sketch
    is the PORTABLE md5 register family of q_hll_audit (not Spark's
    engine-private Datasketches binaries), and the estimate is the
    classic Flajolet HLL estimator made hash-exact cross-engine
    (``hll_portable_estimate``: integer raw floor-division + the
    precomputed linear-counting lookup), so the declared query carries
    a DuckDB hash row instead of the old rows-only mark. Exact count
    alongside, as before; pytest asserts the estimate lands within the
    HLL error band.

    Scale shape: ONE map-combinable ≤2^p-key register aggregate (max
    is duplicate-insensitive — no distinct pre-pass) + the exact
    count's distinct; the estimator itself runs on ≤256 rows."""
    regs = hll_portable_registers(orders, "o_custkey")
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("exact_users"))
    return (hll_portable_estimate(regs)
            .select(F.col("est").alias("approx_users"))
            .crossJoin(F.broadcast(exact)))


EVENT_TYPES = ["view", "click", "purchase", "rate", "error"]


def q_pivot(events: DataFrame) -> DataFrame:
    """PIVOT (beyond reference): per-user event counts reshaped into one
    column per event type, as conditional aggregation — one groupBy,
    ONE shuffle. (``DataFrame.pivot`` even with an explicit value list
    plans a two-phase aggregate = 2 exchanges; with a known value list
    the count-when formulation is what PIVOT lowers to anyway, and the
    plan-budget test holds it to a single Exchange.)"""
    return events.groupBy("user_id").agg(*[
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ])


def q_unpivot(lineitem: DataFrame) -> DataFrame:
    """UNPIVOT/melt (beyond reference): wide measure columns to long
    (measure, value) rows — the inverse reshaping, one narrow scan and
    NO shuffle (row-local expand). Capped to a deterministic key subset
    so the oracle compare stays cheap."""
    return (
        lineitem.filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_extendedprice", "l_discount"],
            variableColumnName="measure",
            valueColumnName="value",
        )
    )


def q_event_sliding(events: DataFrame) -> DataFrame:
    """Sliding-window counts: 2-hour windows sliding by 1 hour (each
    event lands in exactly two windows). Same F.window operator the
    streaming layer uses; epoch-aligned, so the oracle enumerates the
    two covering window starts per event explicitly. Cost model: the
    expand is window/slide rows per input — keep that ratio small at
    scale (2 here)."""
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def q_window_analytics(orders: DataFrame) -> DataFrame:
    """Analytic window functions (beyond reference — SURVEY.md §2.6
    notes none exist there): per customer ordered by time, previous
    order value (lag), 3-order moving average, and running total.
    One shuffle on the partition key; all three functions share a single
    Window sort."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        # ma3 from explicit lags, not a frame sum: windowed SUM
        # association order is engine-internal (DuckDB segment tree vs
        # Spark running add) and flips round() at half boundaries; the
        # spelled-out ((p + l1) + l2) / n is left-to-right in any engine.
        F.round(
            (F.col("o_totalprice")
             + F.coalesce(F.lag("o_totalprice", 1).over(w), F.lit(0.0))
             + F.coalesce(F.lag("o_totalprice", 2).over(w), F.lit(0.0)))
            / (F.lit(1)
               + F.lag("o_totalprice", 1).over(w).isNotNull().cast("int")
               + F.lag("o_totalprice", 2).over(w).isNotNull().cast("int")),
            4,  # scale 4: thirds repeat in 3/6, never a .5 boundary
        ).alias("ma3_price"),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
    )


def exact_pct_brackets(df: DataFrame, group_cols: list[str],
                       cents_col: str,
                       pcts: dict[str, tuple[int, int]]) -> DataFrame:
    """Bracketing order statistics for EXACT interpolated percentiles
    over an integer (cents-grain) column — the shared kernel behind
    q_percentiles / q_outliers / q_winsorize (and the same arithmetic
    as temporal.q_rolling_percentiles).

    Float quantile kernels (Spark ``percentile``, DuckDB
    ``quantile_cont``) interpolate in different evaluation orders —
    (1−f)·a + f·b vs a + f·(b−a) — and at interpolation points whose
    exact value lands on a decimal rounding boundary (any f≠0.5 can
    produce an exact .5 over integer inputs, e.g. 23 + 0.9·215 =
    216.5) the two orders straddle it by 1 ulp and round apart. So no
    float path: for each percentile p_num/p_den this returns the
    0-indexed ⌊p·(n−1)⌋ and next order statistics (``_lo<tag>`` /
    ``_hi<tag>``) plus the multiset size ``_n``; callers assemble the
    exact rational lo·(den−rem) + hi·rem over den = p_den with
    ``pct_rational`` and HALF_UP-round with ``half_up_div``.

    Scale shape (better than ``F.percentile``, which buffers every
    group value in executor memory): collapse to a (group, cents)
    HISTOGRAM first — bounded by value VARIETY, not volume — then rank
    cells with two group-keyed windows sharing one Exchange and pick
    brackets with conditional aggregation. The whole kernel is
    codegen'd JVM expressions, no UDFs.
    """
    # Shuffle discipline (r12): the histogram agg shuffles on its OWN
    # key (group, cents) — map-side partial aggregation collapses raw
    # rows to cells per scan task and the exchange spreads over all
    # partitions. The group-keyed windows then add one more exchange,
    # but it carries HISTOGRAM CELLS (bounded by value variety), never
    # raw rows. The previous one-exchange form (repartition(group)
    # first, agg/windows riding it via the subset rule) funneled every
    # RAW row into |groups| reducer partitions BEFORE any partial agg
    # could run — with few groups (q_percentiles has 3) that is the
    # guide-§2.5 skew anti-pattern: at 100 TB it leaves |groups|
    # straggler tasks owning the corpus. Bench-neutral at sf0.1
    # (alternating A/B, min-of-2 ×2 rounds: 4.97/4.45 s vs 4.97/4.56 s
    # over the three callers). (A fanout_scan before the
    # partial agg was measured and REJECTED: at sf0.1 the cents-grain
    # variety nearly saturates the row count, so the partial agg
    # collapses little and the extra round-robin exchange just moves
    # the raw rows twice. At real scale variety is bounded by the
    # value domain while volume is not, so the partial agg does the
    # collapsing on the scan tasks with no help needed.)
    hist = (df.groupBy(*group_cols, F.col(cents_col).alias("_c"))
            .agg(F.count(F.lit(1)).alias("_cnt")))
    return pct_brackets_from_hist(hist, group_cols, pcts)


def pct_brackets_from_hist(hist: DataFrame, group_cols: list[str],
                           pcts: dict[str, tuple[int, int]]) -> DataFrame:
    """The post-histogram half of ``exact_pct_brackets``: brackets from
    a prebuilt (*group_cols, _c, _cnt) histogram. Exposed separately
    because integer-domain histograms are EXACT mergeable quantile
    state — summing per-partition histograms loses nothing — so
    q_quantile_merge can feed MERGED daily state through the identical
    bracket arithmetic the raw-scan path uses."""
    w_cum = (Window.partitionBy(*group_cols).orderBy("_c")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy(*group_cols)
    ranked = hist.select(
        *group_cols, "_c", "_cnt",
        F.sum("_cnt").over(w_cum).alias("_cum"),
        F.sum("_cnt").over(w_all).alias("_n"))
    prev = F.col("_cum") - F.col("_cnt")

    def stat(rank):
        return F.max(F.when((prev <= rank) & (F.col("_cum") > rank),
                            F.col("_c")))

    aggs = [F.max("_n").alias("_n")]
    for tag, (p_num, p_den) in pcts.items():
        # floor over double division is exact here: operands are exact
        # integers < 2^53 and the nearest floor boundary is either hit
        # exactly or ≥ 1/(2·p_den) away (see q_rolling_percentiles)
        i = F.floor((F.lit(p_num) * (F.col("_n") - 1)) / F.lit(p_den))
        aggs += [stat(i).alias(f"_lo{tag}"), stat(i + 1).alias(f"_hi{tag}")]
    return ranked.groupBy(*group_cols).agg(*aggs)


QM_PCTS = {"_p25": (1, 4), "_p50": (1, 2),
           "_p75": (3, 4), "_p95": (19, 20)}


def q_quantile_merge(events: DataFrame) -> DataFrame:
    """Incremental EXACT quantiles from mergeable histogram state —
    the pattern that replaces approximate quantile sketches (t-digest,
    GK) whenever values live on an integer grid, which cents-grain
    metrics always do: persist one (day, cents, count) histogram per
    day (bounded by value VARIETY, not volume), and ANY window's
    exact percentiles come from summing histograms — never rescanning
    events, and with zero sketch error.

    Output: per-day p25/p50/p75/p95 of value (whole cents, HALF_UP
    from the exact-rational interpolation) plus the '__all__' row
    computed from the MERGED daily histograms. The merged row is
    bit-equal to what a raw whole-window scan would produce (histogram
    merge is lossless), which is exactly what the oracle checks: its
    '__all__' branch ranks the raw rows directly, so the hash-match
    proves merge-equals-rescan, the property that makes the persisted
    state trustworthy.

    Scale shape: ONE day-keyed shuffle builds the daily state (the
    per-day quantile windows ride the same partitioning via the
    exact_pct_brackets discipline); the merge aggregates
    histogram-sized rows (days × distinct cents), far below raw
    volume. All integer arithmetic — the f≠0.5 knife edges of float
    quantile kernels can't occur (same posture as q_percentiles).

    Reference analogue: none (SURVEY §2 has no quantiles); the
    incremental-state member of the percentile family next to
    q_percentiles (single-scan) and q_rolling_percentiles (windowed).
    """
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily_hist = (
        events.select(F.to_date("ts").cast("string").alias("day"),
                      cents.alias("_c"))
        # shuffle on the agg's own (day, cents) key — map-side partial
        # agg collapses raw rows to cells; the former repartition("day")
        # funneled raw rows into |days| partitions before any combine
        # (the exact_pct_brackets r12 skew fix applied here too)
        .groupBy("day", "_c").agg(F.count(F.lit(1)).alias("_cnt"))
        # the persisted per-day state: built once, read by both the
        # per-day brackets and the merge
        .localCheckpoint(eager=False))
    per_day = pct_brackets_from_hist(daily_hist, ["day"], QM_PCTS)
    merged_hist = (daily_hist.groupBy("_c")
                   .agg(F.sum("_cnt").alias("_cnt"))
                   .select(F.lit("__all__").alias("day"), "_c", "_cnt"))
    merged = pct_brackets_from_hist(merged_hist, ["day"], QM_PCTS)
    out_cols = [F.col("day"), F.col("_n").cast("long").alias("n_rows")]
    for tag, (pn, pd_) in QM_PCTS.items():
        out_cols.append(
            half_up_div(pct_rational(tag, pn, pd_), pd_)
            .alias(f"p{tag.split('_p')[1]}_cents"))
    return (per_day.unionByName(merged)
            .select(*out_cols).orderBy("day"))


def pct_rational(tag: str, p_num: int, p_den: int):
    """Numerator of the exact interpolated percentile as a rational
    over denominator ``p_den``, from ``exact_pct_brackets`` columns:
    lo·(p_den−rem) + hi·rem with rem = p_num·(n−1) mod p_den."""
    rem = F.pmod(F.lit(p_num) * (F.col("_n") - 1), F.lit(p_den))
    return (F.col(f"_lo{tag}") * (F.lit(p_den) - rem)
            + F.coalesce(F.col(f"_hi{tag}"), F.col(f"_lo{tag}")) * rem)


def half_up_div(num, den: int):
    """HALF_UP(num/den) for integer columns via the exact identity
    floor((2·num + den) / (2·den)) — round-half-toward-+∞, matching
    Spark/DuckDB round() on the nonnegative domain and well-defined
    (and engine-agreed, since both sides use this same identity) on
    the negative one. Exact for |num| < 2^46."""
    return F.floor((2 * num + den) / F.lit(2 * den)).cast("long")


def q_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per group (beyond reference —
    OLAP staple): median and p90 of price, median quantity, all at
    cents grain via the exact_pct_brackets integer-rational kernel —
    engine/oracle agreement is by shared integer arithmetic, never by
    float kernels happening to round the same way (they don't: see
    exact_pct_brackets). Two histogram passes (price, quantity) joined
    on the 3-row group frame; each is bounded by value variety, so at
    100 TB this outscales the former per-group F.percentile buffer."""
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("long")
    pb = exact_pct_brackets(
        lineitem.select("l_returnflag", price_c.alias("pc")),
        ["l_returnflag"], "pc", {"p50": (1, 2), "p90": (9, 10)})
    qb = exact_pct_brackets(
        lineitem.select("l_returnflag", qty_c.alias("qc")),
        ["l_returnflag"], "qc", {"q50": (1, 2)})
    # both kernels see the same rows, so qty's _n ≡ price's _n — drop
    # the duplicate before the 3-row broadcast join
    qb = qb.select("l_returnflag", "_loq50", "_hiq50")
    return pb.join(F.broadcast(qb), "l_returnflag").select(
        "l_returnflag",
        (half_up_div(pct_rational("p50", 1, 2), 2) / 100.0)
        .alias("p50_price"),
        (half_up_div(pct_rational("p90", 9, 10), 10) / 100.0)
        .alias("p90_price"),
        (half_up_div(pct_rational("q50", 1, 2), 2) / 100.0)
        .alias("p50_qty"),
        F.col("_n").alias("n_rows"),
    )


SHIP_CUTOFF = "1998-01-01"       # TPC-H Q3's date pivot, our calendar
SHIP_SEGMENT = "BUILDING"


def q_top_unshipped(customer: DataFrame, orders: DataFrame,
                    lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: the 10 highest-revenue
    orders taken before the cutoff whose items ship after it, for one
    market segment — the classic sales-urgency report and the second
    optimizer-showcase shape next to q_star_revenue's Q5 star (this
    one is selective-dimension + DATE-pivoted fact-fact).

    Declarative wins to check in the plan: the segment filter prunes
    customer BEFORE it broadcasts; both date filters push to the
    parquet scans (o_orderdate < cutoff, l_shipdate > cutoff); the
    orderkey join is the only real Exchange; the top-10 is
    TakeOrderedAndProject on (revenue desc, orderkey) — a bounded
    heap, never a global sort. Revenue accumulates as integer cents
    (HALF_UP), so the ranking is bit-exact under any merge order.
    """
    cutoff = F.lit(SHIP_CUTOFF).cast("timestamp")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
        0).cast("bigint")
    return (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(
            customer.filter(F.col("c_mktsegment") == SHIP_SEGMENT)),
            F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).alias("_cents"))
        .select("l_orderkey",
                (F.col("_cents").cast("double") / 100.0)
                .alias("revenue"),
                "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


QUANTILE_BINS = 10   # equi-depth deciles


def q_quantile_bins(orders: DataFrame,
                    n_bins: int = QUANTILE_BINS) -> DataFrame:
    """Equi-depth (quantile) binning of orders by total price, with
    per-bin occupancy and value stats — the feature-binning /
    calibration-bucket primitive (beyond reference; the equi-DEPTH
    twin of q_histogram's equi-width grid).

    The textbook spelling, ``ntile(n) OVER (ORDER BY price)``, forces
    a single-task global sort of ALL rows — the canonical 100 TB
    killer. The scale form computes the n−1 boundary quantiles with
    the exact_pct_brackets histogram kernel (its one global window
    ranks HISTOGRAM CELLS — bounded by price variety, not row volume
    — where the former F.percentile buffered every row's value in one
    aggregation buffer), broadcasts the single bracket row, and
    assigns each order its bin with a row-local comparison sum —
    scan-fused, no global order over data anywhere. Trade-off vs
    ntile, documented: rows tied AT a boundary land by value (all in
    the lower bin), not split by rank, so bins are equi-depth up to
    tie mass.

    Exactness: boundaries stay exact integer RATIONALS over cents
    (numerator over denominator n_bins) and the bin comparison is the
    pure integer predicate cents·n_bins > num — no float boundary
    representation exists at all, so a decile whose exact value lands
    ON an integer cent (constructible at f≠0.5: lo=10, hi=20, f=0.9
    → 19) cannot flip a row's bin between engines. Per-bin sums are
    exact int64 cents.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    o = orders.select(cents.alias("cents"))
    pcts = {f"b{k}": (k, n_bins) for k in range(1, n_bins)}
    b = exact_pct_brackets(o.select(F.col("cents").alias("vc")),
                           [], "vc", pcts)
    bin_expr = sum(
        (F.col("cents") * n_bins > pct_rational(f"b{k}", k, n_bins))
        .cast("int")
        for k in range(1, n_bins))
    return (
        o.crossJoin(F.broadcast(b))
        .select("cents", bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             (F.min("cents") / 100.0).alias("min_price"),
             (F.max("cents") / 100.0).alias("max_price"),
             (F.sum("cents").cast("double") / 100.0).alias("revenue"))
    )


def q_json_encode(part: DataFrame) -> DataFrame:
    """S12 JSON serialization sink: row → JSON object string
    (marshmallow schema dump, reference models.py:25-30 / used at
    routes.py:28-135). ``to_json(struct(...))`` keyed by column name —
    byte-identical to the DuckDB oracle's struct_pack→to_json."""
    return part.select(
        "p_partkey",
        F.to_json(F.struct("p_partkey", "p_name", "p_brand")).alias("js"),
    )


def q_event_counters(events: DataFrame) -> DataFrame:
    """Per-user event counters — the batch form of the reference's live
    Redis counters (T3/M4, controller.py:127-128). round(sum, 2) is
    safe: 2-decimal inputs sum to 2-decimal totals, so no cross-engine
    rounding ties exist."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_event_windowed(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts per event type (the F.window
    operator Structured Streaming uses; epoch-aligned, so window.start
    equals date_trunc('hour') in the oracle)."""
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def q_profile(table: DataFrame) -> DataFrame:
    """Data profiling — the schema-drift / data-quality audit run on
    every ingested partition before it joins the lakehouse: one row per
    column with non-null count, exact distinct count, and min/max
    rendered as strings (type-agnostic so one output schema covers
    numeric, string, and timestamp columns alike).

    Reference analogue: none (the reference trusts its DDL;
    `prepare_dataset.py:82` hard-asserts dtypes at load) — this is the
    operational replacement for that assert at pipeline scale.

    Scale shape: a UNION of per-column aggregates, each a pruned scan
    of exactly one parquet column feeding a two-phase (partial map-side
    combine, then merge) aggregate — the column branches run as
    parallel stages of one job, and the bytes read across all branches
    total one logical pass over columnar storage. The tempting
    alternative — a single aggregate with N countDistinct — plans an
    Expand that replicates every row N+1 times before the exchange;
    measured 25 s vs 1.4 s on an 11-column 600k-row table at sf0.1.
    Exact distinct counts are the point of an audit; the
    streaming/telemetry variant would swap countDistinct for
    approx_count_distinct and collapse to a single map-only pass.
    """
    parts = []
    for c in table.columns:
        parts.append(
            table.select(F.col(c).alias("v"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("v").alias("n_nonnull"),
                F.countDistinct("v").alias("n_distinct"),
                F.min("v").cast("string").alias("min_str"),
                F.max("v").cast("string").alias("max_str"),
            )
            .select(F.lit(c).alias("column_name"), "n_rows", "n_nonnull",
                    "n_distinct", "min_str", "max_str")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_outer_join(orders: DataFrame, events: DataFrame) -> DataFrame:
    """FULL OUTER reconciliation — which customers appear in the order
    system, the event stream, or both (the entity-reconciliation audit
    run when two ingest paths are supposed to cover one population).
    Completes the declared join surface: inner (J1), anti (J2), semi
    (J3), cross⊳anti (J4), as-of, range — and now full outer.

    Scale shape: both sides pre-aggregate to one row per key BEFORE the
    join (agg-before-join, same discipline as J1), so the full-outer
    exchange moves |keys| rows, not |rows|; the presence flags come
    from null-side detection, costing nothing extra.
    """
    o = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_orders"))
    e = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"))
    return (
        o.join(e, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.when(F.col("n_orders").isNotNull()
                   & F.col("n_events").isNotNull(), "both")
            .when(F.col("n_orders").isNotNull(), "orders_only")
            .otherwise("events_only").alias("presence"),
        )
    )


def q_hll_union(events: DataFrame) -> DataFrame:
    """Declared query — ORACLE-EXACT since r11: distinct active users
    over the whole window computed by UNIONING per-day sketches —
    never re-scanning events — next to the exact count's per-day sum
    baseline. The sketches are the PORTABLE md5 register family
    (q_hll_audit doctrine) instead of Datasketches binaries, merged by
    register-wise max (exactly associative — the union estimate is
    BIT-equal to sketching the raw stream, a stronger property than
    the old representation-promoting union), and the estimate is the
    hash-exact ``hll_portable_estimate``, so the query carries a
    DuckDB hash row. Pytest keeps the error-band and merge-soundness
    gates (incl. agreement with Spark's own Datasketches estimate).

    Scale shape: one (day, idx)-keyed map-combinable register
    aggregate (≤ |days|·2^p rows out) + the per-day exact distinct for
    the baseline column; the merge maxes |days|·2^p tiny rows and the
    estimator runs on ≤ 2^p. At 100 TB the per-day register sets are
    the persisted incremental state — the q_hll_audit posture."""
    base = events.select(F.to_date("ts").alias("d"), "user_id")
    regs = hll_portable_registers(base, "user_id", "d")
    merged = regs.groupBy("idx").agg(F.max("reg").alias("reg"))
    daily_exact = base.groupBy("d").agg(
        F.countDistinct("user_id").alias("exact_day"))
    days = daily_exact.agg(
        F.count(F.lit(1)).cast("int").alias("n_days"),
        F.sum("exact_day").alias("sum_daily_exact"))
    return (hll_portable_estimate(merged)
            .select(F.col("est").alias("est_distinct_users"))
            .crossJoin(F.broadcast(days))
            .select("n_days", "est_distinct_users", "sum_daily_exact"))


# KMV sketch: k minimum 56-bit md5-prefix hash values. 2^56 is the
# hash-space size M; the estimator floor((K-1)·M / kth_min) is classic
# KMV (Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased form). 56
# bits, not 60, so (K-1)·M = 63·2^56 ≈ 4.5e18 stays under 2^63 and the
# whole estimator is PURE LONG ARITHMETIC (`div`) — a decimal division
# would round its quotient (Spark HALF_UP at scale 6) before floor,
# reintroducing exactly the knife-edge class q_rolling_percentiles was
# burned by.
KMV_K = 64
KMV_M = 1 << 56


def q_kmv_distinct(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Distinct-count SKETCH the oracle can actually check: per-day
    active-user estimates from a K-minimum-values sketch, plus the
    '__all__' row estimated by MERGING the per-day sketches (k
    smallest of a union = k smallest of the pooled mins — KMV's
    mergeability is set algebra, so the window estimate never rescans
    history, the same discipline q_hll_union demonstrates with HLL).

    The declared sketch twin q_hll_union stays rows-only because
    Datasketches binaries are implementation-defined; KMV's entire
    state is k integer hash values from the shared md5 recipe, so
    estimate AND state are hash-checked cross-engine — an audit-grade
    sketch. Every output column is an integer: est =
    (K-1)·2^56 div kth_min, all in 63-bit-safe long arithmetic; days
    with fewer than K distinct users report their exact count
    (est = n_mins, kth_hash = -1), the standard KMV
    small-cardinality mode.

    Scale shape: two corpus-sized shuffles — the (day, hash)
    distinct and the day-keyed ranking, where the rn<=K filter
    triggers WindowGroupLimit so each map task forwards only its local
    top-K per day — then everything downstream (merge, estimates)
    moves ≤ |days|·K rows. At 100 TB the per-day K-min sets are the
    persisted incremental state (KB per day).

    Reference analogue: none (SURVEY §2 has no sketches); the
    verifiable member of the sketch family next to q_hll_union and
    the Misra-Gries streaming heavy hitters.
    """
    from pyspark.sql.window import Window

    h = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                  .cast("binary")), 1, 14), 16, 10)
         .cast("long"))
    dh = (events.select(F.to_date("ts").alias("d"),
                        h.alias("h"))
          .distinct())
    # per-day k-min set; the '__all__' sketch merges the per-day sets:
    # k smallest DISTINCT hashes of the pooled per-day mins (a user
    # active on many days repeats its hash across sets — KMV state is
    # a SET) — never rescans events
    win = Window.partitionBy("d").orderBy("h")
    mins = (dh.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= k))
    merged = (mins.select("h").distinct()
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy(F.lit(1)).orderBy("h")))
              .filter(F.col("rn") <= k)
              .select(F.lit("__all__").alias("day"), "h", "rn"))
    both = mins.select(F.col("d").cast("string").alias("day"),
                       "h", "rn").unionByName(merged)
    per = (both.groupBy("day")
           .agg(F.count(F.lit(1)).alias("n_mins"),
                F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"))
           .select(
               "day",
               F.col("n_mins").cast("long").alias("n_mins"),
               F.coalesce("kth", F.lit(-1)).cast("long").alias("kth_hash"),
               F.when(F.col("kth").isNull(), F.col("n_mins"))
               .otherwise(F.expr(f"CAST({(k - 1) * KMV_M} AS BIGINT) "
                                 "div kth"))
               .cast("long").alias("est_distinct")))
    return per.orderBy("day")


# Portable HLL registers: hash = the shared 56-bit md5 prefix, bucket
# index = the low HLL_AUDIT_P bits, register value rho = leading-zero
# count of the remaining 48-bit suffix + 1 (1..49, the standard
# Flajolet HLL rank). bit length comes from length(bin(w)) — Spark and
# DuckDB both render BIGINTs without leading zeros (bin(5)='101',
# bin(0)='0', verified), so rho is pure integer arithmetic on both
# engines, no log2 float surface.
HLL_AUDIT_P = 8  # 2^8 = 256 registers
HLL_AUDIT_HASH_BITS = 56


def q_hll_audit(events: DataFrame, p: int = HLL_AUDIT_P) -> DataFrame:
    """Register-exact HLL audit — the oracle-checkable twin of
    q_hll_union (whose Datasketches binaries are implementation-
    defined and stay rows-only forever). Every per-day HLL register
    and the register-wise max that merges them into the window sketch
    is an INTEGER ROW DuckDB recomputes identically:

      day ('__all__' = merged window) | idx (0..2^p-1, touched
      registers only) | reg (max rho in the bucket, 1..49) |
      day_exact (exact distinct users for that day / the window)

    The float HLL estimate alpha_m·m²/Σ2^(-M_j) is deliberately NOT a
    column — consumers derive Σ2^(-M_j) exactly from these rows as the
    integer Σ 2^(49-reg) plus (m - n_touched)·2^49 over denominator
    2^49, and pytest gates the resulting estimate against day_exact
    within the standard HLL error band. The audit doctrine of
    q_minhash_eval applied to cardinality sketching: measure the
    sketch against exact truth in one all-integer table instead of
    asserting its error bound.

    Scale shape: one (day, idx)-keyed MAX aggregate (map-side
    combinable, duplicate-insensitive — no distinct pass needed for
    the registers) + one exact distinct per day for the truth column;
    the merge side aggregates |days|·2^p tiny rows. At 100 TB the
    per-day register sets (2^p integers/day) are the persisted
    incremental state, and the exact-truth column is the audit's
    documented cost — run it on a stable_bucket sample or a backfill
    window, same posture as the dedup audits.

    Reference analogue: none (SURVEY §2 has no sketches); completes
    the audit family next to q_kmv_distinct (order sketch),
    q_minhash_eval / q_simhash_eval (similarity) and q_bloom_audit
    (membership).
    """
    m = 1 << p
    rho_max = HLL_AUDIT_HASH_BITS - p + 1
    h = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                  .cast("binary")), 1, 14), 16, 10)
         .cast("long"))
    base = events.select(F.to_date("ts").cast("string").alias("day"),
                         "user_id", h.alias("h"))
    w = F.expr(f"h div {m}")
    rho = (F.when(w == 0, F.lit(rho_max))
           .otherwise(F.lit(rho_max) - F.length(F.bin(w))))
    regs = (base.select("day", (F.col("h") % m).alias("idx"),
                        rho.alias("rho"))
            .groupBy("day", "idx")
            .agg(F.max("rho").cast("long").alias("reg")))
    day_exact = base.groupBy("day").agg(
        F.countDistinct("user_id").alias("day_exact"))
    merged = (regs.groupBy("idx")
              .agg(F.max("reg").alias("reg"))
              .select(F.lit("__all__").alias("day"), "idx", "reg"))
    all_exact = base.agg(
        F.countDistinct("user_id").alias("day_exact"))
    per_day = regs.join(F.broadcast(day_exact), "day")
    window = merged.crossJoin(F.broadcast(all_exact))
    return (per_day.unionByName(window)
            .select("day", F.col("idx").cast("long").alias("idx"),
                    "reg", "day_exact")
            .orderBy("day", "idx"))


# --- Portable HLL ESTIMATE (r11: the q_approx_distinct / q_hll_union
# graduation). The classic Flajolet estimator has two regimes; both are
# made hash-exact cross-engine by keeping every data-dependent input an
# INTEGER and baking the only float work into shared Python-computed
# literals:
#   raw:  alpha_m·m²/Σ2^(-M_j)  →  HLL_EST_C div S, where
#         S = Σ_touched 2^(49-reg) + V·2^49 is the exact integer
#         numerator of Σ2^(-M_j) over denominator 2^49 (≤ 2^57, int64)
#         and HLL_EST_C = round(alpha_m·m²·2^49) is a Python-computed
#         DECIMAL(38,0)/HUGEINT literal (~2.65e19 > int64) — integral
#         floor division on both engines;
#   linear counting (raw ≤ 5m/2 and V > 0): m·ln(m/V) has only m
#         possible inputs, so the ln never runs in either engine —
#         HLL_LC_TABLE is the precomputed round(m·ln(m/V)) for every
#         V, emitted as an identical CASE literal in plan and oracle.
# The 2^32/30 large-range correction is for 32-bit hashes and does not
# apply to this 56-bit family (documented, not implemented).
HLL_EST_M = 1 << HLL_AUDIT_P
HLL_EST_C = round(0.7213 / (1 + 1.079 / HLL_EST_M)
                  * HLL_EST_M * HLL_EST_M * 2 ** 49)
HLL_LC_TABLE = tuple(
    round(HLL_EST_M * math.log(HLL_EST_M / v))
    for v in range(1, HLL_EST_M))


def hll_lc_case_sql(v_col: str = "v") -> str:
    """The linear-counting lookup as a shared CASE literal (identical
    text works in Spark SQL and DuckDB; ELSE covers V = m → 0)."""
    whens = " ".join(
        f"WHEN {v + 1} THEN CAST({e} AS BIGINT)"
        for v, e in enumerate(HLL_LC_TABLE))
    return (f"CASE {v_col} {whens} "
            f"ELSE CAST(0 AS BIGINT) END")


def hll_portable_estimate(regs: DataFrame) -> DataFrame:
    """ONE-row (est bigint) from portable (idx, reg) register rows —
    the estimator half of the q_hll_audit register doctrine. Input is
    ≤ m rows (post-aggregate), so this is driver-free bounded work on
    top of whatever shuffle built the registers."""
    m = HLL_EST_M
    one = regs.agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.coalesce(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                         f"{HLL_AUDIT_HASH_BITS - HLL_AUDIT_P + 1} "
                         "- reg)")),
            F.lit(0)).cast("long").alias("st"))
    return (one
            .select((F.lit(m) - F.col("t")).alias("v"),
                    (F.col("st") + (F.lit(m) - F.col("t"))
                     * F.lit(1 << 49)).alias("s"))
            .select("v", F.expr(
                f"CAST('{HLL_EST_C}' AS DECIMAL(38,0)) div s")
                .cast("long").alias("raw"))
            .select(F.when((F.col("raw") <= F.lit(5 * m // 2))
                           & (F.col("v") > 0),
                           F.expr(hll_lc_case_sql()))
                    .otherwise(F.col("raw"))
                    .cast("long").alias("est")))


def hll_portable_registers(df: DataFrame, key: str,
                           *group_cols: str) -> DataFrame:
    """(group_cols..., idx, reg) portable registers of ``key`` — the
    q_hll_audit kernel as a reusable builder (register max is
    duplicate-insensitive, so no distinct pass: ONE map-combinable
    aggregate on (group, idx))."""
    m = HLL_EST_M
    rho_max = HLL_AUDIT_HASH_BITS - HLL_AUDIT_P + 1
    h = (F.conv(F.substring(F.md5(F.col(key).cast("string")
                                  .cast("binary")), 1, 14), 16, 10)
         .cast("long"))
    w = F.expr(f"h div {m}")
    rho = (F.when(w == 0, F.lit(rho_max))
           .otherwise(F.lit(rho_max) - F.length(F.bin(w))))
    return (df.select(*group_cols, h.alias("h"))
            .select(*group_cols, (F.col("h") % m).alias("idx"),
                    rho.alias("rho"))
            .groupBy(*group_cols, "idx")
            .agg(F.max("rho").cast("long").alias("reg")))


def q_outliers(events: DataFrame, k: float = 1.5) -> DataFrame:
    """IQR (Tukey-fence) outlier detection per group — the numeric
    data-quality twin of q_profile: events whose value falls outside
    [q1 - k·IQR, q3 + k·IQR] within their event-type group (the
    fixture's value column is heavy-tailed, so the standard k=1.5
    fence fires non-vacuously). IQR fences are the robust choice at
    pipeline scale: z-scores need a mean/stddev pass that outliers
    themselves corrupt, and float stddev accumulation order is not
    engine-deterministic — exact interpolated percentiles are, which
    is what makes this query hash-checkable at all.

    Scale shape: one grouped exact-percentile histogram pass (the
    exact_pct_brackets kernel, tiny group count), fences broadcast
    back onto the scan, row-local comparison — the second pass is a
    pure map with the filter pushed onto the parquet scan columns.

    Exactness: q1/q3 are exact rationals over integer cents with
    denominator 4; the fence q1 − k·(q3−q1) (k = k_num/k_den, from
    Fraction(k)) stays a rational over 4·k_den and HALF_UP-rounds to
    whole cents via the integer identity — both engines run the same
    integer arithmetic, so the emitted fences and the boundary cut
    are engine-exact by construction (float quantile kernels are
    not: see exact_pct_brackets).
    """
    from fractions import Fraction
    kf = Fraction(k).limit_denominator(1000)
    kn, kd = kf.numerator, kf.denominator
    cents = F.round(F.col("value") * 100, 0).cast("long")
    b = exact_pct_brackets(
        events.select("event_type", cents.alias("vc")),
        ["event_type"], "vc", {"q1": (1, 4), "q3": (3, 4)})
    n1, n3 = pct_rational("q1", 1, 4), pct_rational("q3", 3, 4)
    # lo = (n1·kd − kn·(n3−n1)) / (4·kd); hi mirrored
    fences = b.select(
        "event_type",
        (half_up_div(n1 * kd - kn * (n3 - n1), 4 * kd) / 100.0)
        .alias("lo"),
        (half_up_div(n3 * kd + kn * (n3 - n1), 4 * kd) / 100.0)
        .alias("hi"),
    )
    return (
        events.select("event_id", "event_type", "value")
        .join(F.broadcast(fences), "event_type")
        .filter((F.col("value") < F.col("lo"))
                | (F.col("value") > F.col("hi")))
        .select("event_id", "event_type", "value", "lo", "hi")
    )


def q_winsorize(events: DataFrame, lo_p: float = 0.05,
                hi_p: float = 0.95) -> DataFrame:
    """Winsorization per group — q_outliers' REPAIR twin: instead of
    reporting the tail rows, clamp every value into the group's exact
    [p05, p95] band and report the per-group effect (rows clamped each
    side, mean before/after in exact integer cents). This is the
    standard robust-feature step before model training: heavy tails
    stay in the data (unlike trimming) but stop dominating gradients.

    Scale shape: identical to q_outliers — one grouped exact-percentile
    histogram pass (exact_pct_brackets) over a handful of groups,
    boundaries broadcast back onto the scan, row-local clamp, then ONE
    map-side-combinable aggregate for the audit row. No window, no
    second sort; the clamp column itself is a pure projection, so the
    same plan serves "materialize the clamped corpus" at 100 TB by
    swapping the final agg for a write. Boundaries are exact integer
    rationals over cents HALF_UP-rounded to whole cents (the
    exact_pct_brackets posture — float quantile kernels diverge at
    f≠0.5 knife edges) and means come from integer-cents sums with
    HALF_UP division, so the audit is engine-exact.
    """
    from fractions import Fraction
    lf = Fraction(lo_p).limit_denominator(10000)
    hf = Fraction(hi_p).limit_denominator(10000)
    cents0 = F.round(F.col("value") * 100, 0).cast("long")
    b = exact_pct_brackets(
        events.select("event_type", cents0.alias("vc")),
        ["event_type"], "vc",
        {"lo": (lf.numerator, lf.denominator),
         "hi": (hf.numerator, hf.denominator)})
    bounds = b.select(
        "event_type",
        (half_up_div(pct_rational("lo", lf.numerator, lf.denominator),
                     lf.denominator) / 100.0).alias("lo"),
        (half_up_div(pct_rational("hi", hf.numerator, hf.denominator),
                     hf.denominator) / 100.0).alias("hi"),
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    clamped = F.round(
        F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
        * 100, 0).cast("long")
    audited = (
        events.select("event_type", "value")
        .join(F.broadcast(bounds), "event_type")
        .select(
            "event_type", "lo", "hi",
            cents.alias("c"), clamped.alias("cw"),
            (F.col("value") < F.col("lo")).cast("long").alias("low"),
            (F.col("value") > F.col("hi")).cast("long").alias("high"),
        )
    )
    # HALF_UP mean in cents via the integer identity floor((2s+n)/2n)
    mean2 = lambda s: F.floor((2 * F.sum(s) + F.count(F.lit(1)))  # noqa: E731
                              / (2 * F.count(F.lit(1)))).cast("long")
    return (
        audited.groupBy("event_type")
        .agg(F.first("lo").alias("lo"), F.first("hi").alias("hi"),
             F.sum("low").alias("n_clamped_lo"),
             F.sum("high").alias("n_clamped_hi"),
             F.count(F.lit(1)).alias("n_rows"),
             mean2("c").alias("mean_cents_before"),
             mean2("cw").alias("mean_cents_after"))
    )


STAR_REGION = "ASIA"
STAR_DATE_LO = "1996-01-01"
STAR_DATE_HI = "1997-01-01"


def q_star_revenue(region: DataFrame, nation: DataFrame,
                   customer: DataFrame, supplier: DataFrame,
                   orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q5-shaped star join — local-supplier revenue per nation
    for one region and one order-date year: region ⋈ nation ⋈ customer
    ⋈ orders ⋈ lineitem ⋈ supplier with the classic
    ``s_nationkey = c_nationkey`` locality condition. The six-table
    query is THE optimizer showcase: written declaratively, Catalyst
    broadcasts every dimension (region/nation/customer/supplier are
    DIM_TABLES), pushes the region and date filters beneath the joins,
    prunes to the six referenced columns of lineitem/orders, and the
    only real Exchange left is the final per-nation aggregate — the
    fact table is never shuffled for the joins. At 100 TB the same
    declaration holds: dims broadcast, lineitem⋈orders co-partition on
    orderkey (or zip bucketed copies, sources/layout.py), and AQE
    picks the strategy per runtime sizes.

    Revenue accumulates as INTEGER CENTS (same HALF_UP idiom as
    q_top_movies) so the sum is bit-exact under any accumulation
    order; the division back to currency is exact.
    """
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
        0).cast("bigint")
    lo = F.lit(STAR_DATE_LO).cast("timestamp")
    hi = F.lit(STAR_DATE_HI).cast("timestamp")
    return (
        lineitem
        .join(orders.filter((F.col("o_orderdate") >= lo)
                            & (F.col("o_orderdate") < hi)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == STAR_REGION)),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg((F.sum(cents) / 100.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .select("n_name", "revenue", "n_items")
    )


COOC_MIN_PAIRS = 2
COOC_TOP_K = 5


def q_item_cooccurrence(lineitem: DataFrame,
                        min_pairs: int = COOC_MIN_PAIRS,
                        top_k: int = COOC_TOP_K) -> DataFrame:
    """Item-to-item co-occurrence with LIFT scoring — the "users who
    bought X also bought Y" recommender that complements the
    latent-factor path (reference: serving blends MF scores with
    popularity fallbacks, controller.py:245-257; co-occurrence is the
    industry-standard item-item baseline the reference lacks). Baskets
    are orders; a pair's lift = P(a,b) / (P(a)·P(b)) — how much more
    often the two co-occur than independence predicts, the quantity a
    'frequently bought together' shelf ranks by.

    Scale shape: ONE order-keyed aggregate collapses lineitem to
    per-basket sorted item SETS; pair enumeration is then a row-local
    array transform (fan-out Σ|basket|², bounded by real basket sizes
    — tiny — never |catalog|², and never a second corpus shuffle the
    way the basket membership SELF-JOIN costs: that formulation
    measured 9 Exchanges, this one 5, same answer — the
    q_audience_overlap rework applied to baskets). Pair counts
    aggregate on the (a, b) key, item supports explode from the same
    checkpointed sets, the support join-back broadcasts only if small
    (Catalyst/AQE decides), and the per-item top-k is a
    WindowGroupLimit. min_pairs prunes the n_ab=1 noise floor BEFORE
    the join-backs so the heavy tail never moves twice.

    The lift expression is written with identical association on both
    engines and rounded to 4dp before the rank so the cut is
    deterministic.
    """
    baskets = (lineitem
               .groupBy(F.col("l_orderkey").alias("ok"))
               .agg(F.array_sort(F.collect_set("l_partkey"))
                    .alias("items"))
               .localCheckpoint(eager=False))
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pair = F.explode(F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), "
        "y -> struct(x AS item_a, y AS item_b))))"))
    pairs = (
        baskets.select(pair.alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    support = (baskets.select(F.explode("items").alias("item"))
               .groupBy("item").agg(
                   F.count(F.lit(1)).alias("n_item")))
    scored = (
        pairs
        .join(support.select(F.col("item").alias("item_a"),
                             F.col("n_item").alias("n_a")), "item_a")
        .join(support.select(F.col("item").alias("item_b"),
                             F.col("n_item").alias("n_b")), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a", "item_b", "n_ab",
            F.round(F.col("n_ab") * 1.0 * F.col("n_orders")
                    / (F.col("n_a") * F.col("n_b")), 4).alias("lift"))
    )
    w = Window.partitionBy("item_a").orderBy(
        F.desc("lift"), F.desc("n_ab"), F.asc("item_b"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .select("item_a", "item_b", "n_ab", "lift",
                    F.col("rn").cast("int").alias("rn")))


RFM_QUARTILES = (0.25, 0.5, 0.75)


def q_rfm(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quartile scores, the classic marketing-analytics segmentation
    (beyond reference — SURVEY.md §2 note; the reference's user stats,
    models.py:71-77, keep only a rating count+mean per user). Each
    customer gets three 1-4 scores (4 = best: most recent, most
    frequent, highest spend) and the concatenated segment label
    ("444" = champions) a campaign targets on.

    Determinism: metrics live in integer domains (days, counts,
    cents), and the ``F.percentile`` quartile boundaries are exact in
    binary floating point ON THEIR OWN: the quartile fractions are
    dyadic (0.25/0.5/0.75 → f ∈ {0, 1/4, 1/2, 3/4} exactly), a+f·(b−a)
    over integer-valued brackets therefore has an exactly-representable
    product and sum, and DuckDB quantile_cont evaluates the same dyadic
    arithmetic — so both engines produce bit-identical boundary
    doubles, which then feed strict comparisons (boundary-crossing
    counts), not rounding.  (q_percentiles itself moved to the
    integer-rational bracket kernel in round 7 because ITS fractions —
    e.g. 0.95 — are not dyadic; quartiles never needed that.)

    Scale shape: one custkey-keyed aggregate; the anchor date and the
    nine quartile boundaries reduce to ONE scalar row broadcast back
    (no global sort, no ntile — ranking against broadcast boundaries
    is the 1000-executor form of quantile scoring). Exact percentile
    buffers per-distinct-value counts on one reducer; recency/
    frequency domains are tiny, and for a monetary domain too wide
    for that, percentile_approx is the documented drop-in (identical
    plan shape, sketch-bounded memory).
    """
    day = F.to_date("o_orderdate")
    now = orders.agg(F.max(day).alias("now_d"))
    per = (
        orders.groupBy("o_custkey")
        .agg(F.max(day).alias("last_d"),
             F.count(F.lit(1)).alias("frequency"),
             # integer-cents HALF_UP (see part_popularity)
             F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
             .alias("monetary_cents"))
        .crossJoin(F.broadcast(now))
        .select("o_custkey",
                F.datediff("now_d", "last_d").alias("recency_days"),
                "frequency", "monetary_cents"))
    bounds = per.agg(*[
        F.percentile(m, F.lit(q)).alias(f"{m[0]}q{i}")
        for m in ("recency_days", "frequency", "monetary_cents")
        for i, q in enumerate(RFM_QUARTILES, 1)])

    def _score_high(col: str, pre: str):  # higher metric -> higher score
        return (F.lit(1)
                + (F.col(col) > F.col(f"{pre}q1")).cast("int")
                + (F.col(col) > F.col(f"{pre}q2")).cast("int")
                + (F.col(col) > F.col(f"{pre}q3")).cast("int"))

    # recency inverts: LOWER days-since-last-order is the better score
    r_score = (F.lit(1)
               + (F.col("recency_days") < F.col("rq3")).cast("int")
               + (F.col("recency_days") < F.col("rq2")).cast("int")
               + (F.col("recency_days") < F.col("rq1")).cast("int"))
    f_score = _score_high("frequency", "f")
    m_score = _score_high("monetary_cents", "m")
    return (
        per.crossJoin(F.broadcast(bounds))
        .select("o_custkey", "recency_days", "frequency", "monetary_cents",
                r_score.alias("r_score"), f_score.alias("f_score"),
                m_score.alias("m_score"),
                F.concat(r_score.cast("string"), f_score.cast("string"),
                         m_score.cast("string")).alias("segment"))
    )


HIST_BIN_WIDTH = 500.0


def q_histogram(orders: DataFrame,
                bin_width: float = HIST_BIN_WIDTH) -> DataFrame:
    """Equi-width histogram of order totals — the binning operator a
    dashboard or data-profiling pass runs over any numeric column
    (beyond reference — SURVEY.md §2 note; complements q_profile's
    min/max/null summary with the distribution's shape). One row per
    occupied bucket with its [lo, hi) bounds, count, and the actual
    min/max observed inside.

    Determinism: bucket = floor(x / width) on identical doubles; bin
    bounds are bigint × 500.0 products (exactly representable); the
    in-bucket min/max are RAW stored doubles — no re-rounding anywhere,
    so every cell is bit-identical across engines.

    Scale shape: a map-side expression plus one aggregate on a keyspace
    of |range|/width buckets — partial aggregation collapses each
    partition to its occupied buckets before the exchange, so shuffle
    volume is O(buckets), not O(rows), at any corpus size.
    """
    t = orders.select(
        F.floor(F.col("o_totalprice") / bin_width).alias("bucket"),
        F.col("o_totalprice").alias("p"))
    return (
        t.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.min("p").alias("lo_price"),
             F.max("p").alias("hi_price"))
        .select("bucket",
                (F.col("bucket") * bin_width).alias("bin_lo"),
                ((F.col("bucket") + 1) * bin_width).alias("bin_hi"),
                "n_orders", "lo_price", "hi_price")
    )


CORR_COLS = {
    # integer-valued projections of lineitem's numeric columns —
    # exact-sum domains (see q_corr_matrix docstring for the bound)
    "quantity": "CAST(round(l_quantity, 0) AS BIGINT)",
    "price_usd": "CAST(round(l_extendedprice, 0) AS BIGINT)",
    "discount_pct": "CAST(round(l_discount * 100, 0) AS BIGINT)",
    "tax_pct": "CAST(round(l_tax * 100, 0) AS BIGINT)",
}


def q_corr_matrix(lineitem: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns — the data-profiling companion to q_profile (beyond
    reference — SURVEY.md §2 note). Spark's ``corr`` aggregate uses a
    streaming (Welford-style) update whose float result depends on
    partition merge order, so it can never hash-match another engine;
    this operator instead computes the five exact integer sums (n, Σx,
    Σy, Σx², Σxy) per pair and evaluates the textbook formula
    r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) over
    CAST-to-double sums with identical association on both engines —
    deterministic at any partitioning, because integer sums have no
    merge-order sensitivity.

    Exactness bound: the largest sum is Σprice² ≈ (1e5)² × |rows| —
    inside int64 to ~1e8 rows and double-exact (< 2^53) conversions to
    ~9e15; beyond that the doubles round identically on both engines
    as long as the int64 sums don't overflow (Spark would need the
    DECIMAL(38) sum variant past ~1e8 rows; documented, not hit at
    bench scale).

    Scale shape: ONE scalar aggregate (map-side partials collapse each
    partition to 15 numbers), then a row-local 6-way stack — no
    per-pair passes, no shuffle beyond the single scalar Exchange.
    """
    names = list(CORR_COLS)
    t = lineitem.select(
        *[F.expr(e).alias(n) for n, e in CORR_COLS.items()])
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(n).alias(f"s_{n}") for n in names]
    aggs += [F.sum(F.col(n) * F.col(n)).alias(f"ss_{n}") for n in names]
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    aggs += [F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}")
             for a, b in pairs]
    row = t.agg(*aggs)

    def _corr(a: str, b: str):
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        n = d("n")
        cov = n * d(f"sp_{a}_{b}") - d(f"s_{a}") * d(f"s_{b}")
        va = n * d(f"ss_{a}") - d(f"s_{a}") * d(f"s_{a}")
        vb = n * d(f"ss_{b}") - d(f"s_{b}") * d(f"s_{b}")
        return F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6)

    stacked = F.expr(
        "stack({}, {}) as (col_a, col_b, corr)".format(
            len(pairs),
            ", ".join(f"'{a}', '{b}', _c_{a}_{b}" for a, b in pairs)))
    return (
        row.select("n", *[_corr(a, b).alias(f"_c_{a}_{b}")
                          for a, b in pairs])
        .select("n", stacked)
        .select("col_a", "col_b", "n", "corr")
    )


def order_priority_revenue(lineitem: DataFrame,
                           orders: DataFrame) -> DataFrame:
    """Fact-fact join + rollup: discounted revenue per order priority.
    Layout-neutral semantics — the declared q_bucketed_join entry
    feeds it the MAINTAINED co-bucketed copies (both clustered and
    sorted on the order key, ONE file per bucket), which removes both
    fact-side join Exchanges; fed raw catalog tables it is an ordinary
    two-Exchange SMJ with identical answers (tests/test_layout.py
    asserts the plan delta, the shared oracle asserts the answers).
    The SMJ's per-partition Sort stays by default — since SPARK-28632
    the scan only advertises bucket-sortedness under
    ``spark.sql.legacy.bucketedTableScan.outputOrdering``, a safe
    opt-in here because the writer guarantees single-file buckets
    (the test proves the flag removes the Sort); unflagged it sorts
    already-sorted runs in place, no shuffle.

    This is the missing half of the bucketing story: q_top_movies_
    bucketed amortizes a GROUP BY Exchange, this one amortizes the
    fact-fact JOIN Exchange — at 100 TB the dominant shuffle in any
    star-schema pipeline joining two order-keyed fact tables.

    Revenue stays in integer cents until one final double division
    (the A1 discipline); the per-priority agg re-shards a 5-key
    keyspace, collapsed map-side first.
    """
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
        0).cast("long")
    return (
        lineitem.select(F.col("l_orderkey").alias("ok"), cents.alias("c"))
        .join(orders.select(F.col("o_orderkey").alias("ok"),
                            "o_orderpriority"), "ok")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"),
             (F.sum("c").cast("double") / 100.0).alias("revenue"))
    )


def q_skyline(part: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts: the rows no other part
    dominates, where "better" = lower ``p_retailprice`` AND higher
    ``p_size`` (dominance needs one strict inequality, so identical
    (price, size) twins never dominate each other and surface together
    with their multiplicity). Beyond reference — SURVEY.md §2 notes no
    preference queries exist there; this is the classic BNL/SFS skyline
    operator (Börzsönyi et al., ICDE'01) re-expressed as two keyed
    collapses plus one running-max scan instead of the quadratic
    NOT-EXISTS self-join the oracle runs.

    Shape: (1) collapse rows to distinct (price, size) pairs with
    multiplicity — duplicates vanish BEFORE any comparison; (2) per
    price keep only the max size (``max_by`` carries the multiplicity),
    since equal-price-smaller-size is strictly dominated; (3) order the
    survivors by price ascending — now sizes of non-dominated rows must
    strictly increase, so one running-max window keeps exactly the
    frontier.

    Scale shape: two keyed shuffles collapse the corpus to at most
    |distinct prices| rows; only that collapsed set enters the final
    single-task ordered scan (same bounded-input contract as
    q_percentiles' per-group sort). At 100 TB the prefilters run
    map-side-combined on the full cluster and the frontier scan sees
    thousands of rows, not billions.
    """
    pairs = part.groupBy("p_retailprice", "p_size").agg(
        F.count(F.lit(1)).alias("n_parts"))
    per_price = pairs.groupBy("p_retailprice").agg(
        F.max("p_size").alias("p_size"),
        F.max_by("n_parts", "p_size").alias("n_parts"))
    w = (Window.orderBy(F.col("p_retailprice").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        per_price.withColumn("_run", F.max("p_size").over(w))
        .where(F.col("_run").isNull() | (F.col("p_size") > F.col("_run")))
        .select("p_retailprice", "p_size", "n_parts")
    )


def q_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the §2.4 grouping
    family next to q_rollup/q_cube: user-chosen sets ((status,
    priority), (priority), ()) rather than the hierarchical/powerset
    defaults, with ``grouping_id`` disambiguating subtotal rows from
    genuine NULL keys. Revenue follows the integer-cents discipline so
    every engine sums exactly.

    Scale shape: Catalyst plans grouping sets as a single Expand +
    one hash aggregate — rows replicate once per set (3× here) but
    partial aggregation collapses them map-side, so the exchange
    carries |groups| not 3×|rows|.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select("o_orderstatus", "o_orderpriority",
                      cents.alias("c"))
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"],
             []],
            "o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("long").alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             (F.sum("c").cast("double") / 100.0).alias("revenue"))
    )


def q_mode(orders: DataFrame) -> DataFrame:
    """Per-group categorical MODE with a deterministic tie-break: the
    most frequent order priority within each order status (ties resolve
    to the lexicographically smallest priority, because an unordered
    argmax is engine-dependent). Companion to q_profile's numeric
    summary — the categorical central tendency the reference's stats
    page surfaces as "most common rating" (statistics.py:30 analogue).

    Shape: one (status, priority) count — the only corpus-sized
    exchange — then a row_number window AND the group total as a
    window sum over the SAME status partitioning, so ranking and
    normalization ride one sort with no join-back.
    """
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_mode"))
    w = Window.partitionBy("o_orderstatus")
    rank = (Window.partitionBy("o_orderstatus")
            .orderBy(F.desc("n_mode"), F.asc("o_orderpriority")))
    return (
        counts
        .withColumn("n_total", F.sum("n_mode").over(w))
        .withColumn("_rn", F.row_number().over(rank))
        .where(F.col("_rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n_mode", "n_total",
            F.round(F.col("n_mode").cast("double")
                    / F.col("n_total").cast("double"), 6).alias("share"))
    )


def q_json_decode(events: DataFrame) -> DataFrame:
    """JSON payload decode + aggregate — the read half of S12's
    serialization story (q_json_encode writes JSON; this parses the
    events table's ``props`` payload ``{"k": <int>}`` the way the
    reference's API layer deserializes request bodies,
    web/routes.py:61 analogue). ``get_json_object`` is JVM codegen —
    no Python touches the hot path — and malformed/missing keys
    surface as a counted NULL bucket instead of poisoning the run.

    Scale shape: row-local parse, then ONE event_type-keyed aggregate
    (5-key keyspace, map-side combined); distinct-k adds the usual
    two-phase distinct inside the same exchange.
    """
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count("k").alias("n_parsed"),
             F.countDistinct("k").alias("n_distinct_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"),
             F.sum("k").cast("long").alias("sum_k"))
    )


NEG_K = 5           # negatives kept per user
NEG_OVERSAMPLE = 4  # hash slots drawn per negative kept


def q_negative_sample(customer: DataFrame, part: DataFrame,
                      lineitem: DataFrame, orders: DataFrame,
                      k: int = NEG_K) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for recommender training: for
    each user, k items they have NOT interacted with — the contrastive
    examples every implicit-feedback trainer (BPR, sampled-softmax,
    ALS-implicit negatives) consumes at the same volume as positives.

    The complement is never materialized (q_candidates' |C|×|P| cliff,
    SURVEY §7.3): each user draws k·NEG_OVERSAMPLE pseudo-random item
    SLOTS — item = md5(user:slot) % |items| over the contiguous id
    space, the q_spatial_join md5 trick, so the draw is a pure
    function of (user, corpus) and reproducible across runs, reshards,
    and engines — then one anti-join against the seen pairs removes
    collisions with positives and the first k survivors by slot order
    are kept. Oversampling bound: a user keeps k whenever their seen
    fraction is below 1 − k/m minus collision slack (here m = 20 slots
    against a ~2% seen fraction; real catalogs are far sparser) —
    under-filled users emit what survives, never a substitute item,
    and every row carries ``n_negs`` (the user's kept count, ≤ k) so
    downstream trainers that assume exactly k negatives per user can
    detect the shortfall with a row-local predicate instead of a
    re-aggregation (ADVICE r6).

    Scale shape: slots explode row-local from the user table (small);
    the ONLY corpus-sized moves are the seen-pair distinct and the
    (user, item)-keyed anti-join; the final per-user top-k is one
    WindowGroupLimit window. No cross join anywhere.
    """
    m = k * NEG_OVERSAMPLE
    n_items = part.select(F.count(F.lit(1)).alias("n_items"))
    seen = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("user_id"),
                F.col("l_partkey").alias("item_id"))
        .distinct()
    )
    h = F.conv(F.substring(F.md5(F.concat(
        F.col("user_id").cast("string"), F.lit(":"),
        F.col("slot").cast("string")).cast("binary")), 1, 15),
        16, 10).cast("bigint")
    cand = (
        customer.select(F.col("c_custkey").alias("user_id"))
        .select("user_id",
                F.explode(F.array(*[F.lit(j) for j in range(m)]))
                .alias("slot"))
        .crossJoin(F.broadcast(n_items))
        .select("user_id", "slot",
                F.pmod(h, F.col("n_items")).alias("item_id"))
        # one slot per distinct (user, item): different items draw from
        # disjoint slot sets, so min(slot) is unique per user and the
        # slot order below is total
        .groupBy("user_id", "item_id").agg(F.min("slot").alias("slot"))
    )
    unseen = cand.join(seen, ["user_id", "item_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("slot")
    w_all = Window.partitionBy("user_id")
    return (
        unseen
        .select("user_id", "item_id",
                F.row_number().over(w).alias("rn"),
                # kept-count per user: survivors capped at k; rides
                # the same user partitioning (no extra Exchange)
                F.least(F.count(F.lit(1)).over(w_all), F.lit(k))
                .cast("int").alias("n_negs"))
        .filter(F.col("rn") <= k)
        .select("user_id", "item_id",
                F.col("rn").cast("int").alias("neg_rank"), "n_negs")
    )
