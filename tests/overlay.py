"""Reference models of the T4 serving overlay (controller.py:180-314,
README.md:42-44): keep the user's precomputed recs that are still
unseen, back-fill from the popularity ranking excluding both seen and
already-recommended, serve precomputed-before-popular.

``serve_overlay`` states the overlay as Spark joins over a FIXED
``recs`` input; ``ServingIndex`` (pipeline.py) and
``relational.q_recommend`` are tested against it. ``recommend_model``
is the same overlay over the star tables in numpy and pandas, cheap
enough to check ``q_recommend`` for every customer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rec_spark.operators import relational as R


def serve_overlay(recs: DataFrame, seen: DataFrame, popularity: DataFrame,
                  n: int = R.REC_LIMIT) -> DataFrame:
    """The overlay by a double anti-join back-fill and a union.

    Inputs: recs(item_id, score, rec_source), seen(item_id),
    popularity(item_id, score). recs/seen are one user's rows, broadcast
    into the anti-joins; popularity is the large side.
    """
    fresh = recs.join(F.broadcast(seen), "item_id", "left_anti")
    backfill = (
        popularity
        .join(F.broadcast(seen), "item_id", "left_anti")
        .join(F.broadcast(fresh.select("item_id")), "item_id", "left_anti")
        .orderBy(F.desc("score"), F.asc("item_id"))
        .limit(n)
        .withColumn("rec_source", F.lit("popular"))
    )
    ranked = fresh.withColumn("_prio", F.lit(0)).unionByName(
        backfill.withColumn("_prio", F.lit(1)))
    return (
        ranked.orderBy(F.asc("_prio"), F.desc("score"), F.asc("item_id"))
        .limit(n)
        .drop("_prio")
    )


def recommend_overlay(lineitem: DataFrame, orders: DataFrame, custkey: int,
                      n: int = R.REC_LIMIT) -> DataFrame:
    """``q_recommend`` composed from ``serve_overlay``: the popularity
    top-``n`` as the precomputed recs, the customer's order lines as
    the seen set."""
    pop = R.part_popularity(lineitem).select(
        F.col("l_partkey").alias("item_id"),
        F.col("cnt_orders").cast("double").alias("score"), "avg_price")
    prerecs = (
        pop.orderBy(F.desc("score"), F.desc("avg_price"), F.asc("item_id"))
        .limit(n)
        .select("item_id", "score", F.lit("precomputed").alias("rec_source"))
    )
    seen = R.user_parts(lineitem, orders, custkey).select(
        F.col("l_partkey").alias("item_id"))
    return serve_overlay(prerecs, seen, pop.select("item_id", "score"), n)


def popularity_model(lineitem: pd.DataFrame) -> pd.DataFrame:
    """``part_popularity`` in pandas, ranked as the precomputed slate:
    item_id, score, avg_price ordered by score desc, avg_price desc,
    item_id asc (the star tables here have no null keys)."""
    li = lineitem[lineitem["l_quantity"] >= R.QTY_THRESHOLD]
    # HALF_UP, as Spark rounds
    cents = np.floor(li["l_extendedprice"] * 100 + 0.5).astype("int64")
    g = cents.groupby(li["l_partkey"])
    cnt, total = g.size(), g.sum()
    pop = pd.DataFrame({
        "item_id": cnt.index.to_numpy(),
        "score": cnt.to_numpy().astype(float),
        "avg_price": ((2 * total + cnt) // (2 * cnt)).to_numpy() / 100.0,
    })
    return pop.sort_values(["score", "avg_price", "item_id"],
                           ascending=[False, False, True],
                           ignore_index=True)


def recommend_model(pop: pd.DataFrame, seen: set,
                    n: int = R.REC_LIMIT) -> list[tuple]:
    """The overlay over ``popularity_model``'s ranking and one seen
    set, as (item_id, score, rec_source) rows."""
    fresh = [r for r in pop.head(n).itertuples() if r.item_id not in seen]
    taken = {r.item_id for r in fresh}
    rest = pop[~pop["item_id"].isin(seen | taken)].sort_values(
        ["score", "item_id"], ascending=[False, True])
    rows = ([(r.item_id, r.score, "precomputed") for r in fresh]
            + [(r.item_id, r.score, "popular")
               for r in rest.head(n).itertuples()])
    rows.sort(key=lambda r: (r[2] == "popular", -r[1], r[0]))
    return [(int(i), float(s), src) for i, s, src in rows[:n]]
