"""End-to-end movie-rec pipeline — the reference's three jobs composed.

Reference flow (SURVEY.md §3.3/§3.4):
  1. ingest: CSV → typed ratings table (prepare_dataset.py:76-87)
  2. compact: composite-PK upsert semantics (session.merge, M2)
  3. stats: per-movie count/avg with HAVING (statistics.py:19-35, T2)
  4. train + top-N: SVD → per-user top-20 (estimator.py:104-129, T1)
  5. persist: pipelined KV writes (estimator.py:81-102, S9)
  6. serve: recs minus already-rated, popularity back-fill (T4), answered
     by array lookups in a ``ServingIndex`` of the gold tables

Here each stage is a pure transform over gold parquet tables; the
15/30-minute cadence is an external trigger (cron, or a Structured
Streaming ``trigger(processingTime=...)``) re-running
``run_pipeline``. The refresh never collects to the driver; serving
reads the gold tables into the driver once per ``PipelineResult``
(three Arrow reads, the reference's Redis views) and runs no Spark job
per request."""

from __future__ import annotations

import threading
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rec_spark import ml
from movie_rec_spark.operators.mutation import upsert_latest
from movie_rec_spark.operators.relational import csr, csr_rows
from movie_rec_spark.sources import kv as KV

STAT_LOWER_LIMIT = 5   # web/config.py:27
TOP_N = 20             # web/config.py:26


@dataclass
class PipelineResult:
    ratings: DataFrame        # deduped (user_id, movie_id) latest-wins
    movie_stats: DataFrame    # movie_id, count_users, avg_ratings
    recommendations: DataFrame  # user_id, item_id, score, rank
    rec_kv: DataFrame         # key "u{uid}", value "id;id;..."

    @cached_property
    def serving_index(self) -> ServingIndex:
        """This result's serving index, loaded on first use by three
        Arrow reads and kept for the result's lifetime: a new result
        (a new refresh, other frames) loads its own."""
        return ServingIndex(
            self.ratings.select("user_id", "movie_id").toArrow(),
            self.recommendations.select("user_id", "item_id",
                                        "score").toArrow(),
            self.movie_stats.select("movie_id", "count_users").toArrow())


class ServingIndex:
    """One refresh's gold tables held on the driver for serving — the
    views the reference's refresh job materializes in Redis
    (estimator.py:81-102) and its controller reads per request
    (controller.py:215-224).

    Seen sets and recommendations are CSR arrays (sorted user keys plus
    offsets into one flat column), each user's recs pre-sorted by score
    desc then item_id asc; popularity is movie_stats ordered by
    count_users desc then movie_id asc. These snapshot arrays are
    read-only. ``add_seen`` keeps the one mutable part: ratings written
    after the snapshot, per user and append-only, which every answer
    excludes (the reference reconciles against live ratings at read
    time, controller.py:227-233)."""

    def __init__(self, seen: pa.Table, recs: pa.Table,
                 popularity: pa.Table):
        user, movie = (seen.column(c).to_numpy()
                       for c in ("user_id", "movie_id"))
        order = np.argsort(user, kind="stable")
        self._seen_keys, self._seen_off = csr(user[order])
        self._seen = movie[order]

        user, item, score = (recs.column(c).to_numpy()
                             for c in ("user_id", "item_id", "score"))
        order = np.lexsort((item, -score, user))
        self._rec_keys, self._rec_off = csr(user[order])
        self._rec_items, self._rec_scores = item[order], score[order]

        movie, count = (popularity.column(c).to_numpy()
                        for c in ("movie_id", "count_users"))
        order = np.lexsort((movie, -count))
        self._pop_items = movie[order]
        self._pop_scores = count[order].astype(np.float64)

        for a in (self._seen_keys, self._seen_off, self._seen,
                  self._rec_keys, self._rec_off, self._rec_items,
                  self._rec_scores, self._pop_items, self._pop_scores):
            a.flags.writeable = False
        self._fresh: dict[int, np.ndarray] = {}
        self._lock = threading.Lock()

    def add_seen(self, user_id: int, movie_ids) -> None:
        """Record ratings ``user_id`` wrote after the snapshot: no later
        answer for that user contains these movies."""
        ids = np.asarray(list(movie_ids), dtype=self._seen.dtype)
        with self._lock:
            self._fresh[user_id] = np.union1d(
                self._fresh.get(user_id, ids[:0]), ids)

    def recommend(self, user_id: int, n: int) -> pa.Table:
        """The serving overlay by array lookups: the user's unseen
        recs (score desc, item_id asc), then the popularity back-fill
        without seen or recommended items, ``n`` rows at most.
        ``tests/overlay.py`` holds the overlay as Spark joins, the
        reference this index is tested against."""
        if n < 0:
            raise ValueError(f"n must be >= 0, got {n}")
        seen = self._seen[csr_rows(self._seen_keys, self._seen_off, user_id)]
        fresh = self._fresh.get(user_id)
        if fresh is not None:
            seen = np.concatenate([seen, fresh])
        mine = csr_rows(self._rec_keys, self._rec_off, user_id)
        recs = self._rec_items[mine]
        keep = np.flatnonzero(~np.isin(recs, seen))[:n]
        # each excluded item skips at most one popular item
        excluded = np.concatenate([seen, recs])
        top = self._pop_items[:n - len(keep) + len(excluded)]
        fill = np.flatnonzero(~np.isin(top, excluded))[:n - len(keep)]
        return pa.table({
            "item_id": np.concatenate([recs[keep], top[fill]]),
            "score": np.concatenate([self._rec_scores[mine][keep],
                                     self._pop_scores[fill]]),
            "rec_source": pa.array(
                ["als"] * len(keep) + ["popular"] * len(fill), pa.string()),
        })


def compact_ratings(raw_ratings: DataFrame) -> DataFrame:
    """M2: one row per (user_id, movie_id), newest ts wins — the batch
    equivalent of the reference's ``session.merge`` upsert."""
    return upsert_latest(
        raw_ratings, keys=("user_id", "movie_id"),
        ts_col="ts", tiebreak_col="rating",
    )


def movie_stats(ratings: DataFrame,
                lower_limit: int = STAT_LOWER_LIMIT) -> DataFrame:
    """statistics.py:19-35: explicit ratings only, count/avg per movie,
    strict HAVING count > lower_limit."""
    return (
        ratings.filter(~F.col("is_implicit"))
        .groupBy("movie_id")
        .agg(
            F.count("user_id").cast("int").alias("count_users"),
            F.avg("rating").alias("avg_ratings"),
        )
        .filter(F.col("count_users") > F.lit(lower_limit))
    )


def run_pipeline(spark: SparkSession, raw_ratings: DataFrame,
                 out_dir: str | None = None,
                 top_n: int = TOP_N,
                 als_kwargs: dict | None = None) -> PipelineResult:
    """The full recompute job (T1+T2). With ``out_dir``, gold tables are
    written as parquet (the Redis-materialization replacement, S9/S10)."""
    ratings = compact_ratings(raw_ratings)
    stats = movie_stats(ratings)

    als_input = ratings.select(
        "user_id",
        F.col("movie_id").alias("item_id"),
        "rating",
    ).filter(F.col("rating").isNotNull())
    model = ml.train_als(als_input, **(als_kwargs or {}))
    recs = ml.recommend_top_n(model, top_n)
    rec_kv = KV.encode_rec_list(recs, top_n)

    if out_dir:
        stats.write.mode("overwrite").parquet(f"{out_dir}/movie_stats")
        recs.write.mode("overwrite").parquet(f"{out_dir}/recommendations")
        rec_kv.write.mode("overwrite").parquet(f"{out_dir}/rec_kv")
    return PipelineResult(ratings, stats, recs, rec_kv)


def serve_recommendations(result: PipelineResult, user_id: int,
                          n: int = 10) -> DataFrame:
    """T4 read path: PRECOMPUTED recs (the pipeline's gold table — no
    model fit at serve time) minus the user's ratings, back-filled from
    the popularity ranking (README.md:42-44), under exactly the
    overlay rules ``relational.q_recommend`` serves. Answered from
    ``result.serving_index`` by array lookups; the answer is a
    DataFrame over an Arrow table (a ``LocalRelation``), so planning
    and collecting it run no Spark job."""
    return result.ratings.sparkSession.createDataFrame(
        result.serving_index.recommend(user_id, n))
