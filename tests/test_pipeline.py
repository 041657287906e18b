"""End-to-end pipeline (pipeline.py): the reference's
ingest→compact→stats→train→persist→serve flow as one composable job
(estimator.py:104-129 + statistics.py:19-35 + controller.py:180-314
semantics), on a deterministic synthetic ratings table.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import sys
import threading

import pyarrow as pa
import pytest
from hypothesis import example, given
from hypothesis import strategies as st

from hyp import SLOW
from overlay import serve_overlay
from spark_jobs import jobs_launched
from pyspark.sql import functions as F

from movie_rec_spark import schemas
from movie_rec_spark.pipeline import (
    PipelineResult,
    ServingIndex,
    compact_ratings,
    movie_stats,
    run_pipeline,
    serve_recommendations,
)

T0 = dt.datetime(2024, 1, 1)


def overlay_reference(result, user_id, n):
    """The Spark overlay the serving index must reproduce:
    serve_overlay composed over the result's frames."""
    seen = (
        result.ratings.filter(F.col("user_id") == user_id)
        .select(F.col("movie_id").alias("item_id"))
    )
    recs = (
        result.recommendations.filter(F.col("user_id") == user_id)
        .select("item_id", "score", F.lit("als").alias("rec_source"))
    )
    popularity = result.movie_stats.select(
        F.col("movie_id").alias("item_id"),
        F.col("count_users").cast("double").alias("score"),
    )
    return serve_overlay(recs, seen, popularity, n)


def literal_result(spark, seen, recs, stats):
    """A PipelineResult over literal gold frames, no ALS fit:
    seen (user_id, movie_id), recs (user_id, item_id, score),
    stats (movie_id, count_users)."""
    return PipelineResult(
        spark.createDataFrame(seen, "user_id int, movie_id int"),
        spark.createDataFrame(stats, "movie_id int, count_users int"),
        spark.createDataFrame(recs, "user_id int, item_id int, score double"),
        None,
    )


def served(result, user_id, n):
    return [tuple(r) for r in
            serve_recommendations(result, user_id, n).collect()]


@pytest.fixture(scope="module")
def raw_ratings(spark):
    rows = []
    # 12 users x 8 movies, deterministic half-star ratings; movie 7 rated
    # by only 3 users (below the HAVING limit); user 1 re-rates movie 0
    # (upsert case: old 1.0 -> new 4.5).
    for u in range(1, 13):
        for m in range(8):
            if m == 7 and u > 3:
                continue
            r = 0.5 + ((u * 3 + m * 5) % 10) * 0.5
            rows.append((u, m, r, False, T0 + dt.timedelta(minutes=u * 10 + m)))
    # movies 8..11 rated by everyone EXCEPT user 1 — guaranteed-unseen,
    # stats-eligible serving candidates for user 1
    for u in range(2, 13):
        for m in range(8, 12):
            r = 0.5 + ((u * 3 + m * 5) % 10) * 0.5
            rows.append((u, m, r, False, T0 + dt.timedelta(minutes=u * 10 + m)))
    rows.append((1, 0, 1.0, False, T0 - dt.timedelta(days=1)))  # stale dupe
    rows.append((2, 1, None, True, T0 + dt.timedelta(days=2)))  # implicit watch
    return spark.createDataFrame(rows, schemas.RATINGS)


def test_compact_latest_wins(raw_ratings):
    compacted = compact_ratings(raw_ratings)
    assert compacted.groupBy("user_id", "movie_id").count().filter(
        F.col("count") > 1).count() == 0
    row = compacted.filter((F.col("user_id") == 1) & (F.col("movie_id") == 0)).collect()[0]
    assert row["rating"] == 2.0  # newest ts won, stale 1.0 dropped


def test_movie_stats_having_and_explicit_only(raw_ratings):
    stats = movie_stats(compact_ratings(raw_ratings))
    ids = {r["movie_id"] for r in stats.collect()}
    assert 7 not in ids          # only 3 raters, HAVING count > 5
    assert 1 in ids
    # movie 1: user 2's row became implicit (upsert) -> 11 explicit raters
    m1 = stats.filter(F.col("movie_id") == 1).collect()[0]
    assert m1["count_users"] == 11


def test_full_pipeline_and_serving(spark, raw_ratings, tmp_path):
    result = run_pipeline(
        spark, raw_ratings, out_dir=str(tmp_path),
        top_n=5, als_kwargs={"rank": 4, "max_iter": 5},
    )
    # recs: <= top_n per user, scores clamped into the rating domain
    per_user = result.recommendations.groupBy("user_id").count().collect()
    assert per_user and all(r["count"] <= 5 for r in per_user)
    bad = result.recommendations.filter(
        (F.col("score") < 0.5) | (F.col("score") > 5.0)).count()
    assert bad == 0
    # kv encoding round-trips the rank order
    kv = {r["key"]: r["value"] for r in result.rec_kv.collect()}
    u1 = result.recommendations.filter(F.col("user_id") == 1) \
        .orderBy("rank").select("item_id").collect()
    assert kv["u1"] == ";".join(str(r["item_id"]) for r in u1)
    # gold tables persisted
    assert spark.read.parquet(str(tmp_path / "movie_stats")).count() == \
        result.movie_stats.count()
    # serving: never recommend an already-rated movie, ALS recs first
    served = serve_recommendations(result, user_id=1, n=10).collect()
    seen = {r["movie_id"] for r in
            result.ratings.filter(F.col("user_id") == 1).collect()}
    assert served and all(r["item_id"] not in seen for r in served)
    assert served == overlay_reference(result, 1, 10).collect()
    sources = [r["rec_source"] for r in served]
    first_backfill = sources.index("popular") if "popular" in sources else len(sources)
    assert all(s == "als" for s in sources[:first_backfill])


FIXTURE = dict(
    seen={(0, 0), (0, 1), (0, 2), (2, 5)},
    recs=[(0, 4, 3.0), (0, 1, 5.0), (1, 3, 5.0), (1, 0, 5.0), (1, 2, 5.0),
          (1, 7, 0.5)],
    stats=[(0, 7), (1, 7), (2, 7), (5, 6)])


@SLOW
@given(
    seen=st.sets(st.tuples(st.integers(0, 2), st.integers(0, 7)),
                 max_size=12),
    recs=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 7),
                            st.sampled_from([0.5, 3.0, 5.0])),
                  max_size=15, unique_by=lambda r: r[:2]),
    stats=st.lists(st.tuples(st.integers(0, 9), st.sampled_from([6, 7, 9])),
                   max_size=10, unique_by=lambda r: r[0]),
    user=st.sampled_from([0, 1, 2, 99]),    # 99 is in no table
    n=st.integers(0, 12),
)
# in FIXTURE user 0 has seen every popular movie, user 1 has tied
# clamped 5.0 scores and back-fills over tied count_users, user 2 has
# no recs; n exceeds every user's recs
@example(**FIXTURE, user=0, n=12)
@example(**FIXTURE, user=1, n=12)
@example(**FIXTURE, user=2, n=3)
@example(**FIXTURE, user=99, n=12)
def test_serving_index_matches_serve_overlay(spark, seen, recs, stats, user,
                                             n):
    result = literal_result(spark, sorted(seen), recs, stats)
    ref = overlay_reference(result, user, n)
    got = serve_recommendations(result, user, n)
    assert got.dtypes == ref.dtypes
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in ref.collect()]


def test_add_seen_excludes_movies_rated_after_snapshot(spark):
    result = literal_result(
        spark, seen=[(1, 0)], recs=[(1, 2, 5.0), (1, 3, 4.0), (2, 1, 3.0)],
        stats=[(m, 10 - m) for m in range(6)])
    assert [r[0] for r in served(result, 1, 3)] == [2, 3, 1]
    index = result.serving_index
    index.add_seen(1, [2, 1])
    index.add_seen(1, [4])          # appends; earlier movies stay excluded
    late = {1, 2, 4}
    # unseen recs {3} plus unseen, unrecommended popular movies {5}
    available = 2
    for n in range(6):
        rows = served(result, 1, n)
        assert not late & {r[0] for r in rows}
        assert len(rows) == min(n, available)
    assert served(result, 1, 5) == [(3, 4.0, "als"), (5, 5.0, "popular")]
    # another user's answer is untouched
    assert [r[0] for r in served(result, 2, 2)] == [1, 0]
    with pytest.raises(ValueError):
        served(result, 1, -1)


def test_add_seen_keeps_every_concurrent_write():
    """Threads recording ratings for one user at once: no write is
    lost, so every movie they rated is excluded."""
    movies = 400
    index = ServingIndex(
        pa.table({"user_id": pa.array([], pa.int32()),
                  "movie_id": pa.array([], pa.int32())}),
        pa.table({"user_id": pa.array([], pa.int32()),
                  "item_id": pa.array([], pa.int32()),
                  "score": pa.array([], pa.float64())}),
        pa.table({"movie_id": pa.array(range(movies), pa.int32()),
                  "count_users": pa.array([6] * movies, pa.int32())}))
    workers = 8

    def rate(first):
        for m in range(first, movies, workers):
            index.add_seen(1, [m])

    threads = [threading.Thread(target=rate, args=(w,))
               for w in range(workers)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert index.recommend(1, movies).num_rows == 0
    assert index.recommend(2, movies).num_rows == movies


def test_each_result_serves_its_own_snapshot(spark, tmp_path):
    """Two refreshes over a ratings table rewritten in place: each
    result answers from the snapshot it loaded, and the newer result
    loads its own index rather than reusing the older one."""
    path = str(tmp_path / "ratings")
    recs = [(1, 2, 5.0), (1, 3, 4.0)]
    stats = [(m, 10 - m) for m in range(5)]

    def refresh(seen):
        spark.createDataFrame(seen, "user_id int, movie_id int") \
            .write.mode("overwrite").parquet(path)
        r = literal_result(spark, [], recs, stats)
        return dataclasses.replace(r, ratings=spark.read.parquet(path))

    old = refresh([(1, 2)])
    assert [r[0] for r in served(old, 1, 2)] == [3, 0]
    new = refresh([(1, 3), (1, 0)])
    assert new.serving_index is not old.serving_index
    assert [r[0] for r in served(new, 1, 2)] == [2, 1]
    assert [r[0] for r in served(old, 1, 2)] == [3, 0]
    assert dataclasses.replace(new).serving_index is not new.serving_index


def test_serving_runs_no_spark_job_per_request(spark):
    result = literal_result(
        spark, seen=[(1, 0)], recs=[(1, 2, 5.0), (1, 3, 4.0)],
        stats=[(m, 10 - m) for m in range(6)])
    result.serving_index  # the one-off load runs its Arrow reads here
    # the counter sees the Spark overlay's jobs ...
    assert jobs_launched(
        spark, lambda: overlay_reference(result, 1, 4).collect()) > 0

    # ... and none from serving, collect included
    def requests():
        for u, n in ((1, 4), (2, 3), (99, 10), (1, 1), (1, 0)):
            serve_recommendations(result, u, n).collect()

    assert jobs_launched(spark, requests) == 0
