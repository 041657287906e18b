"""Serving reads over the star tables: Spark jobs per request, answers
that follow a table rewritten in place, and the held top-movies answer
matching the plan it was computed from."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from movie_rec_spark import memo
from movie_rec_spark.operators import relational as R
from movie_rec_spark.sources.catalog import load_table
from spark_jobs import jobs_launched

SF = "/root/testdata/sf0.001"
USER = 7

READS = {
    # name: (build over a table loader, job budget on a memo hit)
    "q_top_movies": (lambda t: R.q_top_movies(t("lineitem"), t("part")), 0),
    "q_user_latest_ratings": (lambda t: R.q_user_latest_ratings(
        t("orders"), t("customer"), custkey=USER), 2),
    "q_user_top_ratings": (lambda t: R.q_user_top_ratings(
        t("orders"), t("customer"), custkey=USER), 2),
    "q_user_rated_movies": (lambda t: R.q_user_rated_movies(
        t("lineitem"), t("orders"), t("part"), custkey=USER), 3),
    "q_recommend": (lambda t: R.q_recommend(
        t("lineitem"), t("orders"), custkey=USER), 4),
}


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


def test_rewritten_lineitem_is_served_afresh(spark, tmp_path):
    d = str(tmp_path)
    for name in ("lineitem", "orders", "part"):
        shutil.copyfile(f"{SF}/{name}.parquet", f"{d}/{name}.parquet")
    t = _loader(spark, d)

    def answers():
        return (R.q_top_movies(t("lineitem"), t("part")).collect(),
                R.q_recommend(t("lineitem"), t("orders"),
                              custkey=USER).collect())

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
