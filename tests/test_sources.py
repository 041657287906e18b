"""CSV source, catalog table and KV value-encoding tests (SURVEY.md §2.1
S1-S3, S9-S11)."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from movie_rec_spark import memo
from movie_rec_spark.sources import csv as C
from movie_rec_spark.sources import kv as KV
from movie_rec_spark.sources.catalog import load_table, table_rows


def test_read_ratings_csv(spark, tmp_path):
    p = tmp_path / "ratings.csv"
    p.write_text(
        "userId,movieId,rating,timestamp\n"
        "1,10,3.5,1704067200\n"
        "2,20,5.0,1704067260\n"
    )
    out = C.read_ratings_csv(spark, str(p)).collect()
    assert {(r.user_id, r.movie_id, r.rating) for r in out} == {
        (1, 10, 3.5), (2, 20, 5.0)}
    assert out[0].ts.year == 2024


def test_read_links_csv_prunes_columns(spark, tmp_path):
    p = tmp_path / "links.csv"
    p.write_text("movieId,imdbId,tmdbId\n1,tt1,100\n2,tt2,200\n")
    df = C.read_links_csv(spark, str(p))
    assert df.columns == ["movie_id", "tmdb_id"]
    assert {(r.movie_id, r.tmdb_id) for r in df.collect()} == {(1, 100), (2, 200)}


def test_read_quoted_csv_multiline(spark, tmp_path):
    p = tmp_path / "movies.csv"
    p.write_text(
        '"movieId","title","description"\n'
        '"1","Comma, The Movie","line one\nline two"\n'
        '"2","Quote ""inner"" title","plain"\n'
    )
    schema = StructType([
        StructField("movieId", IntegerType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
    ])
    out = {r.movieId: r for r in
           C.read_quoted_csv(spark, str(p), schema).collect()}
    assert out[1].title == "Comma, The Movie"
    assert out[1].description == "line one\nline two"
    assert out[2].title == 'Quote "inner" title'


NS = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999,
      1_700_000_002_999_999_999]


@pytest.mark.parametrize("case", ["new_column", "row_count",
                                  "nanos_column", "spark_directory"])
def test_table_rewritten_in_place_is_read_afresh(spark, tmp_path, case):
    """A table rewritten at the same path is read with its new schema and
    counted afresh: no memoized schema, row count or ns-column list of
    the old version is served."""
    sf_dir, path = str(tmp_path), str(tmp_path / "region.parquet")
    old = {"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}
    new = {"r_regionkey": [0, 1, 2], "r_name": ["AFRICA", "ASIA", "EUROPE"],
           "r_comment": (pa.array(NS, pa.timestamp("ns"))
                         if case == "nanos_column" else ["a", "b", "c"])}

    def write(cols):
        if case == "spark_directory":
            (spark.createDataFrame(pa.table(cols).to_pandas())
             .write.mode("overwrite").parquet(path))
        else:
            pq.write_table(pa.table(cols), path)

    write(old)
    assert load_table(spark, sf_dir, "region").columns == list(old)
    assert table_rows(sf_dir, "region") == 2
    write(new)
    df = load_table(spark, sf_dir, "region")
    if case == "row_count":
        assert table_rows(sf_dir, "region") == 3
    elif case == "nanos_column":
        micros = df.orderBy("r_regionkey").selectExpr(
            "unix_micros(r_comment)").collect()
        assert [r[0] for r in micros] == [n // 1000 for n in NS]
    else:
        assert df.columns == list(new)
        assert sorted(r.r_comment for r in df.collect()) == ["a", "b", "c"]


@pytest.fixture
def region(spark, tmp_path, monkeypatch):
    """(sf_dir, path, parquet reads) over a fresh two-row ``region``."""
    sf_dir, path = str(tmp_path), str(tmp_path / "region.parquet")
    os.makedirs(path)
    pq.write_table(pa.table({"r_regionkey": [0, 1],
                             "r_comment": pa.array(NS[:2], pa.timestamp("ns"))}),
                   f"{path}/part-0.parquet")
    reads = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *p, **kw: reads.append(p)
                        or real(self, *p, **kw))
    memo.clear()
    yield sf_dir, path, reads
    memo.clear()


def _micros(df):
    return [r[0] for r in df.orderBy("r_regionkey").selectExpr(
        "unix_micros(r_comment)").collect()]


def test_unchanged_table_is_one_held_frame(spark, region):
    sf_dir, path, reads = region
    first = load_table(spark, sf_dir, "region")
    assert reads == [(path,)]
    assert load_table(spark, sf_dir, "region") is first
    assert reads == [(path,)]
    assert _micros(first) == [n // 1000 for n in NS[:2]]


def test_rewritten_table_gets_a_new_frame_over_its_new_files(spark, region):
    sf_dir, path, reads = region
    first = load_table(spark, sf_dir, "region")
    old_files = set(first.inputFiles())
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2],
                             "r_comment": pa.array(NS, pa.timestamp("ns"))}),
                   f"{path}/part-1.parquet")
    again = load_table(spark, sf_dir, "region")
    assert again is not first and len(reads) == 2
    assert set(again.inputFiles()) > old_files
    assert again.count() == 5
    # the frame handed out before keeps its own listing
    assert first.count() == 2
    assert load_table(spark, sf_dir, "region") is again


def test_other_session_gets_its_own_frame(spark, region):
    sf_dir, _, _ = region
    mine = load_table(spark, sf_dir, "region")
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "region")
    assert theirs is not mine
    assert theirs.sparkSession is other and mine.sparkSession is spark
    # nanosAsLong is session conf: the new session reads the ns column
    assert _micros(theirs) == [n // 1000 for n in NS[:2]]
    assert load_table(other, sf_dir, "region") is theirs


def test_concurrent_first_loads_share_one_frame(spark, region):
    sf_dir, _, _ = region
    with ThreadPoolExecutor(8) as pool:
        frames = list(pool.map(lambda _: load_table(spark, sf_dir, "region"),
                               range(16), timeout=120))
    assert all(f is frames[0] for f in frames)
    assert load_table(spark, sf_dir, "region") is frames[0]


def test_memo_clear_drops_held_frames(spark, region):
    sf_dir, _, reads = region
    first = load_table(spark, sf_dir, "region")
    memo.clear()
    assert not memo._entries
    assert load_table(spark, sf_dir, "region") is not first
    assert len(reads) == 2


def test_kv_roundtrip_with_batching(spark):
    recs = spark.createDataFrame([
        Row(user_id=u, item_id=u * 10 + r, score=5.0 - r, rank=r)
        for u in (1, 2) for r in (1, 2, 3)
    ])
    encoded = KV.encode_rec_list(recs, n=2)
    rows = {r.key: r.value for r in encoded.collect()}
    assert rows == {"u1": "11;12", "u2": "21;22"}

    decoded = KV.decode_rec_list(encoded)
    got = {r.user_id: r.item_ids for r in decoded.collect()}
    assert got == {1: [11, 12], 2: [21, 22]}

