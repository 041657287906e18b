"""Sessionization: batch session_window vs first-principles expectation,
and the streaming session_window path against the batch result."""

from __future__ import annotations

import datetime as dt
import shutil

from movie_rec_spark.operators.temporal import q_sessionize
from movie_rec_spark.sources.catalog import load_table
from movie_rec_spark.streaming.sessions import session_windows_stream

SF = "/root/testdata/sf0.001"
EVENTS_DDL = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, m), uid, "view", v, "")
         for i, (uid, m, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_batch_sessionize_gap_semantics(spark):
    # user 1: events at :00 :10 :20 -> one session; :55 (gap 35m) -> new.
    # user 2: :00 then :30 exactly -> gap == 30min still MERGES
    # (session_window closes strictly after last_ts + gap).
    ev = _mk_events(spark, [
        (1, 0, 1.0), (1, 10, 2.0), (1, 20, 3.0), (1, 55, 4.0),
        (2, 0, 5.0), (2, 30, 6.0),
    ])
    got = {
        (r.user_id, r.session_start.minute): (r.n_events, r.total_value)
        for r in q_sessionize(ev).collect()
    }
    assert got == {
        (1, 0): (3, 6.0),
        (1, 55): (1, 4.0),
        (2, 0): (2, 11.0),
    }


def _batch_sessions(spark):
    return {
        (r.user_id, r.session_start, r.session_end):
            (r.n_events, round(r.total_value, 2))
        for r in q_sessionize(load_table(spark, SF, "events")).collect()
    }


def _stage(spark, tmp_path, n_files=3):
    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").repartition(n_files).write.mode(
        "overwrite").parquet(src)
    shutil.rmtree(f"{src}/_SUCCESS", ignore_errors=True)
    return src


def _read_stream(spark, src):
    return spark.readStream.schema(EVENTS_DDL).parquet(src)


def test_streaming_session_window_subset_of_batch(spark, tmp_path):
    src = _stage(spark, tmp_path)
    q = (
        session_windows_stream(_read_stream(spark, src))
        .writeStream.outputMode("append")
        .format("memory").queryName("t_sess_native")
        .option("checkpointLocation", str(tmp_path / "ck_native"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end):
            (r.n_events, round(r.total_value, 2))
        for r in spark.sql("SELECT * FROM t_sess_native").collect()
    }
    want = _batch_sessions(spark)
    # append mode emits only watermark-closed sessions -> subset, and
    # every emitted session must match the batch computation exactly.
    assert got, "no sessions emitted"
    assert set(got).issubset(set(want))
    assert all(got[k] == want[k] for k in got)

