"""MERGE INTO over a partitioned parquet table (SURVEY §1.4's ACID
MERGE mapping, minus the commit protocol — see sources/merge.py).

The load-bearing assertion is the partition-scoping one: a merge batch
touching days 2/3/4 must leave day 1's files BYTE-IDENTICAL on disk
(same names, sizes, mtimes) — that's what makes a 10-row merge into a
100 TB table affordable."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row

from movie_rec_spark.sources.merge import merge_into


def _snapshot(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            out[full] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.fixture()
def target(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = [Row(id=i, day=d, val=f"v{i}")
            for d in (1, 2, 3) for i in range(d * 10, d * 10 + 3)]
    (spark.createDataFrame(rows)
     .write.partitionBy("day").parquet(path))
    return path


def test_merge_upsert_delete_insert(spark, target):
    updates = spark.createDataFrame([
        Row(id=20, day=2, val="UPDATED", _deleted=False),   # update
        Row(id=21, day=2, val=None, _deleted=True),         # delete
        Row(id=99, day=2, val="NEW", _deleted=False),       # insert
        Row(id=400, day=4, val="NEWPART", _deleted=False),  # new partition
    ])
    before = {f for f in _snapshot(target) if "/day=1/" in f}
    summary = merge_into(spark, target, updates,
                         keys=["id", "day"], partition_col="day")
    assert summary == {"partitions": 2, "updated": 1,
                       "deleted": 1, "inserted": 2, "ignored": 0}
    got = {(r.id, r.day): r.val
           for r in spark.read.parquet(target).collect()}
    assert got[(20, 2)] == "UPDATED"
    assert (21, 2) not in got
    assert got[(99, 2)] == "NEW"
    assert got[(400, 4)] == "NEWPART"
    assert got[(10, 1)] == "v10"  # untouched partition intact
    assert len(got) == 9 - 1 + 2


def test_merge_leaves_untouched_partitions_bit_identical(spark, target):
    before = {k: v for k, v in _snapshot(target).items()
              if "/day=1/" in k or "/day=3/" in k}
    merge_into(
        spark, target,
        spark.createDataFrame([Row(id=20, day=2, val="x")]),
        keys=["id", "day"], partition_col="day")
    after = {k: v for k, v in _snapshot(target).items()
             if "/day=1/" in k or "/day=3/" in k}
    assert after == before  # same files, sizes, mtimes — never rewritten


def test_merge_drops_fully_deleted_partition(spark, target):
    updates = spark.createDataFrame(
        [(i, 3, None, True) for i in (30, 31, 32)],
        "id bigint, day bigint, val string, _deleted boolean")
    summary = merge_into(spark, target, updates,
                         keys=["id", "day"], partition_col="day")
    assert summary["deleted"] == 3
    left = spark.read.parquet(target)
    assert left.filter("day = 3").count() == 0
    assert not os.path.exists(os.path.join(target, "day=3"))
    assert left.count() == 6


def test_merge_rejects_bad_batches(spark, target):
    dup = spark.createDataFrame(
        [Row(id=20, day=2, val="a"), Row(id=20, day=2, val="b")])
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, target, dup, keys=["id", "day"],
                   partition_col="day")
    with pytest.raises(ValueError, match="partition_col"):
        merge_into(spark, target,
                   spark.createDataFrame([Row(id=20, day=2, val="a")]),
                   keys=["id"], partition_col="day")


def test_merge_ts_guard_ignores_stale_updates(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    (spark.createDataFrame(
        [Row(id=1, day=1, val="a", ts=100)])
     .write.partitionBy("day").parquet(path))
    summary = merge_into(
        spark, path,
        spark.createDataFrame([Row(id=1, day=1, val="OLD", ts=50)]),
        keys=["id", "day"], partition_col="day", ts_col="ts")
    assert summary["ignored"] == 1 and summary["updated"] == 0
    assert spark.read.parquet(path).collect()[0].val == "a"
    # equal ts wins (>= guard), newer ts wins
    merge_into(
        spark, path,
        spark.createDataFrame([Row(id=1, day=1, val="NEW", ts=100)]),
        keys=["id", "day"], partition_col="day", ts_col="ts")
    assert spark.read.parquet(path).collect()[0].val == "NEW"


def test_cdc_merge_stream_end_to_end(spark, tmp_path):
    """CDC stream -> lakehouse merge: two micro-batches, tombstones,
    a stale late update, and a replayed batch — final table state must
    be the ts-ordered truth regardless, and the replay a no-op."""
    from movie_rec_spark.streaming.lakehouse import (
        merge_batch,
        merge_stream,
        read_change_stream,
    )

    target = str(tmp_path / "cdc_tbl")
    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = ("id bigint, day bigint, val string, ts bigint, "
              "event_id bigint, _deleted boolean")
    (spark.createDataFrame(
        [(1, 1, "a", 100, 0, False), (2, 1, "b", 100, 1, False),
         (3, 2, "c", 100, 2, False)], schema)
     .drop("_deleted").write.partitionBy("day").parquet(target))

    b1 = [(1, 1, "a2", 200, 10, False),   # update
          (2, 1, None, 250, 11, True),    # tombstone
          (4, 2, "d", 200, 12, False)]    # insert
    b2 = [(1, 1, "STALE", 150, 20, False),  # older than b1's 200 → ignored
          (3, 2, "c2", 300, 21, False)]     # update
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    log = merge_stream(
        spark, read_change_stream(spark, src, schema), target, ckpt,
        keys=["id", "day"], partition_col="day")
    assert sum(s["deleted"] for s in log) == 1
    assert sum(s["ignored"] for s in log) == 1

    def state():
        return {(r.id, r.day): (r.val, r.ts)
                for r in spark.read.parquet(target).collect()}

    want = {(1, 1): ("a2", 200), (3, 2): ("c2", 300),
            (4, 2): ("d", 200)}
    assert state() == want
    # replay of batch 2 (at-least-once delivery) is a no-op
    replay = merge_batch(
        spark.createDataFrame(b2, schema), target,
        keys=["id", "day"], partition_col="day",
        ts_col="ts", tiebreak_col="event_id")
    assert state() == want
    assert replay["ignored"] == 1  # the stale row stays stale


def test_merge_matches_reference_model(spark, tmp_path):
    """Property-style sweep: merge_into must match a pure-Python
    reference model of the MERGE semantics (ts guard, tombstones,
    inserts, ignored stale rows) across seeded random scenarios —
    including all-deleted partitions and new-partition inserts."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        path = str(tmp_path / f"prop_{seed}")
        target = {}
        for _ in range(rng.randint(1, 12)):
            k = (rng.randint(1, 5), rng.randint(1, 3))
            target[k] = (f"t{rng.randint(0, 9)}", rng.randint(0, 5))
        batch = {}
        for _ in range(rng.randint(1, 8)):
            k = (rng.randint(1, 6), rng.randint(1, 4))
            batch[k] = (f"u{rng.randint(0, 9)}", rng.randint(0, 5),
                        rng.random() < 0.3)
        (spark.createDataFrame(
            [(i, d, v, t) for (i, d), (v, t) in target.items()],
            "id bigint, day bigint, val string, ts bigint")
         .write.partitionBy("day").parquet(path))

        expect = dict(target)
        for (i, d), (v, t, dele) in batch.items():
            if (i, d) in expect:
                if t >= expect[(i, d)][1]:
                    if dele:
                        del expect[(i, d)]
                    else:
                        expect[(i, d)] = (v, t)
            elif not dele:
                expect[(i, d)] = (v, t)

        merge_into(
            spark, path,
            spark.createDataFrame(
                [(i, d, v, t, dele)
                 for (i, d), (v, t, dele) in batch.items()],
                "id bigint, day bigint, val string, ts bigint, "
                "_deleted boolean"),
            keys=["id", "day"], partition_col="day", ts_col="ts")
        got = {(r.id, r.day): (r.val, r.ts)
               for r in spark.read.parquet(path).collect()}
        assert got == expect, f"seed {seed}"


def test_merge_schema_discipline_and_evolution(spark, tmp_path):
    """An update column the table lacks is refused by default (silent
    drop is the worst sink failure); with schema_evolution=True the
    table widens, resident rows read the new column as null, and a
    batch missing an existing column leaves matched rows' values
    untouched."""
    path = str(tmp_path / "evo")
    (spark.createDataFrame([Row(id=1, day=1, val="a"),
                            Row(id=2, day=2, val="b")])
     .write.partitionBy("day").parquet(path))

    widened = spark.createDataFrame(
        [Row(id=1, day=1, val="a2", lang="en")])
    with pytest.raises(ValueError, match="schema_evolution"):
        merge_into(spark, path, widened, keys=["id", "day"],
                   partition_col="day")
    summary = merge_into(spark, path, widened, keys=["id", "day"],
                         partition_col="day", schema_evolution=True)
    assert summary["updated"] == 1
    got = {r.id: (r.val, r.lang)
           for r in spark.read.option("mergeSchema", "true")
           .parquet(path).collect()}
    assert got[1] == ("a2", "en")
    assert got[2] == ("b", None)  # resident row widened with null

    # a batch NOT carrying an existing column must not null it out
    merge_into(spark, path,
               spark.createDataFrame([Row(id=1, day=1, lang="de")]),
               keys=["id", "day"], partition_col="day")
    got = {r.id: (r.val, r.lang)
           for r in spark.read.option("mergeSchema", "true")
           .parquet(path).collect()}
    assert got[1] == ("a2", "de")  # val untouched, lang updated

    # required key/ts columns must be present
    with pytest.raises(ValueError, match="required"):
        merge_into(spark, path,
                   spark.createDataFrame([Row(id=3, val="x")]),
                   keys=["id", "day"], partition_col="day")


def test_q_merge_stream_duplicate_delivery_equals_batch_merge(spark):
    """The declared streaming query: batch 1 delivered TWICE, then
    batch 2 — the final table equals the one-shot batch MERGE row for
    row (at-least-once delivery provably changes nothing)."""
    from movie_rec_spark.operators.mutation import q_merge_events
    from movie_rec_spark.sources.catalog import load_table
    from movie_rec_spark.streaming.lakehouse import q_merge_stream

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {tuple(r) for r in q_merge_stream(ev).collect()}
    want = {tuple(r) for r in q_merge_events(ev).collect()}
    assert got == want and got
