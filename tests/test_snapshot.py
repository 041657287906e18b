"""Manifest-committed snapshot tables (sources/snapshot.py): atomic
commits, snapshot isolation, optimistic concurrency, time travel,
vacuum. The load-bearing test is the concurrent one — a reader loop
running against a merge loop must NEVER observe a half-merged table,
which is exactly what a plain dynamic partition overwrite cannot
promise."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from movie_rec_spark.sources.snapshot import (
    SnapshotConflict,
    _load_manifest,
    _publish,
    manifest_entries,
    snapshot_append,
    snapshot_compact,
    snapshot_create,
    snapshot_merge,
    snapshot_read,
    snapshot_vacuum,
    snapshot_version,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "snap")
    rows = [Row(id=i, day=d, val=f"v{i}")
            for d in (1, 2, 3) for i in range(d * 10, d * 10 + 3)]
    snapshot_create(spark, path, spark.createDataFrame(rows), "day")
    return path


def test_snapshot_create_read_roundtrip(spark, table):
    df = snapshot_read(spark, table)
    assert df.count() == 9
    assert set(df.columns) == {"id", "day", "val"}
    # manifest-level pruning: only day=2's files are opened
    pruned = snapshot_read(spark, table, partitions=["2"])
    assert {r.day for r in pruned.collect()} == {2}
    assert all("_p=2" in f for f in pruned.inputFiles())


def test_snapshot_merge_upsert_delete_insert(spark, table):
    updates = spark.createDataFrame([
        Row(id=20, day=2, val="UPDATED", _deleted=False),  # update
        Row(id=21, day=2, val=None, _deleted=True),        # delete
        Row(id=99, day=4, val="NEW", _deleted=False),      # insert (new part)
    ])
    summary = snapshot_merge(spark, table, updates, keys=["id", "day"])
    assert summary["version"] == 2
    got = {(r.id, r.day): r.val for r in snapshot_read(spark, table).collect()}
    assert got[(20, 2)] == "UPDATED"
    assert (21, 2) not in got
    assert got[(99, 4)] == "NEW"
    assert len(got) == 9  # 9 - 1 deleted + 1 inserted


def test_snapshot_merge_carries_untouched_files_by_reference(spark, table):
    before = {e["path"]: os.stat(e["path"]).st_mtime_ns
              for e in manifest_entries(table, partitions=["1", "3"])}
    seg_before = {p: refs for p, refs in
                  _load_manifest(table)["partitions"].items()
                  if p in ("1", "3")}
    updates = spark.createDataFrame([Row(id=20, day=2, val="X")])
    snapshot_merge(spark, table, updates, keys=["id", "day"])
    after = {e["path"]: os.stat(e["path"]).st_mtime_ns
             for e in manifest_entries(table, partitions=["1", "3"])}
    assert after == before, \
        "untouched partitions must carry over by reference (zero IO)"
    seg_after = {p: refs for p, refs in
                 _load_manifest(table)["partitions"].items()
                 if p in ("1", "3")}
    assert seg_after == seg_before, \
        "untouched partitions' SEGMENTS must carry by reference too"


def test_snapshot_fully_deleted_partition_vanishes(spark, table):
    updates = spark.createDataFrame(
        [(i, 1, None, True) for i in (10, 11, 12)],
        "id bigint, day bigint, val string, _deleted boolean")
    snapshot_merge(spark, table, updates, keys=["id", "day"])
    assert set(_load_manifest(table)["partitions"]) == {"2", "3"}
    assert {r.day for r in snapshot_read(spark, table).collect()} == {2, 3}


def test_snapshot_merge_guards(spark, table):
    dup = spark.createDataFrame(
        [Row(id=20, day=2, val="a"), Row(id=20, day=2, val="b")])
    with pytest.raises(ValueError, match="key-unique"):
        snapshot_merge(spark, table, dup, keys=["id", "day"])
    with pytest.raises(ValueError, match="must be part of the merge key"):
        snapshot_merge(spark, table,
                       spark.createDataFrame([Row(id=20, day=2, val="a")]),
                       keys=["id"])
    nullp = spark.createDataFrame([Row(id=20, day=None, val="a")],
                                  "id bigint, day bigint, val string")
    with pytest.raises(ValueError, match="NULL"):
        snapshot_merge(spark, table, nullp, keys=["id", "day"])
    with pytest.raises(ValueError, match="required"):
        snapshot_merge(spark, table,
                       spark.createDataFrame([Row(id=3, val="x")]),
                       keys=["id", "day"])


def test_snapshot_ts_guard_ignores_stale_updates(spark, tmp_path):
    path = str(tmp_path / "cdc")
    snapshot_create(
        spark, path,
        spark.createDataFrame([Row(id=1, day=1, ts=100, val="current")]),
        "day")
    snapshot_merge(
        spark, path,
        spark.createDataFrame([Row(id=1, day=1, ts=50, val="stale")]),
        keys=["id", "day"], ts_col="ts")
    got = snapshot_read(spark, path).collect()
    assert [(r.ts, r.val) for r in got] == [(100, "current")]
    # an equal ts wins (the guard is >=)
    snapshot_merge(
        spark, path,
        spark.createDataFrame([Row(id=1, day=1, ts=100, val="equal")]),
        keys=["id", "day"], ts_col="ts")
    got = snapshot_read(spark, path).collect()
    assert [(r.ts, r.val) for r in got] == [(100, "equal")]


def test_snapshot_concurrent_reader_never_sees_partial_merge(
        spark, tmp_path):
    """THE atomicity test: a reader hammering the table while a writer
    commits full-table updates must always see a CONSISTENT snapshot —
    all 9 rows present and every row carrying the same generation tag.
    Under plain dynamic partition overwrite this interleaving shows
    mixed generations (directories swap one at a time); under manifest
    commits it cannot, because the version claim is one atomic link."""
    table = str(tmp_path / "gen")
    ids = [(i, d) for d in (1, 2, 3) for i in range(d * 10, d * 10 + 3)]
    snapshot_create(
        spark, table,
        spark.createDataFrame([Row(id=i, day=d, val="g0") for i, d in ids]),
        "day")
    errors: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            rows = snapshot_read(spark, table).collect()
            gens = {r.val for r in rows}
            if len(rows) != 9 or len(gens) != 1:
                errors.append(
                    f"partial snapshot: {len(rows)} rows, gens {gens}")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for gen in range(1, 6):
            updates = spark.createDataFrame(
                [Row(id=i, day=d, val=f"g{gen}") for i, d in ids])
            snapshot_merge(spark, table, updates, keys=["id", "day"])
    finally:
        stop.set()
        t.join()
    assert not errors, errors[0]
    final = {r.val for r in snapshot_read(spark, table).collect()}
    assert final == {"g5"}


def test_snapshot_conflict_detected(spark, table):
    """Two writers racing to claim the same version: the second link
    fails with SnapshotConflict and publishes nothing."""
    base = snapshot_version(table)
    parts = _load_manifest(table)["partitions"]
    _publish(table, parts, "merge", {"partition_col": "day"}, base)
    with pytest.raises(SnapshotConflict):
        _publish(table, parts, "merge", {"partition_col": "day"}, base)
    assert snapshot_version(table) == base + 1


def test_snapshot_time_travel_and_vacuum(spark, table):
    v1_rows = {(r.id, r.val)
               for r in snapshot_read(spark, table, version=1).collect()}
    snapshot_merge(
        spark, table,
        spark.createDataFrame([Row(id=20, day=2, val="EDIT")]),
        keys=["id", "day"])
    # old snapshot still fully readable after the commit (isolation)
    assert {(r.id, r.val)
            for r in snapshot_read(spark, table, version=1).collect()} \
        == v1_rows
    assert {r.val for r in snapshot_read(spark, table).collect()
            if r.id == 20} == {"EDIT"}
    # vacuum to the latest version only: v1's replaced day=2 files go
    # retention_s=0: immediate reclamation, legal only writers-stopped
    res = snapshot_vacuum(spark, table, keep_versions=1, retention_s=0.0)
    assert res["removed_manifests"] == 1
    assert res["removed_files"] >= 1
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, table, version=1)
    # current snapshot unharmed
    assert snapshot_read(spark, table).count() == 9


def test_snapshot_append_and_compact(spark, table):
    for i in range(5):
        snapshot_append(
            spark, table,
            spark.createDataFrame([Row(id=100 + i, day=2, val=f"a{i}")]))
    day2 = manifest_entries(table, partitions=["2"])
    assert len(day2) > 4
    pre = snapshot_version(table)
    res = snapshot_compact(spark, table, max_files=4)
    assert res["rewritten"] == 1
    day2_after = manifest_entries(table, partitions=["2"])
    assert len(day2_after) < len(day2)
    # rows identical across the rewrite, and day 1/3 untouched
    got = snapshot_read(spark, table)
    assert got.filter(F.col("day") == 2).count() == 8
    assert got.count() == 14
    # pre-compaction snapshot readable until vacuumed (reader safety)
    assert snapshot_read(spark, table, version=pre).count() == 14


def test_snapshot_stream_exactly_once_commits(spark, tmp_path):
    """CDC stream -> snapshot table: every micro-batch is one atomic
    version claim, a stale late update (older ts than the row it
    targets) leaves that row as it is, and a REPLAYED batch (fresh
    checkpoint over the same source — ids restart at 0) is skipped
    entirely via the last_stream_batch_id floor: zero new versions,
    zero re-application. The floor survives compaction commits in
    between."""
    from movie_rec_spark.sources.snapshot import snapshot_compact
    from movie_rec_spark.streaming.lakehouse import (
        merge_batch_snapshot,
        merge_stream_snapshot,
        read_change_stream,
    )

    table = str(tmp_path / "snap_tbl")
    src = str(tmp_path / "snap_src")
    schema = ("id bigint, day bigint, val string, ts bigint, "
              "event_id bigint, _deleted boolean")
    snapshot_create(
        spark,
        table,
        spark.createDataFrame(
            [(1, 1, "a", 100, 0, False), (3, 2, "c", 100, 2, False)],
            schema).drop("_deleted"),
        "day")

    b1 = [(1, 1, "a2", 200, 10, False),    # update
          (4, 2, "d", 200, 12, False)]     # insert
    b2 = [(3, 2, None, 300, 21, True),     # tombstone
          (1, 1, "STALE", 150, 20, False)]  # older than b1's 200
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    log = merge_stream_snapshot(
        spark, read_change_stream(spark, src, schema), table,
        str(tmp_path / "ckpt1"), keys=["id", "day"])
    assert len(log) == 2 and not any(
        s.get("skipped_replay") for s in log)

    def state():
        return {(r.id, r.day): (r.val, r.ts)
                for r in snapshot_read(spark, table).collect()}

    want = {(1, 1): ("a2", 200), (4, 2): ("d", 200)}
    assert state() == want
    v_after = snapshot_version(table)

    # a maintenance commit must CARRY the stream floor forward
    snapshot_compact(spark, table, max_files=0)

    # full replay: fresh checkpoint, same source, ids restart at 0
    replay_log = merge_stream_snapshot(
        spark, read_change_stream(spark, src, schema), table,
        str(tmp_path / "ckpt2"), keys=["id", "day"])
    assert all(s["skipped_replay"] for s in replay_log), replay_log
    assert state() == want
    assert snapshot_version(table) == v_after + 1  # only the compact

    # a genuinely NEW batch id above the floor still commits
    out = merge_batch_snapshot(
        spark.createDataFrame([(5, 1, "e", 400, 30, False)], schema),
        table, keys=["id", "day"], ts_col="ts",
        tiebreak_col="event_id", batch_id=2)
    assert not out.get("skipped_replay")
    assert out["last_stream_batch_id"] == 2
    assert state() == {**want, (5, 1): ("e", 400)}

    # an empty batch commits nothing and reports snapshot_merge's keys
    empty = merge_batch_snapshot(
        spark.createDataFrame([], schema), table, keys=["id", "day"],
        ts_col="ts", tiebreak_col="event_id", batch_id=3)
    assert set(empty) <= set(out), empty
    assert empty["files_added"] == 0
    assert empty["version"] == out["version"] == snapshot_version(table)


def test_merge_batch_snapshot_job_count(spark, tmp_path):
    """One non-empty micro-batch costs a fixed number of Spark jobs:
    snapshot_merge's single meta aggregate also counts the rows, so no
    separate emptiness probe runs first."""
    from movie_rec_spark.streaming.lakehouse import merge_batch_snapshot
    from spark_jobs import jobs_launched

    table = str(tmp_path / "t")
    schema = ("id bigint, day bigint, val string, ts bigint, "
              "event_id bigint, _deleted boolean")
    snapshot_create(spark, table, spark.createDataFrame(
        [(1, 1, "a", 100, 0, False)], schema).drop("_deleted"), "day")
    batch = spark.createDataFrame(
        [(1, 1, "a2", 200, 10, False), (4, 2, "d", 200, 12, False)], schema)
    base = snapshot_version(table)
    assert jobs_launched(spark, lambda: merge_batch_snapshot(
        batch, table, keys=["id", "day"], ts_col="ts",
        tiebreak_col="event_id", batch_id=1)) <= 8
    assert snapshot_version(table) == base + 1


def test_snapshot_schema_evolution(spark, table):
    """Extra update columns are refused by default, widen the table
    with schema_evolution=True, and resident rows read the new column
    as null across file generations (mergeSchema union)."""
    widened = spark.createDataFrame(
        [Row(id=20, day=2, val="W", score=0.9)])
    with pytest.raises(ValueError, match="schema_evolution"):
        snapshot_merge(spark, table, widened, keys=["id", "day"])
    snapshot_merge(spark, table, widened, keys=["id", "day"],
                   schema_evolution=True)
    got = {r.id: r for r in snapshot_read(spark, table).collect()}
    assert got[20].score == 0.9
    assert got[10].score is None          # untouched old-generation file
    assert len(got) == 9
    # partial-column batches are refused with a clear error
    with pytest.raises(ValueError, match="lacks table columns"):
        snapshot_merge(spark, table,
                       spark.createDataFrame([Row(id=20, day=2, val="x")]),
                       keys=["id", "day"])


def test_snapshot_manifest_file_stats_skipping(spark, tmp_path):
    """stats_cols records per-file (min, max) in the manifest; a range
    read opens ONLY intersecting files (file-level skipping above
    parquet row groups) and stats survive merge commits. Layout: one
    partition, many files each covering a disjoint ts range."""
    path = str(tmp_path / "stats")
    snapshot_create(
        spark, path,
        spark.createDataFrame([Row(id=0, day=1, ts=0, val="seed")]),
        "day", stats_cols=["ts"])
    for base in (100, 200, 300, 400):
        snapshot_append(
            spark, path,
            spark.createDataFrame(
                [Row(id=base + i, day=1, ts=base + i, val="x")
                 for i in range(10)]).coalesce(1))
    ents = manifest_entries(path)
    assert all("stats" in e for e in ents), ents
    pruned = snapshot_read(spark, path, ranges={"ts": (205, 215)})
    assert len(pruned.inputFiles()) == 1   # only the 200-file intersects
    rows = pruned.filter("ts BETWEEN 205 AND 215").collect()
    assert sorted(r.ts for r in rows) == list(range(205, 210))
    # a merge rewrite keeps recording stats (carried via the manifest)
    snapshot_merge(
        spark, path,
        spark.createDataFrame([Row(id=205, day=1, ts=205, val="EDIT")]),
        keys=["id", "day"])
    assert all("stats" in e for e in manifest_entries(path))
    # open-ended range: everything >= 400
    hi = snapshot_read(spark, path, ranges={"ts": (400, None)})
    assert len(hi.inputFiles()) == 1


def test_snapshot_concurrent_writers_retry_rebase(spark, tmp_path):
    """Two writer threads race 5 disjoint-key merges each through
    snapshot_merge_retry: every commit lands exactly once (10 + create
    versions), all 10 rows present — optimistic concurrency resolves
    the races without a coordinator."""
    from movie_rec_spark.sources.snapshot import snapshot_merge_retry

    path = str(tmp_path / "race")
    snapshot_create(
        spark, path,
        spark.createDataFrame([Row(id=0, day=1, val="seed")]), "day")
    errors: list[Exception] = []

    def writer(offset: int) -> None:
        try:
            for i in range(5):
                snapshot_merge_retry(
                    spark, path,
                    spark.createDataFrame(
                        [Row(id=offset + i, day=1, val=f"w{offset + i}")]),
                    keys=["id", "day"], max_attempts=20)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    got = {r.id for r in snapshot_read(spark, path).collect()}
    assert got == {0} | {100 + i for i in range(5)} \
        | {200 + i for i in range(5)}
    assert snapshot_version(path) == 11  # create + 10 merges


def test_snapshot_changes_between_versions(spark, table):
    """CDF across versions: a merge that updates, deletes and inserts
    shows exactly those rows as changed/removed/added between v1 and
    current, and nothing else."""
    from movie_rec_spark.sources.snapshot import snapshot_changes

    snapshot_merge(spark, table, spark.createDataFrame([
        Row(id=20, day=2, val="EDIT", _deleted=False),
        Row(id=21, day=2, val=None, _deleted=True),
        Row(id=99, day=4, val="NEW", _deleted=False),
    ]), keys=["id", "day"])
    ch = {(r.id, r.day): r.status
          for r in snapshot_changes(spark, table, ["id", "day"], 1)
          .filter(F.col("status") != "unchanged").collect()}
    assert ch == {(20, 2): "changed", (21, 2): "removed",
                  (99, 4): "added"}


def test_snapshot_refuses_type_drift(spark, table):
    """A batch whose column type differs from the table's is refused
    at COMMIT time with a clear error — accepted drift would poison
    every later mergeSchema read (CANNOT_MERGE_SCHEMAS mid-query)."""
    drift = spark.createDataFrame(
        [(50, 1, "x")], "id int, day bigint, val string")  # id int != bigint
    with pytest.raises(ValueError, match="type drift|types differ"):
        snapshot_append(spark, table, drift)
    with pytest.raises(ValueError, match="type drift|types differ"):
        snapshot_merge(spark, table, drift, keys=["id", "day"])
    # correctly-typed commits still flow
    ok = spark.createDataFrame([(50, 1, "x")],
                               "id bigint, day bigint, val string")
    snapshot_append(spark, table, ok)
    assert snapshot_read(spark, table).count() == 10


def test_snapshot_chaos_writer_compactor_reader(spark, tmp_path):
    """Three concurrent actors: a merging writer, a compacting
    maintainer (both rebasing through snapshot_merge_retry /
    conflict-tolerant compaction), and a reader asserting full
    consistency on every read. No partial state, no lost commit, no
    exception escapes — the protocol under realistic contention."""
    from movie_rec_spark.sources.snapshot import snapshot_merge_retry

    table = str(tmp_path / "chaos")
    ids = [(i, d) for d in (1, 2) for i in range(d * 10, d * 10 + 4)]
    snapshot_create(
        spark, table,
        spark.createDataFrame([Row(id=i, day=d, val="g0") for i, d in ids]),
        "day")
    errors: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            rows = snapshot_read(spark, table).collect()
            gens = {r.val for r in rows}
            if len(rows) != 8 or len(gens) != 1:
                errors.append(f"inconsistent: {len(rows)} rows {gens}")
                return

    def compactor():
        while not stop.is_set():
            try:
                snapshot_compact(spark, table, max_files=2)
            except SnapshotConflict:
                continue  # lost a race to the writer; rebase next loop

    rt = threading.Thread(target=reader)
    ct = threading.Thread(target=compactor)
    rt.start(); ct.start()
    try:
        for gen in range(1, 5):
            snapshot_merge_retry(
                spark, table,
                spark.createDataFrame(
                    [Row(id=i, day=d, val=f"g{gen}") for i, d in ids]),
                keys=["id", "day"], max_attempts=30)
    finally:
        stop.set()
        rt.join(); ct.join()
    assert not errors, errors[0]
    final = snapshot_read(spark, table).collect()
    assert len(final) == 8 and {r.val for r in final} == {"g4"}


def test_snapshot_append_folds_segment_metadata(spark, table):
    """Steady appends keep each partition's reference list bounded by
    the fold threshold (metadata-only rewrite — data files untouched),
    and every appended row survives the folds."""
    from movie_rec_spark.sources.snapshot import SEG_FOLD_THRESHOLD

    data_files_before = {e["path"]
                         for e in manifest_entries(table,
                                                   partitions=["1"])}
    for i in range(SEG_FOLD_THRESHOLD + 9):
        snapshot_append(
            spark, table,
            spark.createDataFrame(
                [Row(id=1000 + i, day=1, val=f"a{i}")]).coalesce(1))
    refs = _load_manifest(table)["partitions"]["1"]
    assert len(refs) <= SEG_FOLD_THRESHOLD + 1, len(refs)
    ents = manifest_entries(table, partitions=["1"])
    assert data_files_before <= {e["path"] for e in ents}  # no data rewrite
    got = {r.id for r in snapshot_read(spark, table,
                                       partitions=["1"]).collect()}
    assert {1000 + i for i in range(SEG_FOLD_THRESHOLD + 9)} <= got


def test_vacuum_retention_protects_inflight_commit(spark, tmp_path):
    """The multi-writer safety guard: data files + segments an in-flight
    commit wrote BEFORE its version claim are referenced by no manifest
    at scan time; default-retention vacuum must leave them alone (the
    round-5 vacuum deleted them — committed data loss)."""
    from movie_rec_spark.sources.snapshot import _write_data_files

    path = str(tmp_path / "ret")
    snapshot_create(spark, path,
                    spark.createDataFrame([Row(id=1, day=1, val="a")]),
                    "day")
    # simulate a writer mid-commit: files landed, claim not yet made
    inflight = _write_data_files(
        spark.createDataFrame([Row(id=2, day=1, val="b")]), path, "day")
    res = snapshot_vacuum(spark, path, keep_versions=1)  # default retention
    assert res["removed_files"] == 0
    assert all(os.path.exists(e["path"]) for e in inflight)
    # the in-flight writer can still publish a valid v2 afterwards
    from movie_rec_spark.sources.snapshot import _write_segments
    parts = dict(_load_manifest(path)["partitions"])
    for p, refs in _write_segments(path, inflight).items():
        parts[p] = parts.get(p, []) + refs
    _publish(path, parts, "append", {"partition_col": "day"}, 1)
    assert snapshot_read(spark, path).count() == 2


def test_vacuum_never_deletes_versions_above_scan_current(
        spark, table, monkeypatch):
    """A version published concurrently after the vacuum scan captured
    'current' must survive even with retention_s=0 — it IS the table."""
    import movie_rec_spark.sources.snapshot as SN

    snapshot_merge(spark, table,
                   spark.createDataFrame([Row(id=20, day=2, val="EDIT")]),
                   keys=["id", "day"])
    real_current = snapshot_version(table)  # 2
    # vacuum believes v1 is current (v2 published "after" its scan)
    monkeypatch.setattr(SN, "snapshot_version",
                        lambda p: real_current - 1)
    SN.snapshot_vacuum(spark, table, keep_versions=1, retention_s=0.0)
    monkeypatch.undo()
    assert snapshot_version(table) == real_current
    assert {r.val for r in snapshot_read(spark, table).collect()
            if r.id == 20} == {"EDIT"}


def test_snapshot_hive_escaped_partition_values_roundtrip(spark, tmp_path):
    """Partition values Spark percent-escapes in directory names (space,
    ':') must appear RAW in the manifest, or a merge on that partition
    silently drops its resident rows (the round-5 escape mismatch)."""
    path = str(tmp_path / "esc")
    rows = [Row(id=1, cat="a b", val="keep1"),
            Row(id=2, cat="a b", val="keep2"),
            Row(id=3, cat="x:y", val="keep3")]
    snapshot_create(spark, path, spark.createDataFrame(rows), "cat")
    assert set(_load_manifest(path)["partitions"]) == {"a b", "x:y"}
    snapshot_merge(spark, path,
                   spark.createDataFrame([Row(id=1, cat="a b", val="EDIT")]),
                   keys=["id", "cat"])
    got = {(r.id): r.val for r in snapshot_read(spark, path).collect()}
    # resident row id=2 of the escaped partition SURVIVES the merge
    assert got == {1: "EDIT", 2: "keep2", 3: "keep3"}
    pruned = snapshot_read(spark, path, partitions=["a b"])
    assert {r.id for r in pruned.collect()} == {1, 2}


def test_snapshot_create_append_refuse_null_partition(spark, tmp_path):
    path = str(tmp_path / "np")
    nullp = spark.createDataFrame([Row(id=1, day=None, val="a")],
                                  "id bigint, day bigint, val string")
    with pytest.raises(ValueError, match="NULL"):
        snapshot_create(spark, path, nullp, "day")
    snapshot_create(spark, path,
                    spark.createDataFrame([Row(id=1, day=1, val="a")]),
                    "day")
    with pytest.raises(ValueError, match="NULL"):
        snapshot_append(spark, path, nullp)


def test_snapshot_read_empty_states_return_empty_frame(spark, tmp_path):
    """Legal empty states (all rows tombstoned; partition probe miss)
    read back as an EMPTY frame with the recorded schema, not an
    error."""
    path = str(tmp_path / "empty")
    snapshot_create(spark, path,
                    spark.createDataFrame([Row(id=1, day=1, val="a")]),
                    "day")
    miss = snapshot_read(spark, path, partitions=["99"])
    assert miss.count() == 0
    assert set(miss.columns) == {"id", "day", "val"}
    snapshot_merge(spark, path,
                   spark.createDataFrame(
                       [(1, 1, None, True)],
                       "id bigint, day bigint, val string, "
                       "_deleted boolean"),
                   keys=["id", "day"])
    empty = snapshot_read(spark, path)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "day", "val"}



def test_snapshot_compact_sort_col_orders_rows(spark, tmp_path):
    """Compaction with ``sort_col``: the rewritten partition is one file
    whose physical row order follows the column, rows unchanged."""
    path = str(tmp_path / "sorted")
    mk = lambda lo: spark.createDataFrame(
        [Row(id=i, day=1, a=(i * 37) % 60) for i in range(lo, lo + 10)])
    snapshot_create(spark, path, mk(0), "day")
    for lo in (10, 20, 30, 40, 50):
        snapshot_append(spark, path, mk(lo))
    res = snapshot_compact(spark, path, max_files=1, sort_col="a")
    assert res["rewritten"] == 1
    got = snapshot_read(spark, path)
    assert {r.id for r in got.collect()} == set(range(60))
    files = got.inputFiles()
    assert len(files) == 1
    a = [r.a for r in spark.read.parquet(files[0].replace("file:", ""))
         .select("a").collect()]
    assert a == sorted(a) and len(a) == 60
