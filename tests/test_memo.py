"""The library's one memo: bounded, fingerprint-keyed, and it releases
the frames it holds."""

from __future__ import annotations

import gc
import sys
import threading
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from movie_rec_spark import memo


@pytest.fixture
def table(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    memo.clear()
    yield path
    memo.clear()


def _fill(path, n):
    """Insert ``n`` fresh entries keyed on ``path``."""
    for i in range(n):
        memo.lookup(path, ("fill", i), lambda i=i: i)


def test_size_stays_within_bound(table):
    _fill(table, memo.MAX_ENTRIES + 5)
    assert len(memo._entries) == memo.MAX_ENTRIES
    # the least recently used entry went first; the newest stays
    newest = memo.MAX_ENTRIES + 4
    assert memo.lookup(table, ("fill", newest), lambda: "new") == newest
    assert memo.lookup(table, ("fill", 0), lambda: "rebuilt") == "rebuilt"


def test_byte_heavy_entry_evicts_older_ones(table, monkeypatch):
    monkeypatch.setattr(memo, "MAX_BYTES", 1000)
    small = np.zeros(10, np.int64)  # 80 bytes
    for i in range(4):
        memo.lookup(table, ("small", i), lambda: (small, "meta"))
    assert memo._held == 4 * 80
    # 800 bytes of Arrow and numpy: the two oldest entries must go
    heavy = (pa.table({"a": np.zeros(50, np.int64)}), np.zeros(50, np.int64))
    assert memo.lookup(table, ("heavy",), lambda: heavy) is heavy
    assert [p for _, p in memo._entries] == [
        ("small", 2), ("small", 3), ("heavy",)]
    assert memo._held == 2 * 80 + 800
    # an entry over the budget on its own is kept until the next one
    huge = np.zeros(200, np.int64)
    assert memo.lookup(table, ("huge",), lambda: huge) is huge
    assert [p for _, p in memo._entries] == [("huge",)]
    assert memo.lookup(table, ("small", 0), lambda: "rebuilt") == "rebuilt"
    assert [p for _, p in memo._entries] == [("small", 0)]
    memo.clear()
    assert memo._held == 0


def test_eviction_unpersists_the_value(spark, table):
    df = spark.range(3).persist()
    assert memo.lookup(table, ("persisted",), lambda: (df, [1]))[0] is df
    _fill(table, memo.MAX_ENTRIES - 1)
    assert df.storageLevel != StorageLevel.NONE
    _fill(table, memo.MAX_ENTRIES)
    assert df.storageLevel == StorageLevel.NONE


def test_clear_unpersists_everything(spark, table):
    frames = [spark.range(i + 1).persist() for i in range(3)]
    for i, df in enumerate(frames):
        memo.lookup(table, ("persisted", i), lambda df=df: df)
    memo.clear()
    assert not memo._entries
    assert all(df.storageLevel == StorageLevel.NONE for df in frames)


def test_identity_keyed_frame_is_pinned(spark, table):
    df = spark.range(1)
    alive = weakref.ref(df)
    memo.lookup(df, ("pinned",), lambda: "first")
    del df
    gc.collect()
    assert alive() is not None
    # each short-lived frame gets its own entry: no id() is reused while
    # the entry keyed by it exists
    for i in range(2 * memo.MAX_ENTRIES):
        assert memo.lookup(spark.range(1), ("pinned",), lambda i=i: i) == i


def test_rewritten_file_gets_a_new_key(spark, table):
    assert memo.lookup(spark.read.parquet(table), ("v",), lambda: 1) == 1
    assert memo.lookup(spark.read.parquet(table), ("v",), lambda: 2) == 1
    pq.write_table(pa.table({"a": [1, 2, 3]}), table)
    assert memo.lookup(spark.read.parquet(table), ("v",), lambda: 3) == 3


def test_concurrent_lookups_keep_the_bound_and_their_keys(table):
    n_keys, errors = memo.MAX_ENTRIES + 8, []

    def worker(t):
        try:
            for i in range(3000):
                j = (i * 7 + t) % n_keys
                got = memo.lookup(table, ("stress", j), lambda j=j: j)
                if got != j:
                    errors.append((j, got))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,))
                   for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(memo._entries) <= memo.MAX_ENTRIES


def test_transformed_frame_over_the_same_files_gets_its_own_value(spark):
    from pyspark.sql import functions as F

    from movie_rec_spark.sources.catalog import load_table

    memo.clear()
    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    big = li.filter(F.col("l_quantity") >= 25)
    n_all, n_big = li.count(), big.count()
    assert n_big < n_all
    assert memo.lookup(li, ("n",), li.count) == n_all
    assert memo.lookup(big, ("n",), big.count) == n_big
    # a fresh read of the same files is the same plan: a hit
    again = load_table(spark, sf, "lineitem")
    assert memo.lookup(again, ("n",), lambda: "rebuilt") == n_all
    memo.clear()


def test_known_frame_is_keyed_without_py4j(spark, table, monkeypatch):
    df = spark.read.parquet(table)
    assert memo.lookup(df, ("v",), lambda: 1) == 1
    calls = []
    for name in ("inputFiles", "semanticHash", "sameSemantics"):
        real = getattr(type(df), name)
        monkeypatch.setattr(type(df), name,
                            lambda self, *a, real=real, name=name:
                            calls.append(name) or real(self, *a))
    assert memo.lookup(df, ("v",), lambda: 2) == 1
    assert memo.lookup(df, ("w",), lambda: 3) == 3
    assert calls == []
    # a frame derived from it is fingerprinted afresh
    assert memo.lookup(df.filter("a > 1"), ("v",), lambda: 4) == 4
    assert calls == ["inputFiles", "semanticHash"]
    # the remembered files are still stat'ed: a rewrite changes the key
    pq.write_table(pa.table({"a": [1, 2, 3]}), table)
    assert memo.lookup(df, ("v",), lambda: 5) == 5
    assert calls == ["inputFiles", "semanticHash"]


def test_hash_collision_is_rebuilt_not_served(spark, table, monkeypatch):
    a = spark.read.parquet(table)
    b = a.filter("a > 1")
    monkeypatch.setattr(type(a), "semanticHash", lambda self: 7)
    assert memo.lookup(a, ("v",), lambda: "a") == "a"
    assert memo.lookup(b, ("v",), lambda: "b") == "b"
    # the colliding build replaced the entry instead of adding one
    assert len(memo._entries) == 1
    assert memo.lookup(b, ("v",), lambda: "b2") == "b"


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_release_frees_checkpointed_and_cached_values(spark, table):
    base = _persistent_rdds(spark)
    memo.lookup(table, ("ckpt",),
                lambda: spark.range(5).localCheckpoint(eager=True))
    memo.lookup(table, ("cache",), lambda: spark.range(4).cache())
    memo.lookup(table, ("cache",), lambda: None).count()
    assert _persistent_rdds(spark) == base + 2
    memo.clear()
    assert _persistent_rdds(spark) == base

    memo.lookup(table, ("ckpt",),
                lambda: spark.range(5).localCheckpoint(eager=True))
    assert _persistent_rdds(spark) == base + 1
    _fill(table, memo.MAX_ENTRIES)
    assert ("ckpt",) not in {p for _, p in memo._entries}
    assert _persistent_rdds(spark) == base

    # a fit whose value is built over its own checkpoint frees both
    from movie_rec_spark.operators.similarity import portable_cells

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i)]) for i in range(8)],
        "vec_id bigint, embedding array<double>")
    portable_cells(emb, 2).count()
    assert _persistent_rdds(spark) == base + 2
    memo.clear()
    assert _persistent_rdds(spark) == base
