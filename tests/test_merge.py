"""MERGE INTO semantics through the snapshot commit path (SURVEY §1.4's
ACID MERGE mapping; sources/merge.py holds the kernel,
sources/snapshot.py the commit).

The sweep checks ``snapshot_merge`` against a pure-Python model of the
MERGE statement; the declared streaming query checks that duplicate
delivery of a CDC batch leaves the one-shot batch merge's answer."""

from __future__ import annotations

from movie_rec_spark.sources.snapshot import (
    snapshot_create,
    snapshot_merge,
    snapshot_read,
)


def test_merge_matches_reference_model(spark, tmp_path):
    """Property-style sweep: snapshot_merge must match a pure-Python
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
        snapshot_create(
            spark, path,
            spark.createDataFrame(
                [(i, d, v, t) for (i, d), (v, t) in target.items()],
                "id bigint, day bigint, val string, ts bigint"),
            "day")

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

        snapshot_merge(
            spark, path,
            spark.createDataFrame(
                [(i, d, v, t, dele)
                 for (i, d), (v, t, dele) in batch.items()],
                "id bigint, day bigint, val string, ts bigint, "
                "_deleted boolean"),
            keys=["id", "day"], ts_col="ts")
        got = {(r.id, r.day): (r.val, r.ts)
               for r in snapshot_read(spark, path).collect()}
        assert got == expect, f"seed {seed}"


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
