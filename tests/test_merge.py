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
    including all-deleted partitions and new-partition inserts.

    The seeds share one table: seed ``s`` owns the partitions
    ``10 * s + 1 .. 10 * s + 4``, so its rows meet no other seed's, and
    one create, one merge and one read serve all of them."""
    import random

    seeds = range(6)
    targets, batches = {}, {}
    for seed in seeds:
        rng = random.Random(seed)
        target = targets[seed] = {}
        for _ in range(rng.randint(1, 12)):
            k = (rng.randint(1, 5), 10 * seed + rng.randint(1, 3))
            target[k] = (f"t{rng.randint(0, 9)}", rng.randint(0, 5))
        batch = batches[seed] = {}
        for _ in range(rng.randint(1, 8)):
            k = (rng.randint(1, 6), 10 * seed + rng.randint(1, 4))
            batch[k] = (f"u{rng.randint(0, 9)}", rng.randint(0, 5),
                        rng.random() < 0.3)

    path = str(tmp_path / "prop")
    snapshot_create(
        spark, path,
        spark.createDataFrame(
            [(i, d, v, t) for target in targets.values()
             for (i, d), (v, t) in target.items()],
            "id bigint, day bigint, val string, ts bigint"),
        "day")
    snapshot_merge(
        spark, path,
        spark.createDataFrame(
            [(i, d, v, t, dele) for batch in batches.values()
             for (i, d), (v, t, dele) in batch.items()],
            "id bigint, day bigint, val string, ts bigint, "
            "_deleted boolean"),
        keys=["id", "day"], ts_col="ts")
    rows = snapshot_read(spark, path).collect()

    for seed in seeds:
        expect = dict(targets[seed])
        for (i, d), (v, t, dele) in batches[seed].items():
            if (i, d) in expect:
                if t >= expect[(i, d)][1]:
                    if dele:
                        del expect[(i, d)]
                    else:
                        expect[(i, d)] = (v, t)
            elif not dele:
                expect[(i, d)] = (v, t)
        got = {(r.id, r.day): (r.val, r.ts)
               for r in rows if 10 * seed < r.day <= 10 * seed + 4}
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
