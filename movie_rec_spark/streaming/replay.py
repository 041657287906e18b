"""Deterministic file-stream replay — the harness behind declared,
oracle-backed STREAMING queries.

Stages authored micro-batches as parquet files with pinned strictly
increasing mtimes (FileStreamSource delivers files in (mtime, path)
order), runs a caller-built streaming DataFrame to a memory sink with
``availableNow``, and returns the MATERIALIZED result (localCheckpoint)
so the temp view and staging directory can be reclaimed immediately —
no tempdir outlives the call (the q_merge_snapshot mkdtemp-leak
lesson, ADVICE r5).

Why replay at all: the in-order pytest parities
(tests/test_streaming.py) prove streaming operators equal their batch
twins under friendly arrival; replaying the SAME corpus in
deliberately out-of-order batches and hashing against the BATCH
DuckDB oracle proves the watermarked semantics under arrival orders
the driver can verify independently. Used by
``anomaly.q_anomaly_stream_et`` and ``joins.q_stream_join_et``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def derive_lateness(events: DataFrame, ts_col: str = "ts"):
    """Fixture-independent lateness bound + sentinel for out-of-order
    replays (ADVICE r6): one tiny min/max agg over the input derives
    (wm_days, sentinel) such that the watermark delay exceeds the full
    observed span (batch 2 can be span-late relative to batch 1's max)
    and the sentinel sits past max(ts) + gap + delay, so the final
    watermark seals every window/session. Hardcoded literals would
    silently late-drop rows if the fixture were regenerated with a
    longer span or a different epoch."""
    import datetime

    from pyspark.sql import functions as F

    lo, hi = events.agg(F.min(ts_col), F.max(ts_col)).first()
    if hi is None:
        lo = hi = datetime.datetime(1970, 1, 1)
    wm_days = (hi - lo).days + 2
    sentinel = (hi + datetime.timedelta(days=wm_days + 2)
                ).replace(microsecond=0)
    return wm_days, sentinel


def stage_batches(src: str, batches: Sequence[DataFrame]) -> str:
    """Write each batch as one parquet file under ``src`` with pinned
    strictly-increasing mtimes, so FileStreamSource's (mtime, path)
    order delivers them as authored. Staging the SAME batch twice is
    the at-least-once simulation: identical rows arrive as two
    distinct micro-batches.

    The per-batch staging jobs are independent of each other (each is
    a filter+coalesce(1) write of its own rows), so they run
    CONCURRENTLY from a small thread pool (optimization guide §2.6 —
    overlap independent jobs; delivery order is pinned afterwards by
    the rename+utime pass, not by write order). Measured: staging is
    ~40% of a replay query's wall at sf0.1 when serial."""
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(src, exist_ok=True)
    stage_dirs = [os.path.join(src, f"_stage_{i}")
                  for i in range(len(batches))]

    def write(i: int) -> None:
        batches[i].coalesce(1).write.mode("overwrite") \
            .parquet(stage_dirs[i])

    with ThreadPoolExecutor(
            max_workers=min(4, max(1, len(batches)))) as pool:
        list(pool.map(write, range(len(batches))))
    for i, sdir in enumerate(stage_dirs):
        [part] = [f for f in os.listdir(sdir)
                  if f.endswith(".parquet")
                  and not f.startswith((".", "_"))]
        dst = os.path.join(src, f"batch-{i:05d}.parquet")
        os.rename(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(sdir, ignore_errors=True)
    return src


def replay_file_stream(
    batches: Sequence[DataFrame],
    schema: str,
    build: Callable[[DataFrame], DataFrame],
    prefix: str = "mrs_replay_",
    output_mode: str = "append",
    state_parallelism: int | None = None,
) -> DataFrame:
    """Replay ``batches`` (delivered one file per trigger, in order)
    through the streaming transformation ``build`` and return the
    materialized output — EVERY emitted generation for ``update``-mode
    operators (the memory sink accumulates; consumers pick the final
    generation, e.g. by a monotone counter).

    ``state_parallelism``: floor on the stateful-operator partition
    count, for operators whose per-group work runs in PYTHON
    (``applyInPandasWithState``) — there the per-(group, batch) Python
    overhead dominates the state-store commits, so the caller asks for
    enough partitions to spread the groups across workers even when
    the replayed bytes alone would size the replay smaller."""
    from movie_rec_spark.scratch import scratch_dir

    spark = batches[0].sparkSession
    base = scratch_dir(prefix)
    name = f"{prefix}{uuid.uuid4().hex[:8]}"
    try:
        src = stage_batches(os.path.join(base, "src"), batches)
        # Size the stateful-operator partition count to the REPLAYED
        # CORPUS, not the batch engine's shuffle setting: every state
        # partition pays a store-open + delta-commit per micro-batch,
        # so a replay of B staged bytes wants ~B/4MB state partitions
        # (capped at the session setting, which on a cluster is the
        # large value a real stream would use; floored at 2 — or at
        # the caller's ``state_parallelism`` for Python-stateful
        # operators). Partition count is internal to the engine —
        # results are identical — and a fresh checkpoint is created
        # per call, so the value never conflicts with a prior run's
        # offset log. Measured at sf0.1 (min-of-2, 32 cpus):
        # q_stream_join_et 7.2→2.7 s, q_sessionize_stream 9.3→7.3 s
        # with bytes-derived sizing; the Python-stateful
        # q_anomaly_stream_et regressed 12→16 s at 2 partitions and
        # recovered to 11.3 s at defaultParallelism/2 — hence the
        # caller-supplied floor.
        sess = spark.conf.get("spark.sql.shuffle.partitions")
        nbytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src) if f.endswith(".parquet"))
        parts = min(int(sess),
                    max(2, state_parallelism or 0, nbytes // (4 << 20) + 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            q = (build(spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1").parquet(src))
                 .writeStream.outputMode(output_mode)
                 .format("memory").queryName(name)
                 .option("checkpointLocation", os.path.join(base, "ck"))
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", sess)
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(base, ignore_errors=True)
