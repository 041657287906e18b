"""KV sink — pipelined batch writes (SURVEY.md §2.1 S9-S11).

The reference materializes recs/stats into Redis with pipelined SETs in
chunks of REDIS_CHUNK_SIZE=1000 (estimator.py:81-102, statistics.py:39-60,
web/config.py:21). The Spark-native equivalent is a partitioned table
write; for KV parity the registered ``kvfile`` data source below ships
rows from each task with client-side batching — one client per task,
one flush per ``batch_size`` keys, never a driver-side collect.
``FileKVClient`` writes one file per task (same interface shape as a
Redis pipeline: set / flush / close).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from movie_rec_spark.localdf import local_df

BATCH_SIZE = 1000  # reference REDIS_CHUNK_SIZE (web/config.py:21)


class FileKVClient:
    """File-backed stand-in for a Redis pipeline: appends to ``path``,
    which is created on the first non-empty flush."""

    def __init__(self, path: str):
        self._buf: list[tuple[str, str]] = []
        self._path = path

    def set(self, key: str, value: str) -> None:
        self._buf.append((key, value))

    def flush(self) -> None:
        if not self._buf:
            return
        with open(self._path, "a", encoding="utf-8") as f:
            for k, v in self._buf:
                f.write(f"{k}\t{v}\n")
        self._buf.clear()

    def close(self) -> None:
        self.flush()


def encode_rec_list(recs: DataFrame, n: int = 20) -> DataFrame:
    """S9 value encoding: per-user ';'-joined item list ordered by rank
    (estimator.py:89-91: ``u{uid} → "id;id;..."``) — F5 concat_ws over a
    rank-sorted collect_list."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        recs.filter(F.col("rank") <= n)
        .withColumn("ids", F.collect_list(F.col("item_id").cast("string")).over(w))
        .groupBy("user_id")
        .agg(F.first("ids").alias("ids"))
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("key"),
            F.concat_ws(";", "ids").alias("value"),
        )
    )


def decode_rec_list(kv: DataFrame) -> DataFrame:
    """S11/F4 decode: ``"id;id;..."`` → array<int> rows
    (controller.py:224)."""
    return kv.select(
        F.regexp_replace("key", "^u", "").cast("bigint").alias("user_id"),
        F.split("value", ";").cast("array<int>").alias("item_ids"),
    )


# --- S9/S10 as a REGISTERED Spark-4 Python Data Source WRITER with
# the all-or-nothing contract the API provides: tasks STAGE their
# batches to uniquely-named files and return commit messages; commit()
# publishes one _manifest.json naming exactly the committed files
# (readers trust only manifested files, same atomic-publish stance as
# sources/snapshot.py); abort() deletes the orphans. On a real
# deployment the staged file becomes a Redis pipeline guarded by a
# transactional rename-key or versioned-namespace flip.

import json as _json

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


class _KVCommit(WriterCommitMessage):
    """``filename`` is None for a task that staged no rows."""

    def __init__(self, filename: str | None, rows: int):
        self.filename = filename
        self.rows = rows


class KVFileWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.batch_size = int(options.get("batch_size", BATCH_SIZE))
        self.overwrite = overwrite

    def write(self, iterator):
        os.makedirs(self.path, exist_ok=True)
        name = f"staged-{uuid.uuid4().hex}.kv"
        client = FileKVClient(os.path.join(self.path, name))
        n = 0
        try:
            for row in iterator:
                client.set(str(row[0]), str(row[1]))
                n += 1
                if n % self.batch_size == 0:
                    client.flush()
        finally:
            client.close()
        return _KVCommit(name if n else None, n)

    def commit(self, messages):
        """Append keeps the prior manifest's files and row count;
        overwrite publishes only this job's files (the replaced files
        stay on disk, unread, for readers of the prior manifest). The
        read-then-replace of the manifest is not fenced: writers to one
        path must commit one at a time."""
        done = [m for m in messages if m is not None and m.filename]
        man = {"files": [m.filename for m in done],
               "rows": sum(m.rows for m in done)}
        manifest = os.path.join(self.path, "_manifest.json")
        if not self.overwrite and os.path.exists(manifest):
            with open(manifest) as fh:
                old = _json.load(fh)
            man["files"] += old["files"]
            man["rows"] += old["rows"]
        man["files"].sort()
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            _json.dump(man, fh)
        os.replace(tmp, manifest)

    def abort(self, messages):
        for m in messages:
            if m is not None and m.filename:
                try:
                    os.unlink(os.path.join(self.path, m.filename))
                except OSError:
                    pass


class KVFileDataSource(DataSource):
    """``df.write.format("kvfile").option("path", dir).mode(...)``:
    the first two columns become (key, value)."""

    @classmethod
    def name(cls) -> str:
        return "kvfile"

    def writer(self, schema, overwrite: bool) -> KVFileWriter:
        return KVFileWriter(self.options, overwrite)


def read_kv_manifested(spark, path: str) -> DataFrame:
    """Read back ONLY the committed (manifested) kv files — staged
    orphans from failed/aborted jobs are invisible, which is the whole
    point of the commit protocol."""
    with open(os.path.join(path, "_manifest.json")) as fh:
        files = _json.load(fh)["files"]
    rows = []
    for f in files:
        with open(os.path.join(path, f), encoding="utf-8") as fh:
            for line in fh:
                k, _, v = line.rstrip("\n").partition("\t")
                rows.append((k, v))
    return local_df(spark, rows or [], "key string, value string")
