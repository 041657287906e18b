"""Manifest-committed snapshot tables — the engine's one file-commit
protocol: atomic commits + snapshot isolation for every lakehouse write
path (create, merge, append, compact, the CDC stream sink), in plain
Spark + parquet.

A plain dynamic partition overwrite replaces directories one at a
time, so a concurrent reader could observe a half-merged table. This
module uses the standard log-structured table-format protocol
instead (Delta's ``_delta_log``, Iceberg's metadata tree, public
designs both):

- **Data files are immutable and uniquely named.** A commit writes NEW
  files under ``data/c-<uuid>/``; it never modifies or deletes a file a
  published snapshot references.
- **A manifest LIST describes the snapshot.** ``_manifests/v<N>.json``
  holds {partition → segment references}; the file entries themselves
  live in immutable per-(commit, partition) ``seg-*.json`` segments.
  The version file scales with segments (partitions × commits since
  compaction), never with total file count — measured in SCALE.md —
  and a partition-pruned read loads only the probed partitions'
  segments, so even planning IO tracks the probe. This is the
  Iceberg manifest-list layering; pruning never stats excluded files.
- **Publishing is one atomic filesystem op.** The manifest is written to
  a temp name and CLAIMED as ``v<N>.json`` via an atomic
  link-without-overwrite; the highest ``N`` present IS the current
  table. A reader therefore sees either the old complete snapshot or
  the new complete snapshot — never a partial mix (the test holds a
  reader loop against a merge loop and asserts exactly this).
- **Optimistic concurrency.** Two writers racing to claim the same
  ``v<N>`` — one wins, the loser gets ``SnapshotConflict`` and must
  rebase (re-read, recompute, retry). Same contract as Delta on a
  filesystem with atomic rename/link (HDFS rename-no-overwrite; on S3
  the claim op becomes a conditional PUT / DynamoDB lock — the protocol
  is unchanged).
- **Old snapshots stay readable** until ``snapshot_vacuum`` removes
  files no retained manifest references — time travel for free, and the
  reason concurrent readers are safe without any locking.

Partition values are carried as STRINGS (the hive directory
encoding). Data files keep ALL
columns including the partition column (the hive layout under
``data/c-*/`` uses a ``_p=`` duplicate for its directory names), so a
manifest's file list reads back complete with one ``spark.read.parquet``.

Reference analogue: the reference's Postgres tables get atomicity from
the database itself (``prototype/movierama_ddl.sql``); at lakehouse
scale this protocol is what stands in for it.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rec_spark.sources.merge import DELETED_COL, merge_frames
from movie_rec_spark.localdf import local_df

_PART_DIR = "_p"


class SnapshotConflict(RuntimeError):
    """Another writer claimed the target version first — rebase and
    retry (re-read the table, recompute the commit)."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def snapshot_version(path: str) -> int:
    """Current (highest published) version; 0 = no table."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return 0
    best = 0
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                best = max(best, int(f[1:-5]))
            except ValueError:
                continue
    return best


def _load_manifest(path: str, version: int | None = None) -> dict:
    v = snapshot_version(path) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no snapshot table at {path}")
    with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as fh:
        return json.load(fh)


def _publish(path: str, partitions: dict, op: str,
             summary: dict, base_version: int,
             stream_batch_id: int | None = None) -> dict:
    """Atomically claim version base_version+1. The tmp manifest is
    fully written and fsynced BEFORE the link claims the version name,
    so no reader can observe a partial manifest; os.link fails with
    EEXIST if another writer won the race (→ SnapshotConflict).

    ``partitions`` is the MANIFEST-LIST layering (the Iceberg answer to
    single-manifest growth, measured and documented in SCALE.md):
    {partition value → [{"seg": segment-file, "n": file-count}, ...]}.
    The version manifest holds only segment REFERENCES — its size
    scales with partitions and commits, never with total file count —
    and each ``seg-*.json`` is an immutable per-(commit, partition)
    entry list written once by ``_write_segments``. A commit therefore
    rewrites one small version file plus segments for the partitions it
    actually touched; everything else carries by reference.

    The streaming exactly-once floor (``last_stream_batch_id``) is
    carried forward through EVERY commit — the current manifest alone
    answers "was micro-batch N already committed?", surviving
    compaction/vacuum of older manifests."""
    floor = -1
    summary = dict(summary)
    if base_version > 0:
        prev = _load_manifest(path, base_version)["summary"]
        floor = prev.get("last_stream_batch_id", -1)
        # table-level config rides every manifest so the CURRENT one
        # always answers alone (vacuum may drop the older ones)
        for k in ("partition_col", "stats_cols"):
            if summary.get(k) is None and prev.get(k) is not None:
                summary[k] = prev[k]
    if base_version > 0:
        if summary.get("columns") is None and prev.get("columns"):
            summary["columns"] = prev["columns"]
    if stream_batch_id is not None:
        floor = max(floor, stream_batch_id)
    summary["last_stream_batch_id"] = floor
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    new_version = base_version + 1
    man = {"version": new_version, "op": op, "partitions": partitions,
           "summary": summary, "parent": base_version}
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(man, fh)
        fh.flush()
        os.fsync(fh.fileno())
    final = os.path.join(mdir, f"v{new_version}.json")
    try:
        os.link(tmp, final)  # atomic claim: fails if the version exists
    except FileExistsError as exc:
        raise SnapshotConflict(
            f"version {new_version} of {path} was committed concurrently; "
            "re-read and retry") from exc
    finally:
        os.unlink(tmp)
    return man


def _write_segments(path: str, entries: list[dict]) -> dict:
    """Group fresh entries by partition and persist one immutable
    ``seg-<uuid>.json`` per (commit, partition); returns the
    {partition → [segment ref]} map fragment for ``_publish``. Segment
    files are fully written + fsynced before the version claim can
    reference them, so a reader never sees a partial segment."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    by_part: dict[str, list[dict]] = {}
    for e in entries:
        by_part.setdefault(e["partition"], []).append(e)
    out: dict[str, list[dict]] = {}
    for p, es in by_part.items():
        name = f"seg-{uuid.uuid4().hex}.json"
        with open(os.path.join(mdir, name), "w") as fh:
            json.dump({"partition": p, "entries": es}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        out[p] = [{"seg": name, "n": len(es)}]
    return out


def _segment_entries(path: str, refs: list[dict]) -> list[dict]:
    out: list[dict] = []
    for ref in refs:
        with open(os.path.join(_manifest_dir(path), ref["seg"])) as fh:
            out.extend(json.load(fh)["entries"])
    return out


def manifest_entries(path: str, version: int | None = None,
                     partitions: Sequence[str] | None = None
                     ) -> list[dict]:
    """Materialize a snapshot's file entries (optionally only for some
    partitions) by loading exactly those partitions' segments."""
    man = _load_manifest(path, version)
    want = None if partitions is None else {str(p) for p in partitions}
    out: list[dict] = []
    for p, refs in man["partitions"].items():
        if want is not None and p not in want:
            continue
        out.extend(_segment_entries(path, refs))
    return out


def _write_data_files(df: DataFrame, path: str, partition_col: str,
                      stats_cols: Sequence[str] | None = None
                      ) -> list[dict]:
    """Write ``df`` as immutable data files under a fresh commit dir and
    return manifest entries. The ``_p`` duplicate drives the hive
    directory names while the real partition column stays IN the files,
    so manifest reads need no partition-value reattachment.

    ``stats_cols`` records each file's (min, max) for those columns in
    its manifest entry — read from the just-written parquet footers
    (pure metadata, no data pages touched). This is Iceberg-style
    FILE-LEVEL skipping: a range predicate then prunes at the manifest
    before any file is opened, one level above parquet's own row-group
    stats (which still apply inside the files that survive)."""
    import pyarrow.parquet as pq

    if _PART_DIR in df.columns:
        raise ValueError(
            f"column name {_PART_DIR!r} is reserved by the snapshot "
            "layout; rename it")
    cdir = os.path.join(path, "data", f"c-{uuid.uuid4().hex}")
    (df.withColumn(_PART_DIR, F.col(partition_col).cast("string"))
     .write.mode("error").partitionBy(_PART_DIR).parquet(cdir))
    entries = []
    for pdir in sorted(os.listdir(cdir)):
        if not pdir.startswith(f"{_PART_DIR}="):
            continue
        # Spark hive-escapes special chars in directory names (space,
        # ':', '%', … → %XX). Manifest partition keys must be the RAW
        # string value — merge/append/read compare against str(value) —
        # so unescape here; escaped keys would never match and a merge
        # would silently drop the partition's resident rows.
        value = urllib.parse.unquote(pdir[len(_PART_DIR) + 1:])
        full = os.path.join(cdir, pdir)
        for f in sorted(os.listdir(full)):
            if not (f.endswith(".parquet") and not f.startswith((".", "_"))):
                continue
            entry: dict = {"path": os.path.join(full, f),
                           "partition": value}
            if stats_cols:
                md = pq.ParquetFile(entry["path"]).metadata
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}
                stats = {}
                for c in stats_cols:
                    if c not in idx:
                        continue
                    lo = hi = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if lo is not None:
                        stats[c] = [_json_safe(lo), _json_safe(hi)]
                if stats:
                    entry["stats"] = stats
            entries.append(entry)
    return entries


def _json_safe(v):
    """Footer stats can be date/datetime/Decimal/bytes — store a JSON
    value that compares consistently with what the reader passes."""
    import datetime
    import decimal

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _require_nonnull_partition(df: DataFrame, partition_col: str,
                               what: str) -> None:
    """NULL partition values hive-encode as __HIVE_DEFAULT_PARTITION__,
    a directory name no str(value) comparison ever matches — refuse at
    commit time (same guard snapshot_merge applies) instead of letting
    an unaddressable partition into the manifest."""
    if df.filter(F.col(partition_col).isNull()).limit(1).count():
        raise ValueError(
            f"{what}: batch contains NULL {partition_col!r} values; "
            "partition keys must be non-null")


def snapshot_create(spark: SparkSession, path: str, df: DataFrame,
                    partition_col: str,
                    stats_cols: Sequence[str] | None = None) -> dict:
    """Create a snapshot table (version 1) from ``df``.

    ``stats_cols`` opts the table into manifest-level file stats:
    every commit records per-file (min, max) for those columns, and
    ``snapshot_read(ranges=...)`` prunes files from the manifest alone."""
    if snapshot_version(path) != 0:
        raise ValueError(f"snapshot table already exists at {path}")
    _require_nonnull_partition(df, partition_col, "snapshot_create")
    entries = _write_data_files(df, path, partition_col, stats_cols)
    man = _publish(path, _write_segments(path, entries), "create",
                   {"partition_col": partition_col,
                    "stats_cols": list(stats_cols) if stats_cols else None,
                    "columns": dict(df.dtypes),
                    "files": len(entries)}, 0)
    return man["summary"] | {"version": man["version"]}


def _check_types(table_cols: dict | None, batch: DataFrame,
                 what: str) -> None:
    """Refuse type drift BEFORE files land: a batch column whose type
    differs from the table's poisons every later mergeSchema read
    (CANNOT_MERGE_SCHEMAS deep inside a future query — found by the
    manifest probe appending day:int to a day:bigint table). Cast
    upstream; silent coercion inside a commit path is worse than an
    error."""
    if not table_cols:
        return
    bad = {c: (table_cols[c], t) for c, t in batch.dtypes
           if c in table_cols and table_cols[c] != t}
    if bad:
        raise ValueError(
            f"{what}: column types differ from the table "
            f"{{col: (table, batch)}} = {bad}; cast the batch before "
            "committing — type drift would poison later reads")


def snapshot_read(spark: SparkSession, path: str,
                  partitions: Sequence[str] | None = None,
                  version: int | None = None,
                  ranges: dict | None = None) -> DataFrame:
    """Read a snapshot (default: current). ``partitions`` prunes at the
    MANIFEST level — excluded files are never opened or even listed;
    ``version`` time-travels to an un-vacuumed older snapshot.

    ``ranges`` = {col: (lo, hi)} prunes on the per-file (min, max)
    stats recorded at write time (``stats_cols``): a file is kept only
    if [file_min, file_max] intersects [lo, hi] (None = open end).
    SKIPPING ONLY — the caller still applies the exact row predicate;
    a file with no recorded stats for the column is conservatively
    kept. Combined with a sorted layout (``snapshot_compact``'s
    ``sort_col``) this is the Iceberg file-skipping story one level
    above parquet row-group pruning.

    Partition pruning here never even LOADS excluded partitions'
    segment files — planning IO is proportional to the partitions
    probed, not the table."""
    man = _load_manifest(path, version)
    want = None if partitions is None else {str(p) for p in partitions}
    entries = [e for p, refs in man["partitions"].items()
               if want is None or p in want
               for e in _segment_entries(path, refs)]
    if ranges:
        def keep(e: dict) -> bool:
            st = e.get("stats") or {}
            for c, (lo, hi) in ranges.items():
                if c not in st:
                    continue
                fmin, fmax = st[c]
                if lo is not None and fmax < lo:
                    return False
                if hi is not None and fmin > hi:
                    return False
            return True
        entries = [e for e in entries if keep(e)]
    if not entries:
        # legal empty states (a merge tombstoned every row, a partition
        # probe missed, ranges pruned every file): build an empty frame
        # from the schema every manifest records, instead of raising
        cols = man["summary"].get("columns")
        if cols:
            ddl = ", ".join(f"`{c}` {t}" for c, t in cols.items())
            return local_df(spark, [], ddl)
        raise ValueError(
            f"snapshot v{man['version']} at {path} has no files and "
            "records no schema")
    # mergeSchema: file generations may differ after schema evolution;
    # the union schema resolves older files' missing columns to null
    # (footer-only work, no data pages)
    return (spark.read.option("mergeSchema", "true")
            .parquet(*[e["path"] for e in entries]).drop(_PART_DIR))


def snapshot_stream_floor(path: str) -> int:
    """Highest stream micro-batch id ever committed to this table
    (−1 if none): the exactly-once gate for foreachBatch sinks —
    a replayed batch with id ≤ floor must be SKIPPED, not re-applied.
    Carried forward through every commit, so it survives vacuum."""
    return _load_manifest(path)["summary"].get("last_stream_batch_id", -1)


def snapshot_merge(spark: SparkSession, path: str, updates: DataFrame,
                   keys: Sequence[str], ts_col: str | None = None,
                   stream_batch_id: int | None = None,
                   schema_evolution: bool = False) -> dict:
    """MERGE INTO with an atomic snapshot commit: the
    ``merge.merge_frames`` kernel (Delta-style semantics: tombstone
    deletes, winning updates replace, unmatched non-deleted rows
    insert, ``ts_col`` guards out-of-order CDC batches) behind the
    batch guards: key-unique, partition key in merge key, non-null
    partition values.

    Scale shape: only the batch's partitions are read (manifest
    pruning) and rewritten — a 10-row merge into a huge table touches
    only the partitions those rows live in; untouched partitions carry
    over as SEGMENT references — zero IO, their entry lists are not
    even loaded, let alone rewritten. A
    partition whose every row was deleted simply has no files in the
    new manifest (no directory-delete fix-up needed — removing state is
    a metadata operation here). The commit is one atomic version claim;
    a concurrent reader sees the old or the new snapshot, never a mix,
    and a concurrent writer loses with ``SnapshotConflict`` instead of
    corrupting the table.

    Schema discipline: an update column the table lacks is an ERROR
    (silently dropping data a producer sent is the worst failure mode
    of a sink) unless ``schema_evolution=True``, which widens the
    table — resident rows read the new columns as null via parquet
    by-name resolution (``snapshot_read`` resolves the union schema
    across file generations). The batch must CARRY every table column
    (partial-column batches are refused with a clear error rather than
    silently keeping or nulling) with the table's types
    (``_check_types``).

    An empty batch commits nothing: it returns the summary counts at 0
    with the current ``version``.
    """
    keys = list(keys)
    base = snapshot_version(path)
    man = _load_manifest(path, base)
    partition_col = man["summary"]["partition_col"]
    if partition_col not in keys:
        raise ValueError(
            f"partition_col {partition_col!r} must be part of the merge "
            f"key {keys} so matched rows stay in their partition")
    missing = [c for c in ([ts_col] if ts_col else []) + keys
               if c not in updates.columns]
    if missing:
        raise ValueError(f"update batch lacks required columns {missing}")
    _check_types(man["summary"].get("columns"),
                 updates.drop(DELETED_COL), "snapshot_merge")
    # ONE job for the row count, the key-uniqueness gate,
    # touched-partition metadata and the null-partition guard
    # (collect_set drops nulls, so nulls are counted explicitly)
    meta = (updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_mrs_c"))
            .agg(F.sum("_mrs_c").alias("rows"),
                 F.max("_mrs_c").alias("maxc"),
                 F.collect_set(partition_col).alias("parts"),
                 F.sum(F.col(partition_col).isNull().cast("long"))
                 .alias("nulls"))
            .first())
    if not meta["rows"]:
        return {"partitions": 0, "files_added": 0, "files_removed": 0,
                "version": base}
    if (meta["maxc"] or 0) > 1:
        raise ValueError(
            "update batch is not key-unique; collapse it first "
            "(e.g. mutation.upsert_latest) so the merge is deterministic")
    parts = list(meta["parts"]) + ([None] if (meta["nulls"] or 0) else [])
    if any(p is None for p in parts):
        raise ValueError(
            f"update batch contains NULL {partition_col!r} values; "
            "partition keys must be non-null")
    parts_str = {str(p) for p in parts}

    affected = [e for p, refs in man["partitions"].items()
                if p in parts_str
                for e in _segment_entries(path, refs)]
    kept = {p: refs for p, refs in man["partitions"].items()
            if p not in parts_str}
    if affected:
        target = (spark.read.option("mergeSchema", "true")
                  .parquet(*[e["path"] for e in affected])
                  .drop(_PART_DIR))
    else:  # all-new partitions: empty target with the update schema
        target = (updates.drop(DELETED_COL)
                  .filter(F.lit(False)))
    upd = updates
    if DELETED_COL not in upd.columns:
        upd = upd.withColumn(DELETED_COL, F.lit(False))
    upd_types = dict(upd.dtypes)
    extra = sorted(set(upd.columns) - set(target.columns) - {DELETED_COL})
    lacking = sorted(set(target.columns) - set(upd.columns))
    if lacking:
        raise ValueError(
            f"update batch lacks table columns {lacking}; snapshot_merge "
            "batches must carry the full table schema")
    if extra:
        if not schema_evolution:
            raise ValueError(
                f"update batch carries columns the table lacks: {extra}; "
                "pass schema_evolution=True to widen the table, or drop "
                "them — silently discarding producer data is refused")
        for c in extra:  # widen resident rows: new columns read as null
            target = target.withColumn(c, F.lit(None).cast(upd_types[c]))
    merged = merge_frames(target, upd, keys, ts_col).localCheckpoint(
        eager=True)  # materialize before any files are written
    new_entries = _write_data_files(merged, path, partition_col,
                                    man["summary"].get("stats_cols"))
    try:
        pub = _publish(path, kept | _write_segments(path, new_entries),
                       "merge",
                       {"partition_col": partition_col,
                        # evolution widens the recorded table schema
                        "columns": dict(merged.dtypes),
                        "partitions": len(parts_str),
                        "files_added": len(new_entries),
                        "files_removed": len(affected)}, base,
                       stream_batch_id=stream_batch_id)
    except SnapshotConflict:
        # the commit lost the race: its orphaned data files are
        # unreferenced by ANY manifest and vacuum reclaims them
        raise
    return pub["summary"] | {"version": pub["version"]}


def snapshot_merge_retry(spark: SparkSession, path: str,
                         updates: DataFrame, keys: Sequence[str],
                         ts_col: str | None = None,
                         max_attempts: int = 5, **kwargs) -> dict:
    """Optimistic-concurrency loop around ``snapshot_merge``: on
    ``SnapshotConflict`` the merge REBASES — re-reads the table at its
    new current version and recomputes the commit from scratch (the
    update batch is a pure input, so replaying it against the newer
    base is exactly Delta's conflict-retry semantics for
    non-overlapping-writer workloads; the loser's orphaned data files
    are reclaimed by vacuum). Raises after ``max_attempts`` genuine
    races — at that contention level the table needs a coordinator,
    not a longer loop."""
    last: SnapshotConflict | None = None
    for _ in range(max_attempts):
        try:
            return snapshot_merge(spark, path, updates, keys,
                                  ts_col=ts_col, **kwargs)
        except SnapshotConflict as exc:
            last = exc
    raise last


SEG_FOLD_THRESHOLD = 16  # refs per partition before metadata folding


def snapshot_append(spark: SparkSession, path: str,
                    rows: DataFrame,
                    stream_batch_id: int | None = None) -> dict:
    """Append-only commit: new segments join the touched partitions'
    reference lists; every resident segment and file is untouched (the
    event-ingest case).

    Metadata folding: when a partition's reference list exceeds
    ``SEG_FOLD_THRESHOLD``, its segments fold into ONE new segment at
    commit time — a pure JSON rewrite, no parquet touched — so the
    version manifest stays O(partitions) under steady appends instead
    of accreting one ref per (partition, commit) until the next DATA
    compaction (the growth the manifest probe measured). Old segments
    stay on disk for older versions; vacuum reclaims them."""
    base = snapshot_version(path)
    man = _load_manifest(path, base)
    partition_col = man["summary"]["partition_col"]
    _check_types(man["summary"].get("columns"), rows, "snapshot_append")
    _require_nonnull_partition(rows, partition_col, "snapshot_append")
    entries = _write_data_files(rows, path, partition_col,
                                man["summary"].get("stats_cols"))
    parts = dict(man["partitions"])
    for p, refs in _write_segments(path, entries).items():
        parts[p] = parts.get(p, []) + refs
    for p, refs in parts.items():
        if len(refs) > SEG_FOLD_THRESHOLD:
            folded = _segment_entries(path, refs)
            parts[p] = _write_segments(path, folded)[p]
    pub = _publish(path, parts, "append",
                   {"partition_col": partition_col,
                    "files_added": len(entries)}, base,
                   stream_batch_id=stream_batch_id)
    return pub["summary"] | {"version": pub["version"]}


def snapshot_compact(spark: SparkSession, path: str,
                     max_files: int = 4,
                     sort_col: str | None = None) -> dict:
    """OPTIMIZE: rewrite partitions whose file count exceeds
    ``max_files`` into one file each and commit atomically — readers on
    the old snapshot keep their old files (they are not deleted), so
    compaction is safe under concurrent reads, unlike an in-place
    rewrite of a plain directory table (which requires writers stopped).
    Offender detection is pure VERSION-MANIFEST metadata — segment refs
    carry their file counts, so no segment is loaded for compliant
    partitions; compaction also folds each offender's accreted segment
    list back to one segment (metadata compaction riding along).
    ``sort_col`` orders each rewritten partition's rows."""
    base = snapshot_version(path)
    man = _load_manifest(path, base)
    partition_col = man["summary"]["partition_col"]
    offenders = {p: refs for p, refs in man["partitions"].items()
                 if sum(r["n"] for r in refs) > max_files}
    if not offenders:
        return {"rewritten": 0, "version": base}
    old_entries = [e for refs in offenders.values()
                   for e in _segment_entries(path, refs)]
    files = [e["path"] for e in old_entries]
    df = (spark.read.option("mergeSchema", "true").parquet(*files)
          .drop(_PART_DIR))
    out = df.repartition(len(offenders), partition_col)
    if sort_col:
        out = out.sortWithinPartitions(sort_col)
    out = out.localCheckpoint(eager=True)
    new_entries = _write_data_files(out, path, partition_col,
                                    man["summary"].get("stats_cols"))
    kept = {p: refs for p, refs in man["partitions"].items()
            if p not in offenders}
    pub = _publish(path, kept | _write_segments(path, new_entries),
                   "compact",
                   {"partition_col": partition_col,
                    "rewritten": len(offenders),
                    "files_added": len(new_entries),
                    "files_removed": len(files)}, base)
    return {"rewritten": len(offenders), "version": pub["version"]}


def snapshot_changes(spark: SparkSession, path: str, keys: Sequence[str],
                     from_version: int, to_version: int | None = None
                     ) -> DataFrame:
    """Change-data-feed between two snapshot versions — time travel
    composed with the generic diff kernel (`mutation.snapshot_diff`):
    rows classify added / removed / changed between ``from_version``
    and ``to_version`` (default current). Both versions must still be
    retained (vacuum window); cost is one full-outer key-partitioned
    exchange over the two file lists, same class as q_snapshot_diff —
    the format-agnostic answer to Delta's table_changes()."""
    from movie_rec_spark.operators.mutation import snapshot_diff

    old = snapshot_read(spark, path, version=from_version)
    new = snapshot_read(spark, path, version=to_version)
    return snapshot_diff(old, new, keys)


VACUUM_RETENTION_S = 24 * 3600.0  # default reclamation grace period


def snapshot_vacuum(spark: SparkSession, path: str,
                    keep_versions: int = 2,
                    retention_s: float = VACUUM_RETENTION_S) -> dict:
    """Delete data files referenced by NO retained manifest (the last
    ``keep_versions`` snapshots survive for time travel / in-flight
    readers; older manifests are dropped). The only destructive op in
    the protocol.

    Concurrency guards (same contract as Delta VACUUM, which is what
    makes this safe to run UNDER the module's multi-writer optimistic
    concurrency rather than writers-stopped):

    - **mtime retention**: nothing younger than ``retention_s`` is
      deleted. An in-flight commit writes its data files and segments
      BEFORE its version claim, so at the instant of the liveness scan
      they are referenced by no manifest — without the age guard they
      would be reclaimed and the commit would publish dangling
      references. ``retention_s=0`` restores immediate reclamation and
      is only safe with writers stopped (the tests' mode).
    - **never delete the future**: a version published after the scan
      captured ``current`` (``v > current``) is kept regardless of age
      or retention — it IS the table now; deleting it would unlink
      committed data.
    """
    now = time.time()
    current = snapshot_version(path)
    if current == 0:
        return {"removed_files": 0, "removed_manifests": 0}

    def young(full: str) -> bool:
        try:
            return now - os.path.getmtime(full) < retention_s
        except OSError:
            return True  # vanished or unstatable: not ours to reclaim

    keep = set(range(max(1, current - keep_versions + 1), current + 1))
    mdir = _manifest_dir(path)
    for f in os.listdir(mdir):  # versions claimed after the scan started
        if f.startswith("v") and f.endswith(".json"):
            try:
                v = int(f[1:-5])
            except ValueError:
                continue
            if v > current:
                keep.add(v)
    live: set[str] = set()
    live_segs: set[str] = set()
    for v in sorted(keep):
        try:
            man = _load_manifest(path, v)
        except FileNotFoundError:
            continue
        for refs in man["partitions"].values():
            live_segs.update(r["seg"] for r in refs)
            live.update(e["path"] for e in _segment_entries(path, refs))
    removed = 0
    droot = os.path.join(path, "data")
    for cdir in sorted(os.listdir(droot)) if os.path.isdir(droot) else []:
        cfull = os.path.join(droot, cdir)
        for pdir, _dirs, fs in os.walk(cfull):
            for f in fs:
                full = os.path.join(pdir, f)
                if f.endswith(".parquet") and full not in live \
                        and not young(full):
                    os.unlink(full)
                    removed += 1
        if not any(fs for _p, _d, fs in os.walk(cfull)):
            import shutil
            shutil.rmtree(cfull)
    removed_manifests = 0
    for f in os.listdir(mdir):
        full = os.path.join(mdir, f)
        if f.startswith("v") and f.endswith(".json"):
            try:
                v = int(f[1:-5])
            except ValueError:
                continue
            if v not in keep and v <= current and not young(full):
                os.unlink(full)
                removed_manifests += 1
        elif f.startswith("seg-") and f.endswith(".json") \
                and f not in live_segs and not young(full):
            # segments referenced by no retained version (dropped
            # versions' rewrites, or a failed commit's orphans)
            os.unlink(full)
    return {"removed_files": removed,
            "removed_manifests": removed_manifests}
