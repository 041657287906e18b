"""MERGE INTO over a partitioned parquet lakehouse table — the ACID-
table-format mapping of M2/M3 (SURVEY.md §1.4 names Delta ``MERGE
INTO`` as the alternative to batch latest-wins; Delta/Iceberg are not
in this container, so this is the same copy-on-write kernel those
formats run per file, implemented partition-scoped in plain Spark).

Semantics (one statement, Delta-style):
  WHEN MATCHED AND updates._deleted THEN DELETE
  WHEN MATCHED THEN UPDATE SET *          (update row wins)
  WHEN NOT MATCHED AND NOT _deleted THEN INSERT *

Scale shape — the whole point of the partition scoping:
- Only partitions PRESENT IN THE UPDATE BATCH are read or written.
  The target scan carries a partition-value IN-filter (partition
  PRUNING — directories outside the batch are never opened), and the
  write uses dynamic partition overwrite so untouched directories are
  not rewritten (asserted byte-for-byte in tests). A 10-row merge into
  a 100 TB table touches exactly the partitions those 10 rows live in.
- The matched/unmatched split is ONE full-outer equi-join on the key,
  shuffled only over the affected partitions' rows.
- Affected partition values are collected to the driver: that is
  partition METADATA (bounded by the partition count of the batch, not
  by row count) — the same listing any table format's planner holds.

Commit protocol: THIS module's ``merge_into`` writes plain hive-layout
parquet (readable by any engine pointed at the directory) and is
therefore non-transactional — dynamic overwrite replaces partition
directories one at a time, so a concurrent reader can see a partial
merge. ``sources/snapshot.py`` provides the manifest-committed form
(``snapshot_merge``: atomic version claim, snapshot isolation,
optimistic concurrency, time travel) built on the same
``merge_frames`` kernel — use it whenever readers and writers overlap;
use this module when plain-directory compatibility matters and writes
are fenced. The concurrent-reader guarantee is tested in
tests/test_snapshot.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELETED_COL = "_deleted"


def merge_into(spark: SparkSession, target_path: str, updates: DataFrame,
               keys: Sequence[str], partition_col: str,
               ts_col: str | None = None,
               schema_evolution: bool = False) -> dict:
    """Merge ``updates`` into the partitioned parquet table at
    ``target_path``. ``updates`` has the target schema plus an optional
    boolean ``_deleted`` column (absent → pure upsert). The update
    batch must be key-unique (pre-collapse with
    ``mutation.upsert_latest`` for latest-wins batches); violations
    raise rather than write nondeterministic survivors.

    With ``ts_col``, a matched update only wins when its timestamp is
    >= the target row's (``WHEN MATCHED AND s.ts >= t.ts``) — the
    out-of-order guard a CDC stream needs: a replayed or late batch
    carrying older versions cannot regress rows the table already
    advanced past. Stale updates are counted as "ignored".

    Schema discipline: by default an update column the target does not
    have is an ERROR (silently dropping data a producer sent is the
    worst failure mode of a sink). ``schema_evolution=True`` instead
    widens the table — new columns append to the schema, pre-existing
    rows read them as null (parquet by-name resolution), exactly
    Delta's mergeSchema semantics. Columns the target has but the
    update lacks ride along as null for inserted rows either way.

    Returns counts {"partitions", "updated", "deleted", "inserted",
    "ignored"} — the merge summary a table format would put in its
    commit log.
    """
    keys = list(keys)
    if partition_col not in keys:
        # a key row must not move between partitions on update,
        # otherwise its old copy survives in an untouched directory
        raise ValueError(
            f"partition_col {partition_col!r} must be part of the merge "
            f"key {keys} so matched rows stay in their partition")
    has_deleted = DELETED_COL in updates.columns
    if not has_deleted:
        updates = updates.withColumn(DELETED_COL, F.lit(False))
    updates = updates.withColumn(
        DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False)))

    missing_req = [c for c in ([ts_col] if ts_col else []) + keys
                   if c not in updates.columns]
    if missing_req:
        raise ValueError(
            f"update batch lacks required columns {missing_req}")

    # ONE job for the key-uniqueness gate + the touched-partition
    # metadata + the null-partition guard (r12, guide §1.2: these were
    # three separate driver-synchronized jobs per merge batch; a CDC
    # stream pays them per micro-batch). partition_col is a group key,
    # so the distinct partition values are collect_set over the group
    # rows; nulls are counted explicitly because collect_set drops
    # them (the original distinct() surfaced them). The same job also
    # answers EMPTINESS (parts == [] and maxc null), so callers need
    # no separate isEmpty() probe (r13: merge_batch's limit-1 scan job
    # folded in here).
    meta = (updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_mrs_c"))
            .agg(F.max("_mrs_c").alias("maxc"),
                 F.collect_set(partition_col).alias("parts"),
                 F.sum(F.col(partition_col).isNull().cast("long"))
                 .alias("nulls"))
            .first())
    if meta["maxc"] is None and not meta["parts"]:
        # empty update batch: nothing to read, write, or count
        return {"partitions": 0, "updated": 0, "deleted": 0,
                "inserted": 0, "ignored": 0}
    if (meta["maxc"] or 0) > 1:
        raise ValueError(
            "update batch is not key-unique; collapse it first "
            "(e.g. mutation.upsert_latest) so the merge is deterministic")
    parts = list(meta["parts"])
    if (meta["nulls"] or 0) > 0:
        # a null partition value would silently miss the
        # __HIVE_DEFAULT_PARTITION__ directory in both the isin() scan
        # filter and the overwrite — refuse instead of corrupting
        raise ValueError(
            f"update batch contains NULL {partition_col!r} values; "
            "partition keys must be non-null")
    # mergeSchema: a previously-evolved table keeps different footers
    # per partition (merges rewrite only the partitions they touch) —
    # always resolve the union schema
    target = spark.read.option("mergeSchema", "true").parquet(target_path)
    tgt_types = dict(target.dtypes)
    upd_types = dict(updates.dtypes)
    extra = sorted(set(updates.columns)
                   - set(target.columns) - {DELETED_COL})
    if extra and not schema_evolution:
        raise ValueError(
            f"update batch carries columns the table lacks: {extra}; "
            "pass schema_evolution=True to widen the table, or drop "
            "them — silently discarding producer data is refused")
    data_cols = list(target.columns) + extra
    affected = target.filter(F.col(partition_col).isin(parts))
    for c in extra:  # widen resident rows: new columns read as null
        affected = affected.withColumn(c, F.lit(None).cast(upd_types[c]))

    u = updates.select(
        *[(F.col(c) if c in updates.columns
           else F.lit(None).cast(tgt_types[c])).alias(f"_u_{c}")
          for c in data_cols],
        F.col(DELETED_COL).alias("_u_del"))
    cond = [affected[k] == u[f"_u_{k}"] for k in keys]
    # checkpoint the JOIN, not the merged projection: the checkpoint
    # cuts the lineage so the overwrite below never races (or trips
    # Spark's self-overwrite AnalysisException on) its own input scan
    # — the target directories are only read while the checkpoint
    # materializes, strictly before the write's commit replaces them.
    joined = affected.join(u, cond, "full_outer") \
        .localCheckpoint(eager=False)

    in_t = F.col(keys[0]).isNotNull()
    in_u = F.col(f"_u_{keys[0]}").isNotNull()
    if ts_col:
        # matched updates win only when not older than the target row
        u_wins = in_u & (~in_t | (F.col(f"_u_{ts_col}") >= F.col(ts_col)))
    else:
        u_wins = in_u
    # the commit summary AND the surviving-partition set ride the
    # WRITE job as observed metrics (r13, guide §1.2: the former
    # separate stats job + the write both scanned the checkpointed
    # join — one driver-synchronized pass per merge batch folded
    # away). A surviving row's partition value is on whichever join
    # side exists; matched rows agree on it because partition_col is
    # a key. collect_set is not a legal observed metric (Spark marks
    # it non-deterministic), so the bounded partition list from the
    # meta job expands into one max(when(...)) survivor flag per
    # touched value — still partition METADATA, never row data.
    from pyspark.sql import Observation

    surv_part = F.coalesce(F.col(partition_col),
                           F.col(f"_u_{partition_col}"))
    survives = ~(u_wins & F.col("_u_del"))
    obs = Observation()
    observed = joined.observe(
        obs,
        F.sum((in_t & u_wins & ~F.col("_u_del")).cast("long")).alias("upd"),
        F.sum((in_t & u_wins & F.col("_u_del")).cast("long")).alias("del"),
        F.sum((~in_t & ~F.col("_u_del")).cast("long")).alias("ins"),
        F.sum((in_u & ~u_wins).cast("long")).alias("ign"),
        *[F.max((survives & surv_part.eqNullSafe(F.lit(p)))
                .cast("long")).alias(f"surv_{i}")
          for i, p in enumerate(parts)],
    )
    merged = (
        observed
        # WHEN MATCHED AND _deleted (and winning) THEN DELETE
        .filter(survives)
        # winning update/insert rows take the update side, keeps and
        # stale-update targets keep the target side; a column the batch
        # does not carry keeps its target value on matched rows (UPDATE
        # SET * over the carried columns only — null is on the target
        # side already for inserts)
        .select(*[
            (F.when(u_wins, F.col(f"_u_{c}")).otherwise(F.col(c))
             if c in updates.columns else F.col(c)).alias(c)
            for c in data_cols])
    )
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col)
     .parquet(target_path))
    stats = obs.get
    # dynamic overwrite only replaces partitions PRESENT in the output:
    # a partition whose every row was deleted produces no output rows,
    # so its stale directory must be dropped explicitly (the part of
    # the commit a table format would record as removed files)
    emptied = [p for i, p in enumerate(parts)
               if not (stats[f"surv_{i}"] or 0)]
    if emptied:
        jvm = spark._jvm
        jsc = spark._jsc
        conf = jsc.hadoopConfiguration()
        for p in emptied:
            hp = jvm.org.apache.hadoop.fs.Path(
                f"{target_path}/{partition_col}={p}")
            fs = hp.getFileSystem(conf)
            fs.delete(hp, True)
    return {"partitions": len(parts), "updated": int(stats["upd"] or 0),
            "deleted": int(stats["del"] or 0),
            "inserted": int(stats["ins"] or 0),
            "ignored": int(stats["ign"] or 0)}


def merge_frames(target: DataFrame, updates: DataFrame,
                 keys: Sequence[str],
                 ts_col: str | None = None) -> DataFrame:
    """The MERGE statement as a PURE relational transform — the
    compute kernel of ``merge_into`` without the partition/IO
    machinery, usable wherever both sides are DataFrames (and the
    basis of the oracle-checked declared query ``q_merge_events``).
    Same semantics: tombstones delete, winning updates replace,
    unmatched non-deleted updates insert, and with ``ts_col`` a
    matched update only wins when not older than the target row. Both
    inputs must be key-unique; columns must match (plus the optional
    ``_deleted`` flag on the update side). One full-outer equi-join on
    the key — nothing else.
    """
    keys = list(keys)
    cols = [c for c in target.columns]
    if DELETED_COL not in updates.columns:
        updates = updates.withColumn(DELETED_COL, F.lit(False))
    u = updates.select(
        *[F.col(c).alias(f"_u_{c}") for c in cols],
        F.coalesce(F.col(DELETED_COL), F.lit(False)).alias("_u_del"))
    cond = [target[k] == u[f"_u_{k}"] for k in keys]
    joined = target.join(u, cond, "full_outer")
    in_t = F.col(keys[0]).isNotNull()
    in_u = F.col(f"_u_{keys[0]}").isNotNull()
    if ts_col:
        u_wins = in_u & (~in_t | (F.col(f"_u_{ts_col}") >= F.col(ts_col)))
    else:
        u_wins = in_u
    return (
        joined
        .filter(~(u_wins & F.col("_u_del")))
        .select(*[
            F.when(u_wins, F.col(f"_u_{c}")).otherwise(F.col(c)).alias(c)
            for c in cols])
    )
