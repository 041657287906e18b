"""MERGE INTO as a pure relational kernel — the ACID-table-format
mapping of M2/M3 (SURVEY.md §1.4 names Delta ``MERGE INTO`` as the
alternative to batch latest-wins; the engine depends on neither Delta
nor Iceberg, so this is the same copy-on-write kernel those formats run
per file, in plain Spark).

Semantics (one statement, Delta-style):
  WHEN MATCHED AND updates._deleted THEN DELETE
  WHEN MATCHED THEN UPDATE SET *          (update row wins)
  WHEN NOT MATCHED AND NOT _deleted THEN INSERT *

``merge_frames`` is the one kernel behind both the oracle-checked
declared query ``q_merge_events`` and the engine's only file-commit
path, ``sources/snapshot.snapshot_merge``, which scopes it to the
batch's partitions and publishes the result as one atomic manifest
version (snapshot isolation, optimistic concurrency, time travel and
vacuum).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELETED_COL = "_deleted"


def merge_frames(target: DataFrame, updates: DataFrame,
                 keys: Sequence[str],
                 ts_col: str | None = None) -> DataFrame:
    """The MERGE statement as a PURE relational transform, usable
    wherever both sides are DataFrames: tombstones delete, winning
    updates replace, unmatched non-deleted updates insert, and with
    ``ts_col`` a matched update only wins when not older than the
    target row. Both inputs must be key-unique; columns must match
    (plus the optional ``_deleted`` flag on the update side). One
    full-outer equi-join on the key — nothing else.
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
