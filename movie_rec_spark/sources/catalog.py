"""Table catalog over the driver-generated parquet test data.

Reference analogue: the Postgres system-of-record tables
(reference ``prototype/movierama_ddl.sql:1-33``) become columnar parquet
"silver" tables read straight by Spark (SURVEY.md §1.4). Scans are
declarative — ``spark.read.parquet`` + ``.select``/``.filter`` — so
Catalyst pushes predicates and prunes columns down to the parquet reader
(visible as PushedFilters / ReadSchema in ``.explain``).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rec_spark import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a catalog table from parquet FOOTER metadata —
    no Spark job, no scan, memoized per table fingerprint (``memo``), so
    a table rewritten in place is counted afresh. The cheap answer for
    operators that need corpus size only to SIZE themselves (LSH
    auto-sizing, SemDeDup cell count): a ``df.count()`` on the query
    path costs a full (column-pruned) scan per invocation, which bench
    measured at +0.4 s on q_neardup_lsh."""
    path = f"{sf_dir}/{name}.parquet"
    return memo.lookup(path, ("rows",), lambda: sum(
        pq.ParquetFile(f).metadata.num_rows for f in memo.part_files(path)))


def _ship_package(spark: SparkSession) -> None:
    """Make ``movie_rec_spark`` importable on executor Python workers.

    Cloudpickle serializes module-level functions BY REFERENCE, so any
    UDF closure that touches one makes the worker import this package.
    The driver controls its own sys.path; workers inherit only cwd —
    fine when the driver runs from the repo, broken anywhere else. Zip
    the package once per SparkContext and addPyFile it: workers unpack
    onto their sys.path and every by-reference pickle resolves,
    regardless of where the consuming driver was launched. The zip's
    temp dir is removed when the interpreter exits.
    """
    sc = spark.sparkContext
    if getattr(sc, "_movie_rec_spark_shipped", False):
        return
    import atexit
    import shutil
    import tempfile
    import zipfile

    import movie_rec_spark

    pkg_dir = os.path.dirname(os.path.abspath(movie_rec_spark.__file__))
    tmp = tempfile.mkdtemp(prefix="mrs_pkg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zpath = os.path.join(tmp, "movie_rec_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "movie_rec_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._movie_rec_spark_shipped = True


def _read_table(spark: SparkSession, path: str):
    """(frame, TIMESTAMP(NANOS) columns) of a table; the ns columns come
    from the first part file's footer (parquet tables are schema-uniform
    by contract)."""
    parts = memo.part_files(path)
    ts_cols = tuple(
        f.name for f in (pq.read_schema(parts[0]) if parts else ())
        if str(f.type).startswith("timestamp[ns"))
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ts_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df, ts_cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning / predicate pushdown happen at the
    caller's ``select``/``filter``; the frame is a plan, never
    pre-collected, cached or checkpointed here.

    The driver-generated parquet stores timestamps at nanosecond
    precision; Spark's reader rejects TIMESTAMP(NANOS), so those columns
    are read as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and
    floor-truncated to microseconds (``ts div 1000`` — integer division;
    a double division would lose precision at 1e18 ns). DuckDB performs
    the same floor-truncation when reading ns parquet, so values match.
    That setting is session conf, so every call sets it.

    One frame is held per table fingerprint and ``SparkSession``
    (``memo``) and handed to every call. It holds a plan, no data. A
    warm call costs an ``os.stat`` per file instead of the listing and
    analysis of ``spark.read.parquet`` (7-8 ms a table on a warm
    session, about 65 ms with the schema inference of a first read),
    and ``memo`` keys the frame without Py4J. Spark fixes a frame's
    file listing when it builds the frame, so a table rewritten in place
    gets a new frame. A frame of another session is never handed out.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ship_package(spark)
    path = f"{sf_dir}/{name}.parquet"
    # the held frame pins its session, so id(spark) is not reused
    df, ts_cols = memo.lookup(path, ("frame", id(spark)),
                              lambda: _read_table(spark, path))
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return df
