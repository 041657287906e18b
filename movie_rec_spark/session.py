"""SparkSession factory with scale-aware defaults.

The reference performs no query optimization of its own (SURVEY.md §4.1);
here the session is configured so Catalyst/AQE do the heavy lifting:
adaptive execution (runtime coalesce + skew-join splitting), broadcast
joins for the dimension tables, Arrow for any pandas boundary.

On a real cluster these settings are a starting point; `shuffle_partitions`
should scale with executor cores (2-3× total cores) and
`autoBroadcastJoinThreshold` with executor memory.

The driver JVM defers HotSpot's C2 (tier-4) compiler: its four tier-4
thresholds start at three times their JDK 17 defaults
(`DRIVER_JIT_OPTIONS`). A long-lived engine answers many short per-user
reads, each a small Spark query; on that traffic C2 compiles planner and
scheduler code that never runs long enough to repay the compile, and its
compiler threads used most of a request's JVM CPU (SCALE.md, "Driver
JIT"). Methods that stay hot still reach C2, only later; C1 code serves
until then. Java 17 floating point is strict, so the tier a method runs
in cannot change a result.

The flags go through `spark.driver.defaultJavaOptions`, which Spark
places before `spark.driver.extraJavaOptions` (what `spark-submit
--driver-java-options` sets). A caller's own JVM options therefore
still reach the JVM, and since HotSpot takes the last value of a
repeated flag, a caller's own `-XX:Tier4...` flag wins. They are
driver-only: on a cluster the executors are separate JVMs that keep
HotSpot's defaults. In local mode the driver is also the executor. The
flags take effect only when `get_spark` launches the JVM; a session or
gateway that already exists keeps the flags it was started with.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# HotSpot tier-4 (C2) thresholds, each three times its JDK 17 default.
# A x10 variant and C1-only (-XX:TieredStopAtLevel=1) were measured and
# rejected: both cost session start-up time (SCALE.md, "Driver JIT").
DRIVER_JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=15000 "
                      "-XX:Tier4MinInvocationThreshold=1800 "
                      "-XX:Tier4CompileThreshold=45000 "
                      "-XX:Tier4BackEdgeThreshold=120000")


def get_spark(
    app_name: str = "movie_rec_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local default: ``local[$SPARK_GRAFT_CPUS]``, or one task thread per
    CPU this process may run on when the variable is unset, with 32
    shuffle partitions — sized so sf0.1 shuffle partitions fit
    comfortably in memory; at 100 TB the same code runs with
    cluster-level values.

    A JVM launched here starts with ``DRIVER_JIT_OPTIONS`` (C2 deferred,
    see the module docstring). They have no effect when the session,
    or the py4j gateway it would run on, already exists.

    Without ``$SPARK_CHECKPOINT_DIR`` the checkpoint dir is a fresh temp
    dir, removed when the interpreter exits.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    parts = str(shuffle_partitions or 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", parts)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — essential at 100 TB where
        # static planning can't know per-key skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (part/customer/nation/region analogues) are
        # small relative to the fact tables — let Spark broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the per-partition
        # build side fits (guide §3.1/§9): skips both sort steps; AQE
        # additionally rewrites planned SMJs at runtime when every
        # post-shuffle partition is under the local-map threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                str(128 * 1024 * 1024))
        # Arrow for any pandas_udf / toPandas boundary (10-100× vs pickle).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # cap split size so local[32] gets real scan parallelism even on
        # the small test files.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local[*] is a SINGLE JVM acting as driver + all executors +
        # block manager: checkpoint/broadcast/shuffle blocks all live in
        # this one heap. 8g measurably GC-throttled a full bench pass
        # (105 s -> 77 s at 24g, sf0.1); on a real cluster this setting
        # is irrelevant (executors get their own spark.executor.memory).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Not extraJavaOptions: --driver-java-options sets that and would
        # replace this value (see the module docstring).
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    spark = builder.getOrCreate()
    # Reliable checkpoint dir for iterative algorithms: MLlib ALS (and
    # any long-lineage loop) checkpoints every checkpointInterval
    # iterations ONLY when a dir is set; without one, a 50-iteration fit
    # builds a lineage deep enough to StackOverflow task serialization.
    # On a cluster point this at durable shared storage (HDFS/S3) so
    # checkpoints also survive executor loss.
    if not spark.sparkContext.getCheckpointDir():
        ckpt = os.environ.get("SPARK_CHECKPOINT_DIR")
        if ckpt is None:
            ckpt = tempfile.mkdtemp(prefix="mrs_ckpt_")
            atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
