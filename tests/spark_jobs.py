"""Count the Spark jobs a piece of test code launches, and the classes
Spark's code generator compiles for it."""

from __future__ import annotations

import uuid


def jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def classes_compiled(spark, fn) -> int:
    """Classes Spark's code generator compiles while ``fn`` runs: the
    count delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``, one
    sample per compilation that missed the generator's cache. The
    metric is JVM-wide, so nothing else may run Spark meanwhile."""
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())
    before = metric.getCount()
    fn()
    return metric.getCount() - before
