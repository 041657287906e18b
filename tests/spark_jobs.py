"""Count the Spark jobs a piece of test code launches."""

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
