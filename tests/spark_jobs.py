"""Count the Spark jobs a piece of driver code fires."""

from __future__ import annotations

from uuid import uuid4


def count_jobs(spark, run) -> int:
    """Spark jobs fired by ``run()``: ``run`` executes under a job group
    of its own, and the jobs submitted in that group are counted once
    the listener bus has delivered them."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid4().hex}"  # ids accumulate per group
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
