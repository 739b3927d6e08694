"""Count the Spark jobs a call starts, through the status tracker."""

from __future__ import annotations

import time
import uuid


def jobs_started_by(spark, fn) -> tuple[object, list[int]]:
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs the group started."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    barrier = f"{group}-barrier"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(barrier, barrier)
        # the status store applies listener events in order, so once the
        # barrier job is visible every job of ``group`` is visible too
        spark.range(1).collect()
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(barrier) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(barrier), "barrier job never reported"
    return out, list(tracker.getJobIdsForGroup(group))
