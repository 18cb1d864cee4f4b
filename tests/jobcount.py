"""Count the Spark jobs a piece of driver code runs, for job-budget tests."""

from __future__ import annotations

import uuid

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def run_counting_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted with the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
