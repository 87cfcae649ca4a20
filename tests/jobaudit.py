"""Count the Spark jobs a driver-side call launches."""

from __future__ import annotations

import uuid


def jobs_during(spark, fn, retry=True, _attempt=0):
    """Run fn() inside a fresh job group; return the number of Spark
    jobs it launched and fn's result.  The group name must be globally
    fresh: id(fn) is REUSED once earlier lambdas are garbage-collected,
    which silently attributed a previous test's probe jobs to this
    window — so uuid per call.  A nonzero first reading is retried once
    (a REAL hint regression probes on every construction; stray
    same-thread async work does not repeat); pass ``retry=False`` for a
    call with side effects, such as a write."""
    group = f"probe-audit-{uuid.uuid4().hex}-{_attempt}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan-build job audit")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    if jobs and retry and _attempt == 0:
        return jobs_during(spark, fn, _attempt=1)
    return len(jobs), out
