"""Spark actions a call starts, counted by job group.

An action is one SQL execution, however many jobs adaptive execution
splits it into, or one job outside any SQL execution (a parquet schema
inference, an RDD action)."""

from __future__ import annotations

import time


def group_actions(spark, group: str, since_ms: float) -> list:
    """The actions of job group ``group`` (SQL executions submitted since
    ``since_ms``), read once the listener bus has delivered every event
    posted before the call."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    actions = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList(
    ).iterator()
    while it.hasNext():
        e = it.next()
        if e.submissionTime() < since_ms:
            continue
        ids, keys = set(), e.jobs().keys().iterator()
        while keys.hasNext():
            ids.add(keys.next())
        if ids & jobs:
            actions.append(("sql", e.executionId()))
            jobs -= ids
    return sorted(actions) + [("job", j) for j in sorted(jobs)]


def actions_of(spark, group: str, fn, *a, **k):
    """``fn(*a, **k)`` run under job group ``group``: (its result, the
    actions it started)."""
    sc = spark.sparkContext
    since = time.time() * 1e3
    sc.setJobGroup(group, group)
    try:
        out = fn(*a, **k)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, group_actions(spark, group, since)


def actions_before_write(spark, group: str, fn, *a, **k):
    """``fn(*a, **k)`` run under job group ``group``: (its result, the
    actions it started before calling ``pipeline.write_tiers_combined``)."""
    from gents_spark import pipeline

    write, before = pipeline.write_tiers_combined, []
    since = time.time() * 1e3

    def counted(*wa, **wk):
        before.extend(group_actions(spark, group, since))
        return write(*wa, **wk)

    pipeline.write_tiers_combined = counted
    try:
        return actions_of(spark, group, fn, *a, **k)[0], before
    finally:
        pipeline.write_tiers_combined = write
