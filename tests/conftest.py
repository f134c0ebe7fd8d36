from __future__ import annotations

import itertools

import pytest

from biokg_spark.session import get_spark

_PROBES = itertools.count()


@pytest.fixture(scope="session")
def spark():
    # the engine's 48g default heap lets one long-lived test JVM grow past
    # a small host's memory (the kernel then kills it mid-suite); cached
    # and checkpointed blocks spill to disk under this cap instead
    s = get_spark(
        app_name="biokg_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def busiest_stage_tasks(spark):
    """Run a thunk under its own job group and return the task count of
    the stage that took the most executor run time (from the status
    store, so it needs no UI or event log)."""

    def probe(action) -> int:
        sc = spark.sparkContext
        group = f"busiest-stage-{next(_PROBES)}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        store = sc._jsc.sc().statusStore()
        stages = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            ids = store.job(jid).stageIds()
            for i in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() != "SKIPPED":
                    stages.append((sd.executorRunTime(), sd.numTasks()))
        return max(stages)[1]

    return probe
