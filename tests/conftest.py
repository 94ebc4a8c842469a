from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from connected_data_lake_spark.session import get_spark

    spark = get_spark("cdl-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    from tools.oracle_check import duck_connection

    return duck_connection(SF_SMOKE)


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(result, jobs, stages)``: the jobs the call started and the
    stages of those jobs that ran at least one task (skipped stages do not
    count), read from the status tracker."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        stages = [tracker.getStageInfo(s) for s in stage_ids]
        return result, len(jobs), sum(1 for s in stages if s is not None and s.numCompletedTasks > 0)

    return run
