from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from cs_tutorial_reporting_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn)`` → (fn(), number of Spark jobs fn started),
    counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
