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


@pytest.fixture()
def py4j_commands(spark):
    """``py4j_commands(fn)`` → (fn(), number of Py4J commands fn's thread
    sent to the JVM while fn ran), counted on the gateway client. Other
    threads are not counted: Py4J's finalizer thread releases JVM objects
    of earlier garbage at its own pace through the same client."""
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def run(fn):
        send, sent, caller = client.send_command, 0, threading.get_ident()

        def counting(*args, **kwargs):
            nonlocal sent
            sent += threading.get_ident() == caller
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            del client.send_command
        return out, sent

    return run
