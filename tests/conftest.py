import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cds_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cds-tests", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "8"})
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (jobs, fn())``: the Spark jobs ``fn`` launched on
    the calling thread. Drains the listener bus, then takes the job-id
    delta from ``statusTracker`` for the thread's job group — the method of
    ``enginebench/harness.JobCounter``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def run(fn):
        jsc.listenerBus().waitUntilEmpty()
        start = int(jsc.dagScheduler().nextJobId())
        result = fn()
        jsc.listenerBus().waitUntilEmpty()
        ids = sc.statusTracker().getJobIdsForGroup(
            sc.getLocalProperty("spark.jobGroup.id"))
        return sum(1 for i in ids if i >= start), result

    return run


@pytest.fixture
def count_gateway_calls(spark):
    """``count_gateway_calls(fn) -> (commands, fn())``: the py4j commands
    ``fn`` sent to the JVM. Object-release commands (py4j's ``m``
    memory commands, sent when Python proxies are garbage-collected) are
    not counted: when they go out depends on GC timing, not on ``fn``."""
    client = spark.sparkContext._gateway._gateway_client

    def run(fn):
        n = 0
        send = client.send_command

        def counted(command, *args, **kwargs):
            nonlocal n
            if not command.startswith("m\n"):
                n += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        try:
            result = fn()
        finally:
            client.send_command = send
        return n, result

    return run
