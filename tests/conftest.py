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
