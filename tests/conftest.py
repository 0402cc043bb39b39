import contextlib
import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from marketstore_spark import get_session

    s = get_session("marketstore-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def job_group(spark):
    """``with job_group() as jobs:`` runs the block's Spark jobs in a
    fresh job group; ``jobs()`` returns the ids of the jobs the group
    has started so far (after the listener bus has delivered every
    event posted before the call)."""
    sc = spark.sparkContext

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def group():
        gid = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "jobs counted by a test")
        try:
            yield lambda: jobs(gid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return group
