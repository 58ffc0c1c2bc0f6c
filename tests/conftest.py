import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from porcupine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
# the sf0.01 tables beside SF_DIR, for tests that need more rows
SF01_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF01", os.path.join(os.path.dirname(SF_DIR), "sf0.01")
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("porcupine_tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_so_far(spark):
    """A function returning how many jobs the scheduler has accepted so
    far (job ids are handed out 0, 1, ...); deltas count the jobs a call
    ran."""

    def count() -> int:
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    return count


@pytest.fixture
def jobs_since(spark):
    """A function returning (description, task count) of every job with
    an id of at least ``first``, oldest first."""

    def jobs(first: int) -> list[tuple[str, int]]:
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        last = store.jobsList(None).head().jobId()
        out = []
        for job_id in range(first, last + 1):
            job = store.job(job_id)
            desc = job.description()
            out.append((desc.get() if desc.isDefined() else job.name(), job.numTasks()))
        return out

    return jobs
