import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from go_whisper_spark.session import get_spark

    s = get_spark("go_whisper_spark_tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def released(spark):
    """``with released(): ...`` asserts that the block leaves nothing
    persisted in the session: no new cached plan and no new persistent
    RDD.  RDDs are compared by id, never by count: ids are not reused,
    and the ContextCleaner may release other tests' RDDs at any time."""

    def held():
        cm = spark._jsparkSession.sharedState().cacheManager()
        rdds = spark.sparkContext._jsc.getPersistentRDDs().keySet()
        return cm.numCachedEntries(), {int(k) for k in rdds}

    @contextmanager
    def check():
        entries, rdds = held()
        yield
        now_entries, now_rdds = held()
        assert now_entries == entries
        assert now_rdds <= rdds, f"left persisted: {sorted(now_rdds - rdds)}"

    return check


@pytest.fixture
def jobs_started(spark):
    """``with jobs_started() as jobs: ...`` leaves in ``jobs`` the ids
    of the Spark jobs the block started, read from the status store
    under a job group of the block's own (after the listener bus has
    delivered every event)."""
    import uuid

    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"jobs-started-{uuid.uuid4().hex}"
        jobs = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return count
