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
