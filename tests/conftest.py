import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from refined_spark.fixtures.gen import ensure_fixtures  # noqa: E402
from refined_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("refined_spark_tests", master="local[8]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fx_t1():
    return ensure_fixtures("t1")


@pytest.fixture(scope="session")
def fx_t2():
    return ensure_fixtures("t2")


@pytest.fixture(scope="session")
def sf001():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01():
    return os.path.join(TESTDATA, "sf0.01")


@pytest.fixture
def persistent_rdd_ids(spark):
    """Ids of the session's persisted RDDs. Compare id sets, not counts:
    the JVM collects an earlier test's unreleased pipeline result at any
    time, and its local checkpoints leave the registry with it."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
