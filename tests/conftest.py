import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hindex_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # one task slot per host core, at most 8: SPARK_GRAFT_CPUS (the
    # host's core count in the tier-1 command) sizes the test session
    # like every other entry point, and a small host is not
    # oversubscribed with 8 slots of tiny, scheduling-bound tasks
    cpus = min(8, int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s = get_spark("hindex_spark_tests", cpus=cpus)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
