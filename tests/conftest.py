import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgforge.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="kgforge-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)`` runs ``fn`` under its own job group and
    returns the number of Spark jobs it started and ``fn``'s result."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture(scope="session")
def unit_fixture_dir():
    from kgforge.fixtures import ensure_fixtures

    return ensure_fixtures("unit")
