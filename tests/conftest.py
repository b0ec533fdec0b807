import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graft import QUERIES  # noqa: E402
from graft.session import build_session  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="spark-graft-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def seed_run(spark):
    """Each query's one run per seed scale, shared by the tests that check
    it: seed_run(name, sf_dir) builds QUERIES[name] once, fetches it once
    with toArrow(), and returns (the DataFrame, that result).  The oracle
    test reads the result and the plan-facts test the same DataFrame's
    executed plan, whichever of them asks first."""
    @functools.cache
    def run(name, sf_dir):
        df = QUERIES[name](spark, sf_dir)
        return df, df.toArrow()
    return run
