import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graft.session import build_session  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="spark-graft-tests")
    yield s
    s.stop()
