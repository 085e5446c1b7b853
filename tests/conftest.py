from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamds_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
REFERENCE_DATA = "/root/reference/HYDFS/business"


def pytest_runtest_logreport(report):
    """Incremental per-test durations (round 12): append (duration, nodeid)
    per call phase to $SPARK_GRAFT_TEST_TIMINGS so a killed/timed-out run
    still yields the data the slow-marking policy needs (pytest --durations
    only prints at session end)."""
    path = os.environ.get("SPARK_GRAFT_TEST_TIMINGS")
    if path and report.when == "call":
        with open(path, "a") as f:
            f.write(f"{report.duration:.2f}\t{report.nodeid}\n")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture()
def tmp_out(tmp_path):
    return str(tmp_path)


def reference_file(name: str) -> str:
    path = os.path.join(REFERENCE_DATA, name)
    if not os.path.exists(path):
        pytest.skip(f"reference dataset {name} not available")
    return path
