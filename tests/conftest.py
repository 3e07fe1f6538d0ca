from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mrt_data_integration_spark.session import get_spark  # noqa: E402

TESTDATA = "/root/testdata"
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.environ.get("MRT_TEST_SF_DIR", os.path.join(TESTDATA, "sf0.01"))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("mrt-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE
