from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from infofarmsparkml_spark.session import get_spark  # noqa: E402
from infofarmsparkml_spark.verify import duck_connect  # noqa: E402

# sf0.001 keeps the suite fast; set TEST_SF_DIR=/root/testdata/sf0.01
# to run the same assertions at the driver's correctness scale.
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="infofarmsparkml-tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()
