from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest lives in, so a copy of the repo tests its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributedqueryengine_spark.session import get_spark, register_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return register_tables(spark, SF_DIR)
