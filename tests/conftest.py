from __future__ import annotations

import os

import pytest

from aws_glue_etl_sample_hist_spark.session import get_spark
from tests import memory_budget

# Size the test JVM heap from the memory budget before any session starts;
# an operator's own SPARK_GRAFT_DRIVER_MEM wins.
os.environ.setdefault(memory_budget.DRIVER_MEM_ENV, memory_budget.JVM_HEAP)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sf01: heavy sf0.1 spot-oracle tier (deselect with -m 'not sf01')",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cpus=8, shuffle_partitions=8)
    yield s


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
