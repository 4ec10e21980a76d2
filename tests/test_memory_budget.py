"""The test process holds to one memory budget (``tests/memory_budget.py``):
the Spark session's heap and every DuckDB oracle connection each take a
quarter of physical memory, and DuckDB spills outside the checkout."""

from __future__ import annotations

import os
import re

from tests import memory_budget
from tests.oracle_compare import duckdb_connection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_UNITS = {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _duckdb_bytes(setting: str) -> float:
    """DuckDB reports a memory setting rounded to one decimal, e.g. '3.9 GiB'."""
    m = re.fullmatch(r"([\d.]+) (\w+)", setting)
    assert m and m.group(2) in _UNITS, setting
    return float(m.group(1)) * _UNITS[m.group(2)]


def test_duckdb_connection_takes_the_budget_and_spills_outside_the_repo(sf_small):
    con = duckdb_connection(sf_small)
    try:
        limit, temp_dir = con.execute(
            "SELECT current_setting('memory_limit'), current_setting('temp_directory')"
        ).fetchone()
    finally:
        con.close()
    share = memory_budget.SHARE_MIB * 2**20
    assert abs(_duckdb_bytes(limit) - share) <= 0.05 * _UNITS[limit.split()[1]], (limit, share)
    assert os.path.isabs(temp_dir), temp_dir
    assert os.path.commonpath([REPO, os.path.realpath(temp_dir)]) != REPO, temp_dir


def test_session_heap_is_the_budget_unless_preset(spark):
    expected = memory_budget.PRESET_DRIVER_MEM or memory_budget.JVM_HEAP
    assert spark.conf.get("spark.driver.memory") == expected
    # the launched JVM really runs under that heap ceiling
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert f"-Xmx{expected}" in args, args
