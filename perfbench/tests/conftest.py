from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from aws_glue_etl_sample_hist_spark.session import get_spark

    return get_spark(
        "perfbench-tests", cpus=2, shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
