"""One memory budget for the test process.

The suite runs the Spark JVM and the DuckDB oracle connections side by side
in one pytest process. Left to their own defaults, each ceiling assumes it
owns the box: the engine's driver heap defaults to 8 GB (``session.py``) and
DuckDB's ``memory_limit`` to 80% of RAM. On a 16 GB box the two together,
plus the JVM's off-heap memory and the PySpark workers, run memory out and
the kernel kills the JVM mid-suite.

The budget splits physical memory in quarters:
  - the test JVM heap takes one quarter, the JVM's own ``MaxRAMPercentage``
    default (``tests/conftest.py`` sets it through ``SPARK_GRAFT_DRIVER_MEM``;
    a value set before the suite starts wins);
  - DuckDB's ``memory_limit`` takes one quarter
    (``tests/oracle_compare.duckdb_connection``), and a query that needs more
    spills to a temporary directory outside the checkout;
  - the other half covers the JVM's off-heap memory, the PySpark workers, the
    pytest process and the OS.
"""

from __future__ import annotations

import os

DRIVER_MEM_ENV = "SPARK_GRAFT_DRIVER_MEM"

PHYSICAL_BYTES = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
SHARE_MIB = PHYSICAL_BYTES // 4 >> 20

JVM_HEAP = f"{SHARE_MIB}m"
DUCKDB_MEMORY_LIMIT = f"{SHARE_MIB}MiB"

# The driver heap an operator set before the suite started, if any; it wins
# over ``JVM_HEAP``. Read at import, which ``conftest.py`` does before it
# fills in the default.
PRESET_DRIVER_MEM = os.environ.get(DRIVER_MEM_ENV)
