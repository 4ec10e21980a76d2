"""Arrow-backed local relations (r14, guide §4/§6.4).

A list-backed ``spark.createDataFrame(rows, schema)`` builds a PYTHON-RDD
local relation: every downstream action re-evaluates it through Python
worker launches (pickled partitions, worker spin-up), measured ~2-5 s cold
and ~0.3-0.5 s warm per action for even a one-row frame -- and broadcast
sides built this way re-pay it on every consumer action because a local
relation is never a ReusedExchange. Routing the same rows through pandas
turns them into an Arrow-serialized LocalRelation evaluated on the JVM:
~0.2 s cold, no Python workers at all.

Every small calibration/result frame the operators build (centroid tables,
codebooks, one-row contract outputs, query fixtures) should come through
:func:`arrow_local_frame`.

The reverse direction -- an operator pulling a small frame to the driver to
run a local twin of its distributed loop -- goes through
:func:`fetch_bounded`, under the one cap :data:`LOCAL_CAP`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The one driver-local cap, in rows. Every operator with a local twin of a
# distributed loop (connected components, the graph rank family, k-means||
# training, the unigram E-step, the streaming cluster merge) fetches its
# input only when it fits a fixed multiple of this value. Why 100k:
# - ids cross Arrow at ~16 B per row, so 100k seeds plus the 8x symmetrized
#   edge fetch of connected components stay within ~15 MB of driver memory;
# - a 10k first cut regressed the sf1 incremental merges 2x, because their
#   contracted graphs run ~50k nodes and then paid ~8 distributed job rounds;
# - the trained-SemDeDup row caps its training frame at 65 536 rows at any
#   corpus scale, so that frame always fits.
# A 100 TB input exceeds the cap and runs the distributed path unchanged.
LOCAL_CAP = 100_000


def arrow_local_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """``createDataFrame`` through the pandas/Arrow path with an explicit
    schema, coalesced to one partition (these frames are
    broadcast-or-result-sized by contract)."""
    import pandas as pd

    if isinstance(schema, str):
        # public DDL parser (ADVICE r14) -- the private
        # T._parse_datatype_string can move across pyspark upgrades
        schema = T.StructType.fromDDL(schema)
    pdf = pd.DataFrame(rows, columns=schema.fieldNames())
    df = spark.createDataFrame(pdf, schema)
    return df.coalesce(1)


def fetch_bounded(
    df: DataFrame,
    max_rows: int,
    *,
    ids: tuple[str, ...] = (),
    finite: tuple[str, ...] = (),
):
    """Fetch ``df`` to the driver as a pandas frame if it has at most
    ``max_rows`` rows; return None if it has more.

    ONE ``limit(max_rows + 1).toPandas()`` job either hands back the whole
    frame or proves it too big, so driver memory is bounded before anything
    is pulled, and the Arrow path costs column width per row, not a PySpark
    Row object. Columns keep the dtypes Spark gave them: string ids come
    back as strings, integer ids as exact integers.

    A null in an ``ids`` column, or a null/NaN/inf in a ``finite`` column,
    is a broken input upstream: raise ``ValueError`` naming the column. A
    local twin would otherwise diverge silently from the distributed path
    (pandas turns a null weight into NaN, where a Spark sum drops it)."""
    import numpy as np

    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    for c in ids:
        if pdf[c].isna().any():
            raise ValueError(f"driver-local fetch: null id in column {c!r}")
    for c in finite:
        if not np.isfinite(pdf[c].astype("float64").to_numpy()).all():
            raise ValueError(
                f"driver-local fetch: null/NaN/inf value in column {c!r}"
            )
    return pdf
