"""Table registry: name -> path/schema, replacing the Glue Data Catalog +
crawlers of the reference (document/glue_t0.md:95-99 — crawlers infer parquet
schema; scripts read catalog tables via create_dynamic_frame.from_catalog().toDF(),
jb_de_enhancement_t1_fulljoin_s2s.py:39-49).

Spark-first equivalent: parquet is self-describing and path-partitioned
layouts are discovered automatically, so the "catalog" is just a name->path
map plus per-table normalization (the one real fix-up: events.ts is stored as
parquet TIMESTAMP(NANOS), which Spark reads as long only under
``nanosAsLong`` — we convert back to a proper timestamp here, truncating to
microseconds exactly like DuckDB/Presto do).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# the driver-generated star schema (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-built session (e.g. the driver's) able to read the
    testdata: UTC for deterministic timestamp formatting, nanosAsLong because
    events.parquet stores TIMESTAMP(NANOS). Both are runtime-settable."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


# ---- scan spread (r14 optimization, guide §2.5 "input skew") -------------
#
# Every testdata table is ONE parquet file with ONE row group, and a parquet
# row group is Spark's minimum scan granularity -- so every map-side stage
# (tokenize/explode passes, mapInPandas codecs, fold-cosine assignment)
# runs as a SINGLE task no matter how many cores the session has. At real
# scale a table arrives as many files/row groups and scans parallelize by
# themselves; the spread below is therefore gated on the FILE LAYOUT: only
# when the layout provides less parallelism than the session's cores does
# load_table add one round-robin repartition after the scan (deterministic:
# sort-before-repartition is on by default, SPARK-23207). Tiny
# broadcast-sized tables (< _SPREAD_MIN_BYTES) are never spread -- fanning
# 25 nation rows over 32 tasks only adds scheduling overhead. The spread is
# min(cores, rows // 64) partitions.
#
# WHY ONLY SOME TABLES (correctness, not performance): a round-robin
# repartition changes the ORDER doubles are added in downstream sums, and
# on money/time-series tables the summed values have fixed decimal
# granularity, so `round(sum(x), k)` has EXACT .5 ties that a one-ULP
# reassociation flips (measured: events_exp_smoothing went red the moment
# events was spread; its own docstring documents the tie structure). Worse,
# once the map side has >1 partition, the final-agg merge order follows
# shuffle-block arrival, which is not even run-to-run deterministic. The
# spread is therefore ON only for tables whose query surface is per-row,
# exact-integer/hash, or sums of UNSTRUCTURED floats (log-probs, random
# vectors) where a one-ULP reassociation cannot cross a 4-6dp rounding
# boundary: `documents` (text/dedup/corpus/multimodal pipelines) and
# `embeddings`. Money-granular tables (lineitem, orders, events, customer,
# ...) keep their exact pre-r14 single-partition sum order. Individual
# call sites whose downstream math is exact can opt in via
# ``load_table(..., spread=True)``.
_SPREAD_SAFE_TABLES = frozenset({"documents", "embeddings"})
_SPREAD_MIN_BYTES = 64 * 1024
_LAYOUT_CACHE: dict[str, tuple[int, int, int]] = {}  # path -> (row_groups, bytes, rows)


def _scan_layout(path: str) -> tuple[int, int, int]:
    """(row_groups, file_bytes, rows) of a single-file parquet table;
    (1 << 30,) * 3 when metadata can't be read (never spread on doubt)."""
    hit = _LAYOUT_CACHE.get(path)
    if hit is not None:
        return hit
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        out = (md.num_row_groups, os.path.getsize(path), md.num_rows)
    except Exception:  # directory tables / remote stores: layout unknown
        out = (1 << 30, 1 << 30, 1 << 30)
    _LAYOUT_CACHE[path] = out
    return out


def _spread_partitions(spark: SparkSession, path: str) -> int:
    """How many partitions load_table should spread this scan over;
    0 = leave the scan alone (layout already parallel enough, or table
    tiny)."""
    row_groups, nbytes, rows = _scan_layout(path)
    cores = spark.sparkContext.defaultParallelism
    if nbytes < _SPREAD_MIN_BYTES:
        return 0
    # enough tasks to occupy the cores; capped so a small table still keeps
    # >= 64 rows per task (below that, per-task scheduling overhead dominates
    # any per-row work the downstream stage could amortize)
    target = min(cores, max(1, rows // 64))
    return target if row_groups < target and target > 1 else 0


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Read one testdata table with schema normalization applied.

    ``spread``: None = spread only _SPREAD_SAFE_TABLES (see the correctness
    note above); True/False force it for one call site."""
    _ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    do_spread = name in _SPREAD_SAFE_TABLES if spread is None else spread
    n_spread = _spread_partitions(spark, path) if do_spread else 0
    if n_spread:
        df = df.repartition(n_spread)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as long nanos; integer-divide to micros
            # (`div`, NOT `/` -- `/` is double division and loses precision
            # at ~1.7e18 ns, off-by-1us). All values are post-epoch, so
            # integer division == floor, matching DuckDB's micro-truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ, which
            # half the epoch functions (unix_micros & co.) reject. Under the
            # pinned UTC session the cast keeps the same wall clock == same
            # instant, and matches how DuckDB treats the naive value.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every testdata table as a temp view (the rebuild's 'crawler')."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
