"""The medallion (bronze/silver/gold) pipeline over the testdata star schema,
mirroring the reference's 7-job DAG (stepfunction.json: T0 dims ∥ T0 fact ->
T1 full join -> 4 T2 marts ∥).

Tier semantics (reference README.md:350-355, document/glue_t1.md:15-19):
  bronze  raw fact copy + derived string-date partition columns, Hive-
          partitioned by purchase_year/purchase_month (NOT day -- the
          reference measured day-partitioning 10x slower, glue_t0.md:149-153)
  silver  denormalized wide table, partitioned the same way; materialized
          precisely so downstream queries never re-pay the join
  gold    4 KPI marts, tiny -> single-file writer policy

Incremental loads: pass ``months=['199601', ...]``, each a ``'YYYYMM'``
string with a month from 01 to 12 (anything else raises ``ValueError``).
The bronze extract is date-bounded (reference S2) and every write uses
dynamic partition overwrite (S7), so re-running a month is idempotent and
touches only that partition. A refresh pays for its month only:

  - the dimension tables (and the ``orders`` bridge) are rewritten only
    when their source changed since the last publish -- each bronze table
    keeps a ``_source.json`` fingerprint of the files it was loaded from,
    and an equal fingerprint skips the table (``bronze_dims``);
  - every tier read-back takes its schema from the parquet footer
    (``io.sources.read_tier``), so no read starts a schema-inference job.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table, table_path
from ..functions.datetime_fns import day_name, presto_day_of_week, with_date_parts, ymd
from ..io.sinks import FACT_POLICY, MART_POLICY, write_partitioned
from ..io.sources import read_tier
from ..operators.aggregates import grouped_sales_agg
from ..operators.joins import left_join_drop_keys
from .pipeline import Pipeline

PARTITION_COLS = ["purchase_year", "purchase_month"]
DIMS = ("part", "customer", "nation", "region", "supplier")
# written next to each published bronze dim; the `_` prefix hides it from
# Spark and from `**/*.parquet` globs
SOURCE_STAMP = "_source.json"


def _check_months(months: list[str]) -> None:
    bad = [
        m for m in months
        if not (isinstance(m, str) and re.fullmatch(r"\d{4}(0[1-9]|1[0-2])", m))
    ]
    if bad:
        raise ValueError(f"months must be 'YYYYMM' strings with month 01-12, got {bad!r}")


def _in_months(df: DataFrame, months: list[str]) -> DataFrame:
    """Keep the rows of ``months``. Compares ``year*100 + month`` as ints:
    the bronze extract carries the partition columns as strings ("09")
    while a read-back tier has them inferred from the directory names as
    ints (9), so a string concat would match nothing for months 01-09."""
    ym = F.col("purchase_year").cast("int") * 100 + F.col("purchase_month").cast("int")
    return df.filter(ym.isin([int(m) for m in months]))


def bronze_fact(spark: SparkSession, sf_dir: str, out_dir: str, months: list[str] | None = None) -> None:
    """T0 fact ingest (reference jb_de_enhancement_t0_fact_d2s.py): date-bounded
    extract with substring-derived partition columns, written Hive-partitioned.
    The month filter prunes at the source scan (Catalyst pushdown)."""
    li = with_date_parts(
        load_table(spark, sf_dir, "lineitem").withColumn("purchase_date", ymd("l_shipdate"))
    )
    if months:
        li = _in_months(li, months)
    # cluster by the Hive partition key before the partitioned write (r14,
    # guide §6): unclustered, every scan task writes a file into every month
    # directory (tasks x months small files -- and with the single-file
    # testdata the whole write ran as ONE task, serially creating all ~84
    # partition files on one core). One task per month writes exactly one
    # right-sized file, in parallel; maxRecordsPerFile (FACT_POLICY) still
    # splits a month that outgrows the file-size target at scale.
    li = li.repartition(*PARTITION_COLS)
    write_partitioned(
        li, os.path.join(out_dir, "bronze", "purchase"),
        partition_by=PARTITION_COLS, policy=FACT_POLICY,
    )


def _source_fingerprint(src: str) -> dict:
    """The source's absolute path and the sorted (relpath, size, mtime_ns)
    of its files -- a file source or a directory of them."""
    src = os.path.abspath(src)
    if os.path.isdir(src):
        base = src
        paths = [os.path.join(r, f) for r, _dirs, fs in os.walk(src) for f in fs]
    else:
        base, paths = os.path.dirname(src), [src]
    files = []
    for f in paths:
        st = os.stat(f)
        files.append([os.path.relpath(f, base), st.st_size, st.st_mtime_ns])
    return {"source": src, "files": sorted(files)}


def _stored_fingerprint(dest: str) -> dict | None:
    try:
        with open(os.path.join(dest, SOURCE_STAMP)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def bronze_dims(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """T0 dimension ingest (reference jb_de_dehancement_t0_dimension_d2s.py):
    full-copy small tables, unpartitioned single files. orders rides along as
    the customer-attribution bridge (size-policied, it is fact-scale).

    The reference reloads its dims on every run because the source DB can
    change; here a table is reloaded when its source DID change. The
    source's fingerprint is taken before the read and written to
    ``<bronze>/<name>/_source.json`` only after the parquet write returns
    (the overwrite clears the directory, old fingerprint included), so a
    crash in between makes the next run rewrite the table. A table whose
    stored fingerprint equals its source's current one is skipped; a fresh
    output directory has none, so a full build writes every table."""
    for name in (*DIMS, "orders"):
        dest = os.path.join(out_dir, "bronze", name)
        stamp = _source_fingerprint(table_path(sf_dir, name))
        if _stored_fingerprint(dest) == stamp:
            continue
        write_partitioned(
            load_table(spark, sf_dir, name),
            dest,
            policy=MART_POLICY if name in DIMS else None,
        )
        with open(os.path.join(dest, SOURCE_STAMP), "w") as f:
            json.dump(stamp, f)


def silver_join(spark: SparkSession, out_dir: str, months: list[str] | None = None) -> None:
    """T1 full join (reference jb_de_enhancement_t1_fulljoin_s2s.py): bronze
    fact ⟕ dims -> wide table. Reads back the partitioned bronze so partition
    pruning applies on incremental runs (the reference's push_down_predicate);
    every bronze read takes its schema from the footer (``read_tier``), so
    the seven reads start no job. The fact-to-fact bridge is the pipeline's
    one shuffle join."""
    fact = read_tier(spark, os.path.join(out_dir, "bronze", "purchase"))
    if months:
        fact = _in_months(fact, months)
    dims = {n: read_tier(spark, os.path.join(out_dir, "bronze", n)) for n in DIMS}
    orders = read_tier(spark, os.path.join(out_dir, "bronze", "orders"))
    # dim-side pre-join first (reference J1 customer ⟕ zipcode)
    cust_geo = left_join_drop_keys(
        left_join_drop_keys(dims["customer"], dims["nation"], [("c_nationkey", "n_nationkey")]),
        dims["region"],
        [("n_regionkey", "r_regionkey")],
    )
    # fact-to-fact bridge: the pipeline's only fact-scale join
    wide = (
        fact.join(
            orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
            fact.l_orderkey == F.col("o_orderkey"),
            "left",
        ).drop("o_orderkey")
    )
    wide = left_join_drop_keys(wide, dims["part"], [("l_partkey", "p_partkey")])
    wide = left_join_drop_keys(wide, dims["supplier"], [("l_suppkey", "s_suppkey")])
    wide = left_join_drop_keys(wide, cust_geo, [("o_custkey", "c_custkey")])
    # cluster by the partition key before the write (r14, guide §6): the
    # T1 join leaves rows partitioned by order key, so every post-join task
    # would otherwise write a small file into every month directory
    wide = wide.repartition(*PARTITION_COLS)
    write_partitioned(
        wide, os.path.join(out_dir, "silver", "purchase_all_info"),
        partition_by=PARTITION_COLS, policy=FACT_POLICY,
    )


def _read_silver(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> DataFrame:
    silver = read_tier(spark, os.path.join(out_dir, "silver", "purchase_all_info"))
    return _in_months(silver, months) if months else silver


def _write_mart(df: DataFrame, out_dir: str, name: str) -> None:
    """Marts are Hive-partitioned by month like every other tier, so an
    incremental month replaces ONLY its mart partitions (dynamic overwrite)
    -- incremental materialized-view maintenance: every mart's group key
    contains (year, month), so recomputing just the touched months from the
    month-pruned silver is exact, and a nightly run aggregates one month of
    silver instead of the whole table."""
    write_partitioned(
        df, os.path.join(out_dir, "gold", name),
        partition_by=PARTITION_COLS, policy=MART_POLICY,
    )


def gold_sales_by_brand_type(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A1 analog (jb_de_enhancement_t2_salesbyageproducts_s2s.py)."""
    df = grouped_sales_agg(
        _read_silver(spark, out_dir, months),
        ["purchase_year", "purchase_month", "l_returnflag", "p_brand", "p_type"],
        amount_col="l_extendedprice",
    )
    _write_mart(df, out_dir, "mart_salesbybrandtype")


def gold_sales_by_supplier(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A2 analog (agg-then-join, jb_de_enhancement_t2_salesbycustomer_s2s.py)."""
    agg = grouped_sales_agg(
        _read_silver(spark, out_dir, months),
        ["l_suppkey", "purchase_year", "purchase_month"],
        amount_col="l_extendedprice",
    )
    _write_mart(agg, out_dir, "mart_salesbysupplier")


def gold_sales_by_datetime(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A3 analog with day-of-week columns (jb_de_enhancement_t2_salesbydatetime_s2s.py)."""
    df = grouped_sales_agg(
        _read_silver(spark, out_dir, months),
        [
            "purchase_year",
            "purchase_month",
            "purchase_day",
            day_name(F.to_date("purchase_date", "yyyyMMdd")).alias("day_of_week"),
            presto_day_of_week(F.to_date("purchase_date", "yyyyMMdd")).alias("day_num"),
        ],
        amount_col="l_extendedprice",
    )
    _write_mart(df, out_dir, "mart_salesbydatetime")


def gold_sales_by_region(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A4 analog with the pre-write multi-column sort
    (jb_de_enhancement_t2_salesbyresidence_s2s.py:55-57)."""
    df = grouped_sales_agg(
        _read_silver(spark, out_dir, months),
        ["purchase_year", "purchase_month", "r_name", "n_name"],
        amount_col="l_extendedprice",
    ).orderBy(
        F.col("purchase_year").asc(),
        F.col("purchase_month").asc(),
        F.col("r_name").asc(),
        F.col("total_purchase_amount").desc(),
        F.col("count_of_purchase").desc(),
    )
    _write_mart(df, out_dir, "mart_salesbyregion")


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    months: list[str] | None = None,
) -> dict[str, float]:
    """Run the full DAG with the reference's parallel structure
    (stepfunction.json: T0 Parallel -> T1 -> T2 Parallel). Returns per-task
    wall seconds. ``months`` entries must be ``'YYYYMM'`` strings with a
    month from 01 to 12; anything else raises ``ValueError``."""
    if months:
        _check_months(months)
    pipe = (
        Pipeline()
        .add_stage(
            "t0",
            fact=lambda: bronze_fact(spark, sf_dir, out_dir, months),
            dims=lambda: bronze_dims(spark, sf_dir, out_dir),
        )
        .add_stage("t1", fulljoin=lambda: silver_join(spark, out_dir, months))
        .add_stage(
            "t2",
            brandtype=lambda: gold_sales_by_brand_type(spark, out_dir, months),
            supplier=lambda: gold_sales_by_supplier(spark, out_dir, months),
            datetime=lambda: gold_sales_by_datetime(spark, out_dir, months),
            region=lambda: gold_sales_by_region(spark, out_dir, months),
        )
    )
    return pipe.run()
