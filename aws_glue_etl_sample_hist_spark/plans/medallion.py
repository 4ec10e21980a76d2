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

Incremental loads: pass ``months=['199601', ...]`` -- the bronze extract is
date-bounded (reference S2) and every write uses dynamic partition overwrite
(S7), so re-running a month is idempotent and touches only that partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.datetime_fns import day_name, presto_day_of_week, with_date_parts, ymd
from ..io.sinks import FACT_POLICY, MART_POLICY, write_partitioned
from ..operators.aggregates import grouped_sales_agg
from ..operators.joins import left_join_drop_keys
from .pipeline import Pipeline

PARTITION_COLS = ["purchase_year", "purchase_month"]
DIMS = ("part", "customer", "nation", "region", "supplier")


def bronze_fact(spark: SparkSession, sf_dir: str, out_dir: str, months: list[str] | None = None) -> None:
    """T0 fact ingest (reference jb_de_enhancement_t0_fact_d2s.py): date-bounded
    extract with substring-derived partition columns, written Hive-partitioned.
    The month filter prunes at the source scan (Catalyst pushdown)."""
    li = with_date_parts(
        load_table(spark, sf_dir, "lineitem").withColumn("purchase_date", ymd("l_shipdate"))
    )
    if months:
        li = li.filter(F.concat("purchase_year", "purchase_month").isin(months))
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


def bronze_dims(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """T0 dimension ingest (reference jb_de_dehancement_t0_dimension_d2s.py):
    full-copy small tables, unpartitioned single files. orders rides along as
    the customer-attribution bridge (size-policied, it is fact-scale)."""
    for name in DIMS:
        write_partitioned(
            load_table(spark, sf_dir, name),
            os.path.join(out_dir, "bronze", name),
            policy=MART_POLICY,
        )
    write_partitioned(
        load_table(spark, sf_dir, "orders"),
        os.path.join(out_dir, "bronze", "orders"),
        policy=None,
    )


def silver_join(spark: SparkSession, out_dir: str, months: list[str] | None = None) -> None:
    """T1 full join (reference jb_de_enhancement_t1_fulljoin_s2s.py): bronze
    fact ⟕ dims -> wide table. Reads back the partitioned bronze so partition
    pruning applies on incremental runs (the reference's push_down_predicate).
    The fact-to-fact bridge is the pipeline's one shuffle join."""
    fact = spark.read.parquet(os.path.join(out_dir, "bronze", "purchase"))
    if months:
        fact = fact.filter(F.concat("purchase_year", "purchase_month").isin(months))
    dims = {n: spark.read.parquet(os.path.join(out_dir, "bronze", n)) for n in DIMS}
    orders = spark.read.parquet(os.path.join(out_dir, "bronze", "orders"))
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
    silver = spark.read.parquet(os.path.join(out_dir, "silver", "purchase_all_info"))
    if months:
        silver = silver.filter(F.concat("purchase_year", "purchase_month").isin(months))
    return silver


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
    wall seconds."""
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
