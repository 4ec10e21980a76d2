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


def bronze_dims(
    spark: SparkSession, sf_dir: str, out_dir: str, *, include_orders: bool = True
) -> None:
    """T0 dimension ingest (reference jb_de_dehancement_t0_dimension_d2s.py):
    full-copy small tables, unpartitioned single files. orders rides along as
    the customer-attribution bridge (size-policied, it is fact-scale) --
    unless the bucketed path is writing it bucketed instead."""
    for name in DIMS:
        write_partitioned(
            load_table(spark, sf_dir, name),
            os.path.join(out_dir, "bronze", name),
            policy=MART_POLICY,
        )
    if include_orders:
        write_partitioned(
            load_table(spark, sf_dir, "orders"),
            os.path.join(out_dir, "bronze", "orders"),
            policy=None,
        )


def _silver_wide(fact: DataFrame, orders: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """The T1 wide-table plan, independent of where fact/orders come from
    (plain parquet or bucketed tables -- same logical plan, different
    physical join strategy)."""
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
    return left_join_drop_keys(wide, cust_geo, [("o_custkey", "c_custkey")])


def silver_join(spark: SparkSession, out_dir: str, months: list[str] | None = None) -> None:
    """T1 full join (reference jb_de_enhancement_t1_fulljoin_s2s.py): bronze
    fact ⟕ dims -> wide table. Reads back the partitioned bronze so partition
    pruning applies on incremental runs (the reference's push_down_predicate).
    The fact-to-fact bridge is a shuffle join here; the bucketed variant
    below removes that shuffle entirely."""
    fact = spark.read.parquet(os.path.join(out_dir, "bronze", "purchase"))
    if months:
        fact = fact.filter(F.concat("purchase_year", "purchase_month").isin(months))
    dims = {n: spark.read.parquet(os.path.join(out_dir, "bronze", n)) for n in DIMS}
    orders = spark.read.parquet(os.path.join(out_dir, "bronze", "orders"))
    wide = _silver_wide(fact, orders, dims)
    # cluster by the partition key before the write (r14, guide §6): the
    # T1 join leaves rows partitioned by order key, so every post-join task
    # would otherwise write a small file into every month directory
    wide = wide.repartition(*PARTITION_COLS)
    write_partitioned(
        wide, os.path.join(out_dir, "silver", "purchase_all_info"),
        partition_by=PARTITION_COLS, policy=FACT_POLICY,
    )


# ------------------------- bucketed-bronze variant (shuffle-free T1 join)

N_BUCKETS = 32
FACT_BKT_TABLE = "bronze_purchase_bkt"
ORDERS_BKT_TABLE = "bronze_orders_bkt"


def bronze_fact_bucketed(
    spark: SparkSession, sf_dir: str, out_dir: str, months: list[str] | None = None
) -> None:
    """T0 fact ingest into a BUCKETED bronze: lineitem bucketed + sorted on
    l_orderkey. Pre-shuffling the lake once at ingest means every downstream
    join on the order key -- the silver build first of all -- runs with zero
    exchange forever after: at 100 TB that one-time layout decision deletes
    the pipeline's only fact-to-fact shuffle from every incremental run."""
    from ..io.bucketing import write_bucketed_table

    li = with_date_parts(
        load_table(spark, sf_dir, "lineitem").withColumn("purchase_date", ymd("l_shipdate"))
    )
    if months:
        li = li.filter(F.concat("purchase_year", "purchase_month").isin(months))
    write_bucketed_table(
        li, FACT_BKT_TABLE, os.path.join(out_dir, "bronze", "purchase_bkt"),
        bucket_cols=["l_orderkey"], n_buckets=N_BUCKETS, sort_cols=["l_orderkey"],
    )


def bronze_orders_bucketed(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """orders bucketed + sorted on o_orderkey with the SAME bucket count as
    the fact -- the co-location contract both join sides must agree on."""
    from ..io.bucketing import write_bucketed_table

    write_bucketed_table(
        load_table(spark, sf_dir, "orders"),
        ORDERS_BKT_TABLE, os.path.join(out_dir, "bronze", "orders_bkt"),
        bucket_cols=["o_orderkey"], n_buckets=N_BUCKETS, sort_cols=["o_orderkey"],
    )


def silver_join_bucketed(
    spark: SparkSession,
    out_dir: str,
    *,
    rows_per_slice: int | None = None,
) -> None:
    """T1 full join over bucketed bronze: same logical plan as silver_join,
    but the lineitem⋈orders bridge is a bucket-aligned sort-merge join with
    NO exchange and NO sort (both sides pre-sorted within buckets) --
    plan-asserted in tests/test_medallion.py. Dims still broadcast. Output
    parquet is identical, so T2 and every oracle are untouched."""
    import math

    fact = spark.table(FACT_BKT_TABLE)
    orders = spark.table(ORDERS_BKT_TABLE)
    dims = {n: spark.read.parquet(os.path.join(out_dir, "bronze", n)) for n in DIMS}
    wide = _silver_wide(fact, orders, dims)
    # A bucketed scan has no exchange for AQE to coalesce, so without this
    # every one of the 32 bucket tasks would write a file into every month
    # partition (tasks x months small files). One explicit repartition on the
    # Hive partition key fixes the layout; more than one slice per month adds
    # a hash sub-slice so a big month spreads over several write tasks, and
    # one slice keeps exactly one task/file per month, which wins while
    # months are small. The slice count sizes itself from the data: one
    # count-shaped job over the bucketed bronze yields per-month row counts
    # (one result row per month), and the BIGGEST month -- sizing on the
    # max, not the mean, is what survives skew -- is divided by the
    # FACT_POLICY file-size target (``rows_per_slice`` overrides it). At
    # sf0.1 every month fits one slice; at 100x the same code fans a month
    # out over however many tasks the policy implies, so no single-task
    # straggler month appears as data grows. The left joins in _silver_wide
    # are on unique dim keys, so fact rows/month == silver rows/month.
    per_slice = rows_per_slice or FACT_POLICY.target_file_rows
    month_rows = fact.groupBy(*PARTITION_COLS).count().collect()
    biggest = max((r["count"] for r in month_rows), default=0)
    n_months = max(1, len(month_rows))
    n_slices = max(1, math.ceil(biggest / per_slice))
    if n_slices > 1:
        # the partition COUNT must be explicit: a column-only repartition is
        # an AQE-coalescible exchange, and AQE would merge the slices right
        # back into one task per (small-looking) month -- exactly the
        # straggler this exists to prevent
        wide = wide.repartition(
            n_months * n_slices,
            *PARTITION_COLS,
            F.pmod(F.hash("l_orderkey"), F.lit(n_slices)),
        )
    else:
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
    df = (
        _read_silver(spark, out_dir, months)
        .groupBy("purchase_year", "purchase_month", "l_returnflag", "p_brand", "p_type")
        .agg(
            F.sum("l_extendedprice").alias("total_purchase_amount"),
            F.count("l_extendedprice").alias("count_of_purchase"),
        )
    )
    _write_mart(df, out_dir, "mart_salesbybrandtype")


def gold_sales_by_supplier(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A2 analog (agg-then-join, jb_de_enhancement_t2_salesbycustomer_s2s.py)."""
    silver = _read_silver(spark, out_dir, months)
    agg = silver.groupBy("l_suppkey", "purchase_year", "purchase_month").agg(
        F.sum("l_extendedprice").alias("total_purchase_amount"),
        F.count("l_extendedprice").alias("count_of_purchase"),
    )
    _write_mart(agg, out_dir, "mart_salesbysupplier")


def gold_sales_by_datetime(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A3 analog with day-of-week columns (jb_de_enhancement_t2_salesbydatetime_s2s.py)."""
    silver = _read_silver(spark, out_dir, months)
    df = silver.groupBy(
        "purchase_year",
        "purchase_month",
        "purchase_day",
        day_name(F.to_date("purchase_date", "yyyyMMdd")).alias("day_of_week"),
        presto_day_of_week(F.to_date("purchase_date", "yyyyMMdd")).alias("day_num"),
    ).agg(
        F.sum("l_extendedprice").alias("total_purchase_amount"),
        F.count("l_extendedprice").alias("count_of_purchase"),
    )
    _write_mart(df, out_dir, "mart_salesbydatetime")


def gold_sales_by_region(
    spark: SparkSession, out_dir: str, months: list[str] | None = None
) -> None:
    """T2 mart A4 analog with the pre-write multi-column sort
    (jb_de_enhancement_t2_salesbyresidence_s2s.py:55-57)."""
    silver = _read_silver(spark, out_dir, months)
    df = (
        silver.groupBy("purchase_year", "purchase_month", "r_name", "n_name")
        .agg(
            F.sum("l_extendedprice").alias("total_purchase_amount"),
            F.count("l_extendedprice").alias("count_of_purchase"),
        )
        .orderBy(
            F.col("purchase_year").asc(),
            F.col("purchase_month").asc(),
            F.col("r_name").asc(),
            F.col("total_purchase_amount").desc(),
            F.col("count_of_purchase").desc(),
        )
    )
    _write_mart(df, out_dir, "mart_salesbyregion")


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    months: list[str] | None = None,
    *,
    bucketed: bool = False,
) -> dict[str, float]:
    """Run the full DAG with the reference's parallel structure
    (stepfunction.json: T0 Parallel -> T1 -> T2 Parallel). Returns per-task
    wall seconds.

    ``bucketed=True`` lays bronze down bucketed on the order key so the T1
    join runs shuffle-free (the full-rebuild layout; the month-incremental
    path keeps the Hive-partitioned bronze, whose dynamic partition
    overwrite bucketed saveAsTable does not offer)."""
    if bucketed:
        pipe = (
            Pipeline()
            .add_stage(
                "t0",
                fact=lambda: bronze_fact_bucketed(spark, sf_dir, out_dir, months),
                orders=lambda: bronze_orders_bucketed(spark, sf_dir, out_dir),
                dims=lambda: bronze_dims(spark, sf_dir, out_dir, include_orders=False),
            )
            .add_stage("t1", fulljoin=lambda: silver_join_bucketed(spark, out_dir))
            .add_stage(
                "t2",
                brandtype=lambda: gold_sales_by_brand_type(spark, out_dir, months),
                supplier=lambda: gold_sales_by_supplier(spark, out_dir, months),
                datetime=lambda: gold_sales_by_datetime(spark, out_dir, months),
                region=lambda: gold_sales_by_region(spark, out_dir, months),
            )
        )
        return pipe.run()
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
