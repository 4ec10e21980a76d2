"""Pipeline tests: tier cardinalities, idempotent re-runs, and month-scoped
incremental loads under dynamic partition overwrite (reference S7 semantics,
SURVEY.md §5 'pipeline tests')."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion


@pytest.fixture(scope="module")
def pipeline_out(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("medallion"))
    timings = run_medallion(spark, sf_small, out)
    return out, timings


def _counts_by_month(spark, path):
    return {
        (r.purchase_year, r.purchase_month): r.n
        for r in spark.read.parquet(path)
        .groupBy("purchase_year", "purchase_month")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_tier_cardinalities(spark, sf_small, pipeline_out):
    out, timings = pipeline_out
    n_lineitem = spark.read.parquet(os.path.join(sf_small, "lineitem.parquet")).count()
    bronze = spark.read.parquet(os.path.join(out, "bronze", "purchase"))
    silver = spark.read.parquet(os.path.join(out, "silver", "purchase_all_info"))
    # bronze is a full fact copy; all silver joins are left + unique right keys
    # (TPC-H PKs) -> cardinality preserved, no fan-out, no row loss
    assert bronze.count() == n_lineitem
    assert silver.count() == n_lineitem
    for mart in (
        "mart_salesbybrandtype",
        "mart_salesbysupplier",
        "mart_salesbydatetime",
        "mart_salesbyregion",
    ):
        assert spark.read.parquet(os.path.join(out, "gold", mart)).count() > 0
    assert set(timings) == {
        "t0.fact",
        "t0.dims",
        "t1.fulljoin",
        "t2.brandtype",
        "t2.supplier",
        "t2.datetime",
        "t2.region",
    }


def test_full_rerun_is_idempotent(spark, sf_small, pipeline_out):
    out, _ = pipeline_out
    before = _counts_by_month(spark, os.path.join(out, "bronze", "purchase"))
    run_medallion(spark, sf_small, out)
    after = _counts_by_month(spark, os.path.join(out, "bronze", "purchase"))
    assert before == after
    silver = spark.read.parquet(os.path.join(out, "silver", "purchase_all_info"))
    assert silver.count() == sum(before.values())


def test_incremental_month_overwrites_only_that_partition(spark, sf_small, pipeline_out):
    out, _ = pipeline_out
    bronze_path = os.path.join(out, "bronze", "purchase")
    before = _counts_by_month(spark, bronze_path)
    month = sorted(before)[0]
    # write a marker file inside a DIFFERENT month's partition dir; dynamic
    # overwrite of `month` must not touch it
    other = sorted(before)[-1]
    other_dir = os.path.join(
        bronze_path, f"purchase_year={other[0]}", f"purchase_month={other[1]}"
    )
    marker = os.path.join(other_dir, "_marker")
    with open(marker, "w") as f:
        f.write("x")

    run_medallion(spark, sf_small, out, months=[month[0] + month[1]])

    after = _counts_by_month(spark, bronze_path)
    assert after == before  # same data: overwrite replaced like-for-like
    assert os.path.exists(marker)  # untouched partition dir survived
    os.remove(marker)
    # silver only rewrote the incremental month too
    silver_after = _counts_by_month(
        spark, os.path.join(out, "silver", "purchase_all_info")
    )
    assert silver_after == before
    # gold marts are month-partitioned as well: the incremental run replaced
    # ONLY the target month's mart partitions (marker in another month's dir
    # survives) -- incremental materialized-view maintenance
    mart_dir = os.path.join(out, "gold", "mart_salesbybrandtype")
    mart_marker = os.path.join(
        mart_dir, f"purchase_year={other[0]}", f"purchase_month={other[1]}", "_m"
    )
    with open(mart_marker, "w") as f:
        f.write("x")
    run_medallion(spark, sf_small, out, months=[month[0] + month[1]])
    assert os.path.exists(mart_marker)
    os.remove(mart_marker)
    mart_months = {
        (r.purchase_year, r.purchase_month)
        for r in spark.read.parquet(mart_dir)
        .select("purchase_year", "purchase_month").distinct().collect()
    }
    assert mart_months == set(before)  # full mart coverage preserved


def test_pipeline_retry_and_failure_propagation():
    """A failing task runs exactly once -- a deterministic bug is never
    retried -- its exception propagates, and no later stage runs."""
    from aws_glue_etl_sample_hist_spark.plans.pipeline import Pipeline

    calls = {"bad": 0, "later": 0}

    def bad():
        calls["bad"] += 1
        raise RuntimeError("deterministic bug")

    def later():
        calls["later"] += 1

    pipe = Pipeline().add_stage("s0", bad=bad).add_stage("s1", later=later)
    with pytest.raises(RuntimeError, match="deterministic bug"):
        pipe.run()
    assert calls == {"bad": 1, "later": 0}

    t = Pipeline().add_stage("s", ok=lambda: None).run()
    assert set(t) == {"s.ok"} and t["s.ok"] >= 0


def test_upsert_partitioned_touches_only_affected_partitions(spark, sf_small, tmp_path):
    """CDC upsert: update one row + insert one row in a single partition;
    that partition's rows are replaced by key, every other partition's
    directory (marker file) and data survive byte-untouched."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.io.sinks import upsert_partitioned, write_partitioned

    path = str(tmp_path / "events_lake")
    ev = load_table(spark, sf_small, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(ev, path, partition_by=["event_date"])
    days = sorted(r.event_date for r in ev.select("event_date").distinct().collect())
    target, other = days[0], days[-1]
    marker = os.path.join(path, f"event_date={other}", "_marker")
    with open(marker, "w") as f:
        f.write("x")

    victim = ev.filter(F.col("event_date") == target).orderBy("event_id").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [
            (victim.event_id, victim.ts, victim.user_id, "corrected", 99.5, victim.props, target),
            (10_000_001, victim.ts, victim.user_id, "late_arrival", 1.25, victim.props, target),
        ],
        ev.schema,
    )
    before_total = ev.count()
    upsert_partitioned(
        spark, path, updates, key_cols=["event_id"], partition_cols=["event_date"]
    )

    after = spark.read.parquet(path)
    assert after.count() == before_total + 1  # one update in place, one insert
    got = {r.event_id: (r.event_type, r.value) for r in
           after.filter(F.col("event_date") == target)
           .filter(F.col("event_id").isin([victim.event_id, 10_000_001])).collect()}
    assert got[victim.event_id] == ("corrected", 99.5)
    assert got[10_000_001] == ("late_arrival", 1.25)
    assert os.path.exists(marker)  # untouched partition dir survived
