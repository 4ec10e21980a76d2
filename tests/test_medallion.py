"""Pipeline tests: tier cardinalities, idempotent re-runs, and month-scoped
incremental loads under dynamic partition overwrite (reference S7 semantics,
SURVEY.md §5 'pipeline tests')."""

from __future__ import annotations

import os
import shutil

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


MARTS = (
    "mart_salesbybrandtype",
    "mart_salesbysupplier",
    "mart_salesbydatetime",
    "mart_salesbyregion",
)


def _part_dir(tier, y, m):
    """bronze keeps the extract's zero-padded month directory (=09); silver
    and gold, written from a read-back tier, carry the int (=9)."""
    year = os.path.join(tier, f"purchase_year={y}")
    padded = os.path.join(year, f"purchase_month={m:02d}")
    return padded if os.path.isdir(padded) else os.path.join(year, f"purchase_month={m}")


def _month_rows(spark, tier, y, m):
    df = spark.read.parquet(tier).filter(
        (F.col("purchase_year") == y) & (F.col("purchase_month") == m)
    )
    return sorted(map(tuple, df.collect()), key=repr)


def test_incremental_month_overwrites_only_that_partition(spark, sf_small, pipeline_out):
    out, _ = pipeline_out
    bronze_path = os.path.join(out, "bronze", "purchase")
    silver_path = os.path.join(out, "silver", "purchase_all_info")
    mart_paths = [os.path.join(out, "gold", m) for m in MARTS]
    before = _counts_by_month(spark, bronze_path)
    # a single-digit month: its directory is purchase_month=0M while the
    # read-back partition column is the int M
    y, m = min(k for k in before if k[1] <= 9)
    other = sorted(before)[-1]
    assert other != (y, m)
    # delete the month's silver partition and its four mart partitions: the
    # refresh must rebuild them with the same rows
    want = {t: _month_rows(spark, t, y, m) for t in [silver_path, *mart_paths]}
    assert all(want.values())
    for t in want:
        doomed = _part_dir(t, y, m)
        assert os.path.isdir(doomed)
        shutil.rmtree(doomed)
    # a marker inside a DIFFERENT month's partition dir of every tier;
    # dynamic overwrite of the refreshed month must not touch them
    markers = [
        os.path.join(_part_dir(t, *other), "_marker")
        for t in [bronze_path, silver_path, *mart_paths]
    ]
    for marker in markers:
        with open(marker, "w") as f:
            f.write("x")

    run_medallion(spark, sf_small, out, months=[f"{y:04d}{m:02d}"])

    for t, rows in want.items():
        assert _month_rows(spark, t, y, m) == rows, t
    for marker in markers:
        assert os.path.exists(marker), marker
        os.remove(marker)
    assert _counts_by_month(spark, bronze_path) == before
    assert _counts_by_month(spark, silver_path) == before
    for t in mart_paths:
        assert set(_counts_by_month(spark, t)) == set(before)  # full coverage


def test_months_must_be_yyyymm(spark, sf_small, tmp_path):
    for bad in (["19979"], ["199713"], ["199700"], [199709], ["1997-09"]):
        with pytest.raises(ValueError, match="YYYYMM"):
            run_medallion(spark, sf_small, str(tmp_path), months=bad)
    assert os.listdir(tmp_path) == []  # rejected before any task ran


def _file_stamps(path):
    return {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if not f.startswith(".")
    }


def test_unchanged_dim_sources_are_skipped_and_changed_ones_republished(
    spark, sf_small, tmp_path
):
    """Each bronze dim keeps a fingerprint of its source: a refresh skips
    an unchanged source, republishes a rewritten one, and rewrites a table
    whose fingerprint is gone."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aws_glue_etl_sample_hist_spark.io.sources import read_tier
    from aws_glue_etl_sample_hist_spark.plans.medallion import DIMS, SOURCE_STAMP

    src = str(tmp_path / "src")
    shutil.copytree(sf_small, src)
    out = str(tmp_path / "out")
    run_medallion(spark, src, out)
    tables = (*DIMS, "orders")
    bronze = {t: os.path.join(out, "bronze", t) for t in tables}
    built = {t: _file_stamps(p) for t, p in bronze.items()}
    assert all(SOURCE_STAMP in s for s in built.values())
    month = min(_counts_by_month(spark, os.path.join(out, "bronze", "purchase")))
    months = [f"{month[0]:04d}{month[1]:02d}"]

    timings = run_medallion(spark, src, out, months=months)
    assert {t: _file_stamps(p) for t, p in bronze.items()} == built
    assert "t0.dims" in timings

    # rewrite the part source with new names; drop customer's fingerprint
    part_src = os.path.join(src, "part.parquet")
    part = pq.read_table(part_src)
    renamed = part.set_column(
        part.schema.get_field_index("p_name"), "p_name",
        pc.binary_join_element_wise(part["p_name"], " v2", ""),
    )
    pq.write_table(renamed, part_src)
    os.remove(os.path.join(bronze["customer"], SOURCE_STAMP))

    run_medallion(spark, src, out, months=months)
    after = {t: _file_stamps(p) for t, p in bronze.items()}
    for t in ("part", "customer"):
        assert after[t].keys() - {SOURCE_STAMP} != built[t].keys() - {SOURCE_STAMP}, t
        assert SOURCE_STAMP in after[t]
    for t in ("nation", "region", "supplier", "orders"):
        assert after[t] == built[t], t
    got = {r.p_name for r in read_tier(spark, bronze["part"]).collect()}
    assert got == set(renamed["p_name"].to_pylist())


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
