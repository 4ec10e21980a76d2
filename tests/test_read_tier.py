"""`io.sources.read_tier`: a tier the engine wrote reads back with the
Spark schema from its parquet footer -- the same schema schema inference
gives, without the inference job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_glue_etl_sample_hist_spark.io.sources import read_small_tier, read_tier
from aws_glue_etl_sample_hist_spark.operators._local import LOCAL_CAP
from aws_glue_etl_sample_hist_spark.plans.curation import run_curation
from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion
from aws_glue_etl_sample_hist_spark.plans.retrieval import run_retrieval


def _jobs_started(spark, fn):
    """Spark jobs ``fn`` starts, counted through the status tracker under
    a job group of its own."""
    sc = spark.sparkContext
    group = "read-tier-probe"
    sc.setJobGroup(group, "job count probe")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        result = fn()
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(after - before), result


def _tiers(root: str) -> list[str]:
    """Every directory under ``root`` that a parquet write made: one that
    holds parquet files or ``k=v`` partition directories and is not
    itself a partition directory."""
    return sorted(
        d for d, dirs, files in os.walk(root)
        if "=" not in os.path.basename(d)
        and (any(f.endswith(".parquet") for f in files) or any("=" in x for x in dirs))
    )


@pytest.fixture(scope="module")
def pipeline_tiers(spark, sf_small, tmp_path_factory):
    tiers = []
    for name, run in (
        ("medallion", run_medallion),
        ("curation", run_curation),
        ("retrieval", run_retrieval),
    ):
        out = str(tmp_path_factory.mktemp(name))
        run(spark, sf_small, out)
        tiers += _tiers(out)
    return tiers


def test_read_tier_schema_equals_inference_and_starts_no_job(spark, pipeline_tiers):
    names = {os.path.basename(t) for t in pipeline_tiers}
    # the probe covers all three pipelines' tiers, partitioned ones included
    assert {"purchase", "purchase_all_info", "mart_salesbyregion", "released",
            "training", "postings", "vectors", "codes"} <= names
    for tier in pipeline_tiers:
        jobs, got = _jobs_started(spark, lambda: read_tier(spark, tier))
        inferred_jobs, want = _jobs_started(spark, lambda: spark.read.parquet(tier))
        assert got.schema == want.schema, tier
        assert jobs == 0, tier
        # the probe sees the job that inference does start
        assert inferred_jobs >= 1, tier


def test_read_tier_names_an_empty_directory(spark, tmp_path):
    empty = tmp_path / "empty"
    (empty / "k=1").mkdir(parents=True)
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="no parquet data file") as exc:
        read_tier(spark, str(empty))
    assert str(empty) in str(exc.value)


def test_read_tier_refuses_a_file_spark_did_not_write(spark, tmp_path):
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(foreign / "part-0.parquet"))
    with pytest.raises(ValueError, match="no Spark schema"):
        read_tier(spark, str(foreign))


def test_read_small_tier_reads_up_to_the_cap_and_names_an_over_cap_tier(tmp_path):
    """The driver-local reader sums the footers' row counts over every file
    before it reads a page: a tier of exactly LOCAL_CAP rows reads whole,
    one more row raises ValueError naming the path."""
    tier = tmp_path / "small"
    tier.mkdir()
    half = LOCAL_CAP // 2
    pq.write_table(pa.table({"a": list(range(half))}), str(tier / "part-0.parquet"))
    pq.write_table(
        pa.table({"a": list(range(half, LOCAL_CAP))}), str(tier / "part-1.parquet")
    )
    (tier / "_SUCCESS").write_text("")
    assert read_small_tier(str(tier)).column("a").to_pylist() == list(range(LOCAL_CAP))
    pq.write_table(pa.table({"a": [LOCAL_CAP]}), str(tier / "part-2.parquet"))
    with pytest.raises(ValueError, match="LOCAL_CAP") as exc:
        read_small_tier(str(tier))
    assert str(tier) in str(exc.value)
