"""Curation-DAG tests, appended to tests/ as test_curation.py."""
from __future__ import annotations

from pyspark.sql import functions as F


def test_curation_dag_materializes_exact_composition(spark, sf_small, tmp_path):
    """The materialized C2 release equals the in-memory composition
    (quality AND keepers AND not-benchmark AND not-contaminated), the
    training tier shards every released doc exactly once, and the manifest
    totals agree with the release."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        cluster_best_keeper,
        contamination_flags,
    )
    from aws_glue_etl_sample_hist_spark.plans.curation import run_curation
    from aws_glue_etl_sample_hist_spark.queries import q_text_stats

    out = str(tmp_path / "curation")
    timings = run_curation(spark, sf_small, out)
    assert {k.split(".")[0] for k in timings} == {"c0", "c1", "c2", "c3"}

    released = spark.read.parquet(out + "/c2/released")

    # in-memory composition of the same oracle-checked operators (keepers
    # are the keep-LONGEST canonical members, the corpus_release rule)
    docs = load_table(spark, sf_small, "documents")
    stats = q_text_stats(spark, sf_small).select("doc_id", "quality_score")
    keepers = cluster_best_keeper(docs, n=3, threshold=0.2, max_df=100).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    cleaned = (
        docs.join(keepers, "doc_id")
        .join(stats, "doc_id")
        .filter((F.col("quality_score") >= 0.5) & (F.col("doc_id") >= 10))
    )
    bench = docs.filter(F.col("doc_id") < 10)
    contaminated = contamination_flags(cleaned, bench, n=5).filter(
        F.col("is_contaminated") == 1
    ).select("doc_id")
    want = {r.doc_id for r in cleaned.join(contaminated, "doc_id", "left_anti").collect()}

    got = {r.doc_id for r in released.collect()}
    assert got == want and got  # exact and non-empty

    # training tier: every released doc exactly once, shard dirs prunable
    training = spark.read.parquet(out + "/c3/training")
    assert {r.doc_id for r in training.collect()} == got
    assert training.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    import os
    assert any(d.startswith("shard=") for d in os.listdir(out + "/c3/training"))

    # manifest totals == release totals
    manifest = spark.read.parquet(out + "/c3/manifest")
    assert manifest.agg(F.sum("n_docs")).collect()[0][0] == len(got)

    # idempotent re-run: same release
    run_curation(spark, sf_small, out)
    assert {r.doc_id for r in spark.read.parquet(out + "/c2/released").collect()} == want
