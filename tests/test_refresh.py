"""Corpus-refresh DAG tests (plans/refresh.py): incremental maintenance of
standing corpus + IVF index must equal the from-scratch build, with the
manifest as the atomic cutover."""
from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_refresh_dag_state_equals_from_scratch(spark, sf_small, tmp_path):
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.io.manifest import (
        latest_version,
        read_published,
    )
    from aws_glue_etl_sample_hist_spark.plans.refresh import (
        refresh_audit,
        run_corpus_refresh,
    )

    out = str(tmp_path / "refresh")
    timings = run_corpus_refresh(spark, sf_small, out)
    assert {k.split(".")[0] for k in timings} == {"r0", "r1", "r2", "r3", "r4"}

    # manifest history: v1 (standing) AND v2 (refreshed) both committed,
    # v1 still readable after the cutover (rollback path intact)
    assert latest_version(os.path.join(out, "pub")) == 2
    docs = load_table(spark, sf_small, "documents")
    standing_ids = {
        r.doc_id for r in docs.filter(F.col("doc_id") % 10 < 8).collect()
    }
    v1 = read_published(spark, os.path.join(out, "pub"), "corpus", version=1)
    assert {r.doc_id for r in v1.collect()} == standing_ids

    # the audit frame: every witness TRUE, membership = standing + kept
    audit = refresh_audit(spark, sf_small, out).collect()
    assert len(audit) > len(standing_ids)  # some batch docs survived
    assert all(r.in_index for r in audit)
    assert all(r.cell_match_scratch for r in audit)
    assert all(r.manifest_rows_ok for r in audit)
    assert all(r.manifest_version == 2 for r in audit)
    assert {r.doc_id for r in audit if r.src == "standing"} == standing_ids

    # incremental index state == from-scratch index state, cell for cell
    # (the audit's witness, re-checked directly against both layouts)
    inc = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(os.path.join(out, "ivf", "vectors"))
        .select("vec_id", "cell")
        .collect()
    }
    scratch = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(os.path.join(out, "ivf_scratch", "vectors"))
        .select("vec_id", "cell")
        .collect()
    }
    assert inc == scratch

    # manifest accounting: declared rows equal the audit's membership
    with open(os.path.join(out, "pub", "_manifests", "v2.json")) as f:
        declared = json.load(f)["tables"]["corpus"]["n_rows"]
    assert declared == len(audit)
