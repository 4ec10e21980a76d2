"""Persistent IVF index (operators/ann_index.py): build / append / query
against the exact brute-force twin, plus the storage-level claim -- probed
queries must touch ONLY the probed cells' files (Hive-partition pruning)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.operators.ann_index import (
    append_ivf_index,
    build_ivf_index,
    query_ivf_index,
)
from aws_glue_etl_sample_hist_spark.operators.similarity import cosine_topk

N_CELLS = 8


def _emb(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/embeddings.parquet")


def _queries(emb, ids):
    return [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id").isin(ids)).collect()
    ]


def test_full_probe_equals_brute_force(spark, sf_small, tmp_path):
    """nprobe = n_cells probes every cell -> the index answer IS the exact
    answer (same ids, ranks, 6dp cosines as the in-plan brute force)."""
    emb = _emb(spark, sf_small)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=N_CELLS)
    qids = [0, 1, 2]
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in query_ivf_index(spark, idx, _queries(emb, qids), k=5, nprobe=N_CELLS).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, qids, k=5).collect()
    }
    assert got == want


def test_partial_probe_touches_only_probed_cell_files(spark, sf_small, tmp_path):
    """The IVF contract at rest: with nprobe=2, every file the query reads
    lives under a probed cell=... partition directory -- pruning happens in
    the storage layout, before compute."""
    emb = _emb(spark, sf_small)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=N_CELLS)
    out = query_ivf_index(spark, idx, _queries(emb, [0]), k=3, nprobe=2)
    rows = out.collect()
    assert 0 < len(rows) <= 3
    # the same pruned scan, instrumented: which files does it read?
    vectors = spark.read.parquet(f"{idx}/vectors")
    # recover the probed cells from the result's neighbors
    probed = {
        r.cell
        for r in vectors.join(
            out.select(F.col("neighbor_id").alias("vec_id")), "vec_id", "left_semi"
        ).collect()
    }
    assert len(probed) <= 2
    files = {
        r.f
        for r in vectors.filter(F.col("cell").isin(sorted(probed)))
        .select(F.input_file_name().alias("f"))
        .collect()
    }
    assert files and all("/cell=" in f for f in files)
    assert {int(f.split("/cell=")[1].split("/")[0]) for f in files} <= probed


def test_append_batch_equals_full_rebuild(spark, sf_small, tmp_path):
    """Index built on half the corpus + append of the other half answers
    exactly like an index built on everything (same persisted centroids =>
    same cells => same inverted lists)."""
    emb = _emb(spark, sf_small)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    idx_inc = str(tmp_path / "ivf_inc")
    build_ivf_index(half_a, idx_inc, n_centroids=N_CELLS)
    append_ivf_index(half_b, idx_inc)

    idx_full = str(tmp_path / "ivf_full")
    # same centroid table so cell geometry matches the incremental one
    cent = spark.read.parquet(f"{idx_inc}/centroids")
    build_ivf_index(emb, idx_full, centroids=cent)

    qs = _queries(emb, [3, 4])
    a = {tuple(r) for r in query_ivf_index(spark, idx_inc, qs, k=5, nprobe=3).collect()}
    b = {tuple(r) for r in query_ivf_index(spark, idx_full, qs, k=5, nprobe=3).collect()}
    assert a == b


def test_pq_index_roundtrip_equals_inplan_adc(spark, sf_small, tmp_path):
    """Persisted PQ index answers exactly like the in-plan ADC search for
    the same (seeded) codebook -- shared distance expression, shared math."""
    from aws_glue_etl_sample_hist_spark.operators.ann_index import (
        build_pq_index,
        query_pq_index,
    )
    from aws_glue_etl_sample_hist_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark, sf_small)
    idx = str(tmp_path / "pq")
    build_pq_index(emb, idx)
    qids = [0, 1, 2, 3, 4]
    got = {tuple(r) for r in query_pq_index(spark, idx, _queries(emb, qids), k=5).collect()}
    want = {tuple(r) for r in pq_adc_topk(emb, qids, k=5).collect()}
    assert got == want
