"""Retrieval-serving DAG (plans/retrieval.py): every index built at rest,
serving reads only artifacts, and the persisted-postings BM25 equals the
in-plan operator over the same cleaned corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.io.sources import footer_rows
from aws_glue_etl_sample_hist_spark.operators.ann_index import query_ivf_index
from aws_glue_etl_sample_hist_spark.plans.retrieval import (
    QUERY_TERMS,
    _cleaned,
    _term_dir,
    build_postings,
    rrf_fuse,
    rrf_score,
    run_retrieval,
    serve_bm25,
    serve_hybrid,
)


@pytest.fixture(scope="module")
def retrieval_run(spark, sf_small, tmp_path_factory):
    """One retrieval DAG run over sf_small: (index dir, per-task walls)."""
    out = str(tmp_path_factory.mktemp("retr") / "retr")
    return out, run_retrieval(spark, sf_small, out)


def _query_vec(spark, sf_small, vec_id=0):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    row = emb.filter(F.col("vec_id") == vec_id).first()
    return (vec_id, [float(x) for x in row.embedding])


def test_retrieval_pipeline_end_to_end(spark, sf_small, retrieval_run):
    out, walls = retrieval_run
    assert {k.split(".")[0] for k in walls} == {"r0", "r1", "r2"}

    # persisted-postings BM25 == the in-plan operator over the SAME corpus
    from aws_glue_etl_sample_hist_spark.operators.ranking import bm25_topk

    want = {
        (r.doc_id, r.n_terms_matched, r.score)
        for r in bm25_topk(_cleaned(spark, sf_small), QUERY_TERMS, k=20).collect()
    }
    got = {
        (r.doc_id, r.n_terms_matched, r.score)
        for r in serve_bm25(spark, out, QUERY_TERMS, k=20).collect()
    }
    assert got == want

    # the serve artifact exists, is a valid top-10, and re-serving from the
    # artifacts alone reproduces it (restartability of r2)
    served = spark.read.parquet(f"{out}/serve")
    assert served.count() == 10
    again = serve_hybrid(spark, out, QUERY_TERMS, _query_vec(spark, sf_small))
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in served.collect()}

    # lexical pruning contract: a 1-term query's postings scan reads only
    # that term's partition directory
    one = (
        spark.read.parquet(f"{out}/postings")
        .filter(F.col("term") == "spark")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert one and all("/term=spark/" in r.f for r in one)


def test_serve_mmr_from_artifacts(spark, sf_small, retrieval_run):
    """The diversified serving stage: valid top-10 over the hybrid
    top-20, candidate vectors read from the persisted IVF artifact, and
    re-serving from the same artifacts is deterministic."""
    from aws_glue_etl_sample_hist_spark.plans.retrieval import serve_mmr

    out, _ = retrieval_run
    served = spark.read.parquet(f"{out}/serve_mmr")
    rows = sorted(served.collect(), key=lambda r: r.mmr_rank)
    assert [r.mmr_rank for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == min(10, served.count())
    again = serve_mmr(spark, out, QUERY_TERMS, _query_vec(spark, sf_small))
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in served.collect()}


def _jobs(spark) -> int:
    """Spark jobs submitted so far (DAGScheduler.numTotalJobs, as bench.py
    reads it): jobs started from any driver thread are counted."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def test_serve_hybrid_job_budget(spark, sf_small, retrieval_run):
    """A hybrid query starts at most 7 Spark jobs, the two branches' scans,
    exchanges and broadcasts and the local result: the stats, the
    centroids and the per-term df are read from the index on the driver
    and must never come back as per-query jobs."""
    out, _ = retrieval_run
    qvec = _query_vec(spark, sf_small)
    j0 = _jobs(spark)
    rows = serve_hybrid(spark, out, QUERY_TERMS, qvec).collect()
    assert _jobs(spark) - j0 <= 7
    assert [r["rank"] for r in rows] == list(range(1, 11))


def test_rrf_score_equals_catalyst_for_every_rank_pair(spark):
    """Ranks run 1..20 or are absent: every one of the 21 x 21 (lex_rank,
    sem_rank) pairs fuses to exactly the Catalyst expression the driver
    fusion replaced (HALF_UP round included)."""
    ranks = [None, *range(1, 21)]
    pairs = [(l, s) for l in ranks for s in ranks]
    df = spark.createDataFrame(pairs, "l long, s long")
    want = {
        (r.l, r.s): r.rrf
        for r in df.select(
            "l",
            "s",
            F.round(
                F.coalesce(1.0 / (60.0 + F.col("l")), F.lit(0.0))
                + F.coalesce(1.0 / (60.0 + F.col("s")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        ).collect()
    }
    assert len(want) == 441
    for (l, s), rrf in want.items():
        assert rrf_score(l, s) == rrf, (l, s)


def test_rrf_fuse_orders_by_score_then_id(spark):
    """Equal fused scores tie-break by doc id ascending -- the order of the
    Catalyst full-outer-join + window it replaced, checked on lists whose
    ids swap ranks (equal sums) and sit in one list only."""
    lex = [5, 7, 30, 2, 11, 40]
    sem = [7, 5, 2, 31, 41, 11]
    got = rrf_fuse(lex, sem)
    # 5 and 7 swap ranks 1/2: equal scores, 5 first
    assert [d for d, _ in got[:2]] == [5, 7] and got[0][1] == got[1][1]

    def ranked(ids, name):
        return spark.createDataFrame(
            [(d, r) for r, d in enumerate(ids, 1)], f"doc_id long, {name} long"
        )

    fused = ranked(lex, "l").join(ranked(sem, "s"), "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60.0 + F.col("l")), F.lit(0.0))
            + F.coalesce(1.0 / (60.0 + F.col("s")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    want = [
        (r.doc_id, r.rrf)
        for r in fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).collect()
    ]
    assert got == want


def test_footer_df_equals_posting_counts(spark, tmp_path):
    """The df read from a term partition's footers equals groupBy(term)
    .count() for every term, including terms Spark escapes in the
    directory name."""
    docs = spark.createDataFrame(
        [
            (1, "a/b=c% spark spark merge"),
            (2, "a/b=c% x?y #tag spark"),
            (3, "100% {q}:[r]^ 'quoted' back\\slash spark"),
            (4, "window merge merge"),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_postings(docs, out)
    # the fixture really exercises the escaping: the raw name is not a dir
    assert os.path.isdir(os.path.join(out, "postings", "term=a%2Fb%3Dc%25"))
    want = {
        r.term: r["count"]
        for r in spark.read.parquet(os.path.join(out, "postings"))
        .groupBy("term")
        .count()
        .collect()
    }
    assert {"a/b=c%", "x?y", "#tag", "100%", "back\\slash"} <= set(want)
    assert {t: footer_rows(_term_dir(out, t)) for t in want} == want
    assert footer_rows(_term_dir(out, "absent")) == 0


def test_serve_hybrid_with_no_indexed_term_is_vector_only(spark, sf_small, retrieval_run):
    """A query whose terms are all absent from the index (df 0) returns the
    vector branch's ranking alone, with no exception."""
    out, _ = retrieval_run
    qvec = _query_vec(spark, sf_small)
    got = [
        tuple(r)
        for r in serve_hybrid(spark, out, ["no-such-term", "a/b=c%"], qvec).collect()
    ]
    sem = query_ivf_index(spark, os.path.join(out, "ivf"), [qvec], k=20, nprobe=8)
    want = [
        (r["rank"], r.neighbor_id, rrf_score(None, r["rank"]))
        for r in sem.orderBy("rank").limit(10).collect()
    ]
    assert got == want


def test_semantic_dedup_trained_prune_contract(spark, sf_small):
    """The prune rule behind the trained-quantizer SemDeDup row, pinned by
    brute force: given the cell assignment, a vector is flagged is_dup iff
    some LOWER-id vector in the same cell has cosine >= threshold with it
    -- verified within every cell on the sf0.001 corpus. (Since r11 the
    registered row additionally certifies this via in-plan witness
    columns with a DuckDB contract oracle -- semantic_dedup_witness.)"""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        kmeans_parallel_centroids,
        semantic_dedup,
    )

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_parallel_centroids(emb, 4)
    out = semantic_dedup(emb, threshold=0.4, centroids=cents)
    rows = (
        out.join(
            emb.select(F.col("vec_id"), F.col("embedding")), "vec_id"
        ).collect()
    )
    assert len(rows) == emb.count()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    n_dups = 0
    for members in by_cell.values():
        members.sort(key=lambda r: r.vec_id)
        vecs = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in members
        }
        for r in members:
            v = vecs[r.vec_id]
            nv = v / max(np.linalg.norm(v), 1e-12)
            expect_dup = False
            for q in members:
                if q.vec_id >= r.vec_id:
                    break
                w = vecs[q.vec_id]
                nw = w / max(np.linalg.norm(w), 1e-12)
                if float(nv @ nw) >= 0.4:
                    expect_dup = True
                    break
            assert bool(r.is_dup) == expect_dup, (r.vec_id, r.cell)
            n_dups += int(expect_dup)
    # the sf0.001 embedding fixture contains planted near-dups: the rule
    # must actually fire, not pass vacuously
    assert n_dups > 0


def test_semantic_dedup_witness_all_true_under_any_assignment(spark, sf_small):
    """The witness columns (semantic_dedup_witness) must be all-TRUE for
    BOTH quantizer routes the registered row can take: the flat trained
    assignment and the two-level (k-center coarse, nprobe=2) routing --
    the contract is conditioned on the actual cells, whatever produced
    them. Also pins non-vacuity: some vector must have a >= tau partner
    (so the dup direction of the witness actually fires)."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        kmeans_parallel_centroids,
        semantic_dedup,
        semantic_dedup_witness,
        two_level_assign,
    )

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_parallel_centroids(emb, 8)
    for route in ("flat", "two_level"):
        if route == "flat":
            out = semantic_dedup_witness(emb, centroids=cents)
        else:
            assigned = emb.join(
                two_level_assign(emb, cents, n_coarse=4, nprobe=2), "vec_id"
            )
            out = semantic_dedup_witness(emb, assigned=assigned)
        rows = out.collect()
        assert len(rows) == emb.count(), route
        assert all(r.dup_has_partner_ok for r in rows), route
        assert all(r.keeper_has_none_ok for r in rows), route
    # non-vacuity: the flat route must flag at least one dup on this
    # fixture (planted near-dups), i.e. the witness is not trivially true
    n_dup = (
        semantic_dedup(emb, centroids=cents)
        .filter(F.col("is_dup"))
        .count()
    )
    assert n_dup > 0


def test_bitext_margin_mining_hubness_correction(spark):
    """Planted geometry: a true translation pair (cos ~0.99) must be mined
    with mutual=True, while a HUB target (moderately close to every
    source) must not win any source at the same threshold -- the ratio
    margin's whole point. All vectors share sign bands (all-positive
    first coordinates) so every cross pair is a candidate and the test
    exercises the margin, not the banding."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    d = 64
    rng = np.random.default_rng(7)

    def vec(base, noise):
        v = base + noise * rng.standard_normal(d)
        # the band-sampled coordinates (1-based dims 1,5,...,61) get a
        # fixed positive value so every vector lands in the same sign
        # buckets -- candidates are all cross pairs by construction
        for i in range(0, d, 4):
            v[i] = 0.3
        return v

    e1 = np.zeros(d); e1[1] = 1.0
    e2 = np.zeros(d); e2[2] = 1.0
    hub = np.ones(d) * 0.5
    rows = [
        # side 0 (sources)
        (0, vec(e1 * 3.0, 0.01), 0),   # x0: translation of y0
        (1, vec(e2 * 3.0, 0.01), 0),   # x1: no true partner
        # side 1 (targets)
        (10, vec(e1 * 3.0, 0.01), 1),  # y0: translation of x0
        (11, vec(hub * 2.0, 0.01), 1), # hub: ~equally close to everything
        (12, vec(hub + e2 * 0.2, 0.01), 1),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.src_id: r for r in bitext_margin_pairs(
        emb, k=2, threshold=1.3
    ).collect()}
    assert 0 in out and out[0].tgt_id == 10 and bool(out[0].mutual)
    assert out[0].margin > 1.3
    # x1's best candidate is hub-like but its margin is deflated by the
    # hub's own high k-NN average -- below the mining threshold
    assert 1 not in out


def test_two_level_assign_agrees_on_separated_clusters(spark):
    """On well-separated clusters whose coarse centroids are cluster
    members, the two-level shortcut must agree with the flat exact
    assignment for EVERY vector -- the approximation only bites when a
    vector's best fine centroid routes to a different coarse cell."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        ivf_assign,
        seeded_centroids,
        two_level_assign,
    )

    d = 16
    rng = np.random.default_rng(3)
    # a NESTED hierarchy: two coarse directions (e0, e1); fine anchors
    # 0/1 sit exactly on them, fine anchors 2/3 are small orthogonal
    # offsets OF those directions -- so every vector and its best fine
    # centroid route to the same coarse cell by a wide cosine margin
    # (orthogonal flat clusters would tie at the coarse level and the
    # routing would be noise, which is the documented failure mode)
    anchors = []
    for c, (axis, off) in enumerate([(0, None), (1, None), (0, 2), (1, 3)]):
        base = np.zeros(d)
        base[axis] = 5.0
        if off is not None:
            base[off + 4] = 2.0
        anchors.append(base)
    rows = []
    vid = 0
    for base in anchors:
        rows.append((vid, [float(x) for x in base]))
        vid += 1
    for base in anchors:
        for _ in range(10):
            v = base + 0.05 * rng.standard_normal(d)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fine = seeded_centroids(emb, 4)
    exact = {
        r.vec_id: r.cell for r in ivf_assign(emb, 4, centroids=fine).collect()
    }
    two = {
        r.vec_id: r.cell
        for r in two_level_assign(emb, fine, n_coarse=2).collect()
    }
    assert two == exact
