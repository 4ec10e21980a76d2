"""Unit tests for the semantic traps SURVEY.md §7.4 pins (fan-out joins, null
keys, error-as-value UDF) and the north-star operators (sessionize,
multimodal plumbing). These run on tiny in-memory frames, complementing the
dual-engine oracle gate in test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from aws_glue_etl_sample_hist_spark.functions.datetime_fns import (
    INVALID_DATE_SENTINEL,
    builtin_change_day_of_week,
    change_day_of_week,
    presto_day_of_week,
)
from aws_glue_etl_sample_hist_spark.operators.joins import left_join_drop_keys


# ---------------------------------------------------------------- join traps


def test_left_join_fans_out_duplicate_right_keys(spark):
    """Duplicate right-side keys multiply left rows (reference zipcode
    short_zipcode is NOT unique, SURVEY §1.2) -- no accidental dedup."""
    cust = spark.createDataFrame(
        [("c1", "101"), ("c2", "202"), ("c3", None)], ["customer_id", "residence"]
    )
    zipc = spark.createDataFrame(
        [("101", "Seoul"), ("101", "Seoul-B"), ("303", "Busan")],
        ["short_zipcode", "province_city"],
    )
    out = left_join_drop_keys(cust, zipc, [("residence", "short_zipcode")])
    rows = {(r.customer_id, r.province_city) for r in out.collect()}
    # c1 fans out into 2 rows; c2 (no match) and c3 (NULL key) keep 1 null row
    assert out.count() == 4
    assert rows == {
        ("c1", "Seoul"),
        ("c1", "Seoul-B"),
        ("c2", None),
        ("c3", None),
    }
    assert "short_zipcode" not in out.columns


def test_left_join_composite_keys(spark):
    fact = spark.createDataFrame([("A", "01", 5.0), ("B", "99", 7.0)], ["aff", "div", "amt"])
    dim = spark.createDataFrame([("A", "01", "Food")], ["aff", "div", "cat"])
    out = left_join_drop_keys(fact, dim, [("aff", "aff"), ("div", "div")])
    got = {(r.aff, r.div, r.cat) for r in out.collect()}
    assert got == {("A", "01", "Food"), ("B", "99", None)}


# ---------------------------------------------------------------- UDF exemplar


def test_change_day_of_week_reference_assertion(spark):
    """The reference's single test assertion
    (jb_de_enhancement_t2_salesbydatetime_s2s.py:76)."""
    df = spark.createDataFrame([("2014", "11", "12"), ("2014", "13", "40")], ["y", "m", "d"])
    out = df.select(
        change_day_of_week("y", "m", "d").alias("udf"),
        builtin_change_day_of_week(F.col("y"), F.col("m"), F.col("d")).alias("builtin"),
    ).collect()
    assert out[0].udf == out[0].builtin == "Wednesday"
    assert out[1].udf == out[1].builtin == INVALID_DATE_SENTINEL


def test_package_import_emits_no_user_warning():
    """Defining the UDF at import must not trip pyspark's type-hint
    eval-type inference warning; a fresh interpreter with UserWarning
    promoted to an error imports the whole query registry."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c",
         "import aws_glue_etl_sample_hist_spark.queries"],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_presto_day_of_week_numbering(spark):
    # 2024-01-01 is a Monday: Presto day_of_week=1, Spark dayofweek=2
    df = spark.createDataFrame([("2024-01-01",)], ["d"])
    row = df.select(
        presto_day_of_week(F.to_date("d")).alias("presto"),
        F.dayofweek(F.to_date("d")).alias("spark_native"),
    ).collect()[0]
    assert row.presto == 1
    assert row.spark_native == 2


# ---------------------------------------------------------------- sessionize


def test_sessionize_gap_boundary(spark):
    """gap == threshold stays in-session; gap > threshold splits."""
    from aws_glue_etl_sample_hist_spark.operators.sessionize import sessionize

    base = 1_700_000_000_000_000  # epoch micros
    gap_us = 1800 * 1_000_000
    rows = [
        Row(event_id=1, user_id=1, ts_us=base, value=1.0),
        Row(event_id=2, user_id=1, ts_us=base + gap_us, value=2.0),  # exactly gap: same
        Row(event_id=3, user_id=1, ts_us=base + 2 * gap_us + 1, value=4.0),  # gap+1us: new
        Row(event_id=4, user_id=2, ts_us=base, value=8.0),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_micros("ts_us"))
    out = sessionize(df, gap_seconds=1800)
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_value) for r in out.collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 4.0), (2, 1): (1, 8.0)}


# ---------------------------------------------------------------- multimodal


def test_decode_image_is_explicit_stub():
    from aws_glue_etl_sample_hist_spark.operators import multimodal

    with pytest.raises(NotImplementedError, match="BMP/PNG/baseline-JPEG"):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_multimodal_meta_and_frames(spark):
    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        attach_fake_payload,
        extract_media_meta,
        sample_frames,
    )

    # doc_id 2 -> media_type 'video'; 40 chars -> 2 16-byte frames, stride 4 -> 1 sample
    docs = spark.createDataFrame(
        [(0, "a" * 64), (1, "b" * 10), (2, "c" * 40)], ["doc_id", "text"]
    )
    wp = attach_fake_payload(docs)
    meta = {r.doc_id: r for r in extract_media_meta(wp).collect()}
    assert meta[0].media_type == "image" and meta[1].media_type == "audio"
    assert meta[2].media_type == "video"
    assert meta[0].n_bytes == 64
    assert meta[0].width == 64 % 640 + 1
    assert meta[0].height == ord("a") * 3 % 480 + 1
    frames = sample_frames(wp, frame_bytes=16, stride=4).collect()
    assert [(r.doc_id, r.frame_idx) for r in frames] == [(2, 0)]


def test_salted_left_join_equals_plain_join(spark):
    from aws_glue_etl_sample_hist_spark.operators.skew import salted_left_join

    # skewed big side (hot key 1), small side with a duplicate key (fan-out)
    # and an unmatched big key (left-null row)
    big = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 100), (3, 200)], ["k", "v"]
    )
    small = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "lab"])
    salted = salted_left_join(big, small, "k", n_salts=4)
    plain = big.join(small, "k", "left")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_top_k_equals_direct_window(spark):
    """Two-phase salted top-k == direct rank-and-filter: a hot key with far
    more rows than k, a small key with fewer rows than k, and a unique
    tiebreaker (the exactness precondition)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aws_glue_etl_sample_hist_spark.operators.skew import salted_top_k

    rows = [("hot", i, float((i * 37) % 101)) for i in range(500)]
    rows += [("cold", 1000 + i, float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, ["k", "uid", "score"])
    order = [F.col("score").desc(), F.col("uid").asc()]
    direct = (
        df.withColumn(
            "rank",
            F.rank().over(Window.partitionBy("k").orderBy(*order)).cast("long"),
        )
        .filter(F.col("rank") <= 10)
    )
    salted = salted_top_k(df, ["k"], order, 10, n_salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, direct.collect()))
    # the cold key keeps all its rows (fewer than k)
    assert salted.filter(F.col("k") == "cold").count() == 3


def test_dedup_clusters_max_df_drops_high_df_shingle(spark):
    """max_df forwarded through dedup_clusters: a corpus-wide shared shingle
    is the ONLY link between docs, so with the guard on (max_df below its DF)
    candidate generation drops it and every doc becomes a singleton cluster;
    with the guard off, the docs pair up."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"c1 c2 c3 u{i}a u{i}b u{i}c") for i in range(4)], ["doc_id", "text"]
    )
    # shared 3-shingle "c1 c2 c3" has DF 4; every other shingle is unique
    pairs_off = ngram_jaccard_pairs(docs, n=3, threshold=0.1)
    assert pairs_off.count() > 0
    pairs_on = ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_df=3)
    assert pairs_on.count() == 0
    clusters = dedup_clusters(docs, n=3, threshold=0.1, max_df=3)
    assert clusters.filter(F.col("is_keeper") == 1).count() == 4


def test_near_dup_bucketed_subset_of_exact_with_recall(spark, sf_oracle):
    """Multi-band sign-LSH near-dup: candidates are a subset of the exact
    all-pairs answer (it can only MISS pairs, never invent them), with
    recall >= 0.5 on the fixture at threshold 0.4."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, sf_oracle, "embeddings")
    exact = {(r.id_a, r.id_b) for r in near_dup_pairs(emb, 0.4, exact=True).collect()}
    buck = {(r.id_a, r.id_b) for r in near_dup_pairs(emb, 0.4).collect()}
    assert buck <= exact
    assert len(buck) >= 0.5 * len(exact)


def test_cc_long_chain_converges_to_chain_head(spark):
    """A 256-node path graph (diameter 255) is the adversarial case for
    min-label propagation; under the driver-local cap it goes through the
    union-find dispatch, and every node is labeled by the chain head."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import connected_components

    n = 256
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, chain).collect()}
    assert got == {i: 0 for i in range(n)}


def test_distributed_cc_raises_when_round_bound_is_exhausted(spark, monkeypatch):
    """The distributed loop never returns unconverged labels: a chain that
    needs more rounds than CC_MAX_ROUNDS raises a RuntimeError naming the
    bound, and a chain that fits converges to its head."""
    from aws_glue_etl_sample_hist_spark.operators import _local, dedup

    monkeypatch.setattr(_local, "LOCAL_CAP", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)

    def chain(n):
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
        )
        return dedup.connected_components(nodes, edges)

    with pytest.raises(RuntimeError, match="CC_MAX_ROUNDS=3"):
        chain(6)
    assert {r.doc_id: r.cluster_id for r in chain(3).collect()} == {0: 0, 1: 0, 2: 0}


def test_trained_ivf_recall_at_least_seeded(spark, sf_oracle):
    """KMeans-trained coarse quantizer: recall@5 vs the exact brute-force
    top-5 must be at least the seeded (first-n-by-id) quantizer's -- the
    whole point of training the centroids."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    # query ids DISJOINT from the seeded quantizer's first-8 seeds: a query
    # that IS a centroid gets a cell centered on itself, which inflates the
    # seeded recall artificially (measured 0.92 vs 0.4 honest)
    qids = [100, 101, 102, 103, 104]
    truth = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, qids, k=5).collect()
    }

    def recall(centroids):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_ann_topk(
                emb, qids, k=5, n_centroids=8, nprobe=2, centroids=centroids
            ).collect()
        }
        return len(got & truth) / len(truth)

    seeded = recall(None)
    trained = recall(kmeans_centroids(emb, 8, seed=42))
    assert trained >= seeded, (trained, seeded)


def test_asof_join_semantics_and_plan(spark):
    """As-of join: >= tie included, latest-prior wins, no-prior-row -> null
    (left) or dropped (inner); and the plan is one key-shuffle window --
    never a nested-loop range join."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (1, 5, "c"), (2, 50, "d")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (3, 1, 999.0)], ["k", "rt", "val"]
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt", value_cols=["val"]
    )
    got = {(r.k, r.t): r.val for r in out.collect()}
    assert got == {
        (1, 10): 100.0,  # tie: rt == t is visible (>= semantics)
        (1, 25): 200.0,  # latest prior among several
        (1, 5): None,    # before any right row
        (2, 50): None,   # key with no right rows at all
    }
    inner = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        value_cols=["val"], how="inner",
    )
    assert inner.count() == 2

    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(k" in plan


def test_cosine_zero_vector_never_nan(spark):
    """An all-zero embedding must score cosine 0.0 -- never NaN -- in every
    cosine consumer (top-k, sign-bucket ANN, IVF ANN, near-dup, numpy
    kernel). Spark sorts NaN ABOVE every number in a window ORDER BY, so an
    unguarded zero vector would rank as everyone's best neighbor and
    silently diverge from any other engine's ordering. The degenerate
    inputs -- no query id in the corpus, an empty corpus -- give zero rows
    on every top-k path, never an exception."""
    import math
    import random

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
        ivf_ann_topk,
        lsh_ann_topk,
        near_dup_pairs,
        pq_adc_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(6)]
    rows.append((6, [0.0] * 64))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    topk = cosine_topk(emb, [0, 6], k=6).collect()
    assert topk and all(not math.isnan(r.cosine) for r in topk)
    # zero vector as the QUERY: every neighbor scores exactly 0.0
    assert {r.cosine for r in topk if r.query_id == 6} == {0.0}
    # zero vector as a NEIGHBOR: scores 0.0, ranking below every
    # positive-cosine neighbor (an unguarded NaN would take rank 1)
    z = [r for r in topk if r.query_id == 0 and r.neighbor_id == 6]
    pos = sum(1 for r in topk if r.query_id == 0 and r.cosine > 0.0)
    assert z and z[0].cosine == 0.0 and z[0].rank == pos + 1

    pd_topk = cosine_topk_pandas(emb, [0, 6], k=6).collect()
    assert pd_topk and all(not math.isnan(r.cosine) for r in pd_topk)
    assert {r.cosine for r in pd_topk if r.query_id == 6} == {0.0}

    ann = lsh_ann_topk(emb, [0, 6], k=6).collect()
    assert ann and all(not math.isnan(r.cosine) for r in ann)

    ivf = ivf_ann_topk(emb, [0, 6], k=6, n_centroids=2, nprobe=2).collect()
    assert ivf and all(not math.isnan(r.cosine) for r in ivf)

    for exact in (True, False):
        pairs = near_dup_pairs(emb, 0.0, exact=exact).collect()
        assert all(not math.isnan(r.cosine) for r in pairs)

    empty = emb.filter(F.col("vec_id") < 0)
    for frame, qids in ((emb, [10**9]), (empty, [0, 6])):
        assert cosine_topk(frame, qids, k=6).collect() == []
        assert cosine_topk_pandas(frame, qids, k=6).collect() == []
        assert pq_adc_topk(frame, qids, k=6).collect() == []


def test_dedup_clusters_local_dispatch_identical_labels(
    spark, sf_oracle, monkeypatch
):
    """The size-adaptive dispatch is a performance choice, not a semantic
    one: dedup_clusters under the default LOCAL_CAP (driver-local
    union-find on this corpus's small contracted graph) must emit the same
    labels as the forced distributed loop (LOCAL_CAP = 0)."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators import _local
    from aws_glue_etl_sample_hist_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_oracle, "documents")
    local = {
        (r.doc_id, r.cluster_id, r.is_keeper)
        for r in dedup_clusters(docs, max_df=100).collect()
    }
    monkeypatch.setattr(_local, "LOCAL_CAP", 0)
    dist = {
        (r.doc_id, r.cluster_id, r.is_keeper)
        for r in dedup_clusters(docs, max_df=100).collect()
    }
    assert local == dist


def test_chunk_documents_windows_and_tail(spark):
    """Chunking edges: a doc shorter than the window yields ONE full-doc
    chunk; a 40-token doc at window=32/stride=16 yields starts 1,17 with a
    17..40 tail chunk of 24 tokens; chunk_idx is dense from 0."""
    from aws_glue_etl_sample_hist_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(40))), (1, "a b c")],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_tokens)
        for r in chunk_documents(docs, window=32, stride=16).collect()
    )
    assert rows == [(0, 0, 32), (0, 1, 24), (1, 0, 3)]


def test_pii_redact_counts_and_masking(spark):
    """Each PII kind is counted and masked; clean text passes through with
    zero counts and its own (unchanged-text) md5."""
    import hashlib

    from aws_glue_etl_sample_hist_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-1.org and 192.168.0.1 then call 010-1234-5678 ok"),
            (1, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert (out[0].n_email, out[0].n_ipv4, out[0].n_phone) == (1, 1, 1)
    assert out[0].redacted_md5 == hashlib.md5(
        b"mail <email> and <ipv4> then call <phone> ok"
    ).hexdigest()
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (0, 0, 0)
    assert out[1].redacted_md5 == hashlib.md5(b"no pii here").hexdigest()


def test_shuffle_shards_partition_of_corpus(spark):
    """Every row lands in exactly one shard, positions are dense 1..n per
    shard, and the same salt reproduces the identical layout."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out = shuffle_shards(df, 4).collect()
    assert len(out) == 200 and len({r.doc_id for r in out}) == 200
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= {0, 1, 2, 3}
    for shard, poses in by_shard.items():
        assert sorted(poses) == list(range(1, len(poses) + 1)), shard
    again = shuffle_shards(df, 4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_sample_budget_and_dropout(spark):
    """Strata outside the mixture spec drop out entirely; a stratum whose
    total tokens fit inside budget*share is kept in full (fraction clamps
    at 1); an oversized stratum is subsampled to ~budget*share tokens."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import mixture_sample

    rows = [(i, "en", 10) for i in range(500)]          # 5000 en tokens
    rows += [(1000 + i, "fr", 10) for i in range(20)]   # 200 fr tokens
    rows += [(2000 + i, "de", 10) for i in range(50)]   # de not in spec
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    out = mixture_sample(df, {"en": 0.5, "fr": 0.5}, 1000).collect()
    langs = {r.lang for r in out}
    assert "de" not in langs
    fr = [r for r in out if r.lang == "fr"]
    assert len(fr) == 20  # 1000*0.5 >= 200 tokens -> keep all
    en_tokens = sum(r.n_tokens for r in out if r.lang == "en")
    assert 250 <= en_tokens <= 750  # target 500, binomial spread


def test_doc_perplexity_precomputed_lm_equals_self_scored(spark, sf_oracle):
    """The at-scale scoring path (persisted bigram_lm broadcast into the
    scorer) must equal the one-shot self-scored path exactly."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.text import bigram_lm, doc_perplexity

    docs = load_table(spark, sf_oracle, "documents")
    self_scored = sorted(map(tuple, doc_perplexity(docs).collect()))
    lm = bigram_lm(docs)
    with_lm = sorted(map(tuple, doc_perplexity(docs, lm=lm).collect()))
    assert self_scored == with_lm


# ------------------------------------------------- gopher quality rules


def test_gopher_quality_each_rule_fires_independently(spark):
    from aws_glue_etl_sample_hist_spark.operators.text import gopher_quality

    good = " ".join(["the", "and"] + ["word"] * 60)  # 62 tokens, stopwords, alpha
    short = "the and tiny doc"  # < 50 tokens
    longwords = " ".join(["the", "and"] + ["hyperconcatenated"] * 60)  # mwl > 10
    nostop = " ".join(["word"] * 60)  # 0 stopword hits
    numeric = " ".join(["the", "and"] + ["123"] * 30 + ["word"] * 30)  # >20% digits
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, longwords), (3, nostop), (4, numeric)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in gopher_quality(df).collect()}
    assert out[0].keep
    assert not out[1].keep and not out[1].r_word_count
    assert not out[2].keep and not out[2].r_mean_word_len
    assert not out[3].keep and not out[3].r_stopwords
    assert not out[4].keep and not out[4].r_numeric
    # each failing doc fails ONLY its targeted rule (plus any length overlap)
    assert out[2].r_stopwords and out[2].r_numeric and out[2].r_word_count
    assert out[4].r_stopwords and out[4].r_mean_word_len and out[4].r_word_count


# ------------------------------------------------- boilerplate chunk strip


def test_strip_repeated_chunks_removes_shared_keeps_unique(spark):
    import hashlib

    from aws_glue_etl_sample_hist_spark.operators.text import strip_repeated_chunks

    boiler = "cookie notice applies here"  # the shared 4-token chunk
    u1, u2 = "alpha beta gamma delta", "epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (0, f"{u1} {boiler}"),          # unique + boilerplate
            (1, f"{boiler} {u2}"),          # boilerplate + unique
            (2, boiler),                    # all boilerplate
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in strip_repeated_chunks(df, window=4).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[0].n_chunks, out[0].n_kept, out[0].clean_md5) == (2, 1, md5(u1))
    assert (out[1].n_chunks, out[1].n_kept, out[1].clean_md5) == (2, 1, md5(u2))
    # a fully-boilerplate doc survives as a row with empty cleaned text
    assert (out[2].n_chunks, out[2].n_kept, out[2].clean_md5) == (1, 0, md5(""))


def test_strip_repeated_chunks_reassembles_in_order(spark):
    import hashlib

    from aws_glue_etl_sample_hist_spark.operators.text import strip_repeated_chunks

    hot = "one two three four"
    df = spark.createDataFrame(
        [
            (0, f"a b c d {hot} e f g h"),  # hot chunk in the MIDDLE
            (1, hot),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in strip_repeated_chunks(df, window=4).collect()}
    assert out[0].clean_md5 == hashlib.md5(b"a b c d e f g h").hexdigest()


# ------------------------------------------------- SemDeDup


def test_semantic_dedup_marks_higher_id_within_cell_only(spark):
    from aws_glue_etl_sample_hist_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),   # centroid/cell 0
            (1, [0.0, 1.0, 0.0, 0.0]),   # centroid/cell 1
            (2, [1.0, 0.01, 0.0, 0.0]),  # near-copy of 0 -> dup in cell 0
            (3, [0.0, 1.0, 0.01, 0.0]),  # near-copy of 1 -> dup in cell 1
            (4, [-1.0, 0.0, 0.0, 1.0]),  # lands in cell 1, similar to nothing
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semantic_dedup(emb, 0.4, 2).collect()}
    assert not out[0].is_dup and not out[1].is_dup
    assert out[2].is_dup and out[2].cell == 0
    assert out[3].is_dup and out[3].cell == 1
    assert not out[4].is_dup


def test_auto_centroids_keeps_cells_bounded_at_10x(spark, sf_oracle):
    """The n_centroids='auto' scaling rule (r3 VERDICT item 3): at 10x the
    oracle corpus, k tracks n/target so the cell-bounded pair-join cost
    sum(|cell|^2) stays LINEAR in n -- the property a fixed toy k loses
    (k=8 would make it ~n^2/8). Asserts the k formula, a linear sum-sq
    bound, and no degenerate collapse of the distribution."""
    import pyspark.sql.functions as F

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        auto_centroids,
        ivf_assign,
    )

    base = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    # 10x the corpus with id-shifted, slightly perturbed copies (new ids so
    # the seeded path couldn't cheat; perturbation keeps copies off-identical)
    n_base = base.count()
    copies = [
        base.select(
            (F.col("vec_id") + F.lit(i * n_base)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(float(i)) * 0.01 * x
            ).alias("embedding"),
        )
        for i in range(10)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    big = big.localCheckpoint(eager=True)
    n = n_base * 10

    target = 128
    cent = auto_centroids(big, target_cell_size=target)
    k = cent.count()
    assert k == -(-n // target)  # ceil(n / target)

    cells = (
        ivf_assign(big, k, centroids=cent)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    stats = cells.agg(
        F.sum("sz").alias("total"),
        F.sum(F.col("sz") * F.col("sz")).alias("sum_sq"),
        F.max("sz").alias("max_sz"),
        F.count(F.lit(1)).alias("n_cells"),
    ).collect()[0]
    assert stats.total == n
    # linear bound: sum |cell|^2 <= 16 * n * target  (n^2 here is 25M,
    # the bound 10.2M -- a collapsed clustering cannot pass)
    assert stats.sum_sq <= 16 * n * target
    # distribution sanity: most centroids actually used, no mega-cell
    assert stats.n_cells >= k // 2
    assert stats.max_sz <= 16 * target


def test_semantic_dedup_auto_matches_seeded_semantics(spark):
    """n_centroids='auto' changes the QUANTIZER, not the dedup rule: on a
    fixture whose duplicates are near-identical vectors, the auto path must
    flag the same higher-id duplicates the seeded path flags."""
    from aws_glue_etl_sample_hist_spark.operators.similarity import semantic_dedup

    rows = []
    for i in range(40):
        base = [0.0] * 40
        base[i] = 1.0  # 40 mutually orthogonal originals
        rows.append((i, base))
        rows.append((100 + i, [x * 1.001 + (0.0001 if j == (i + 1) % 40 else 0.0) for j, x in enumerate(base)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.is_dup for r in semantic_dedup(emb, 0.99, "auto").collect()}
    # every 100+i is a near-copy of i; with cosine>=0.99 each pair flags the
    # higher id IF both land in the same cell -- near-identical vectors
    # always co-cluster, so all 40 copies must be dups and no original may be
    assert sum(out[100 + i] for i in range(40)) == 40
    assert not any(out[i] for i in range(40))


# ------------------------------------------------- product quantization


def test_pq_codebook_members_encode_to_themselves(spark):
    from aws_glue_etl_sample_hist_spark.operators.similarity import pq_codes

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 5.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 5.0]),
        (4, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 5.0, 0.0]),  # sub0 of 1, sub1 of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in pq_codes(emb, m=2, n_codes=4).collect()}
    for i in range(4):
        assert out[i].codes == [i, i] and out[i].recon_err == 0.0
    assert out[4].codes == [1, 2] and out[4].recon_err == 0.0


def test_pq_adc_ranks_exact_duplicate_first(spark):
    from aws_glue_etl_sample_hist_spark.operators.similarity import pq_adc_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 5.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 5.0]),
        (4, [0.0, 1.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0]),  # copy of 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_adc_topk(emb, [4], k=2, m=2, n_codes=4).collect()
    assert out[0].neighbor_id == 1 and out[0].adc_dist == 0.0 and out[0].rank == 1


# ------------------------------------------------- incremental dedup


def test_incremental_dedup_flags_new_against_existing_only(spark):
    from aws_glue_etl_sample_hist_spark.operators.dedup import incremental_minhash_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    existing = spark.createDataFrame(
        [(0, base), (2, base)],  # old x old dup must NOT be reported
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, base), (3, "totally different words nothing shared here at all now")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in incremental_minhash_dedup(existing, new).collect()}
    assert set(out) == {1, 3}  # one row per NEW doc only
    assert out[1].is_dup and out[1].best_match == 0 and out[1].jaccard == 1.0
    assert not out[3].is_dup and out[3].best_match is None


# ------------------------------------------------- binned interval join


def test_interval_join_binned_end_exclusive_and_overlap(spark):
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.asof import interval_join_binned

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda **kw: t0 + dt.timedelta(**kw)
    left = spark.createDataFrame(
        [
            (0, mk(minutes=30)),    # inside iv1 only
            (1, mk(minutes=90)),    # inside iv1 AND iv2 (overlap -> 2 rows)
            (2, mk(minutes=120)),   # == iv1 end (exclusive) -> iv2 only
            (3, mk(minutes=60)),    # == iv2 start (inclusive) -> both
            (4, mk(minutes=300)),   # outside all
        ],
        "event_id long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [("iv1", t0, mk(minutes=120)), ("iv2", mk(minutes=60), mk(minutes=180))],
        "iv string, start timestamp, end timestamp",
    )
    out = interval_join_binned(left, ivs, bin_seconds=3600)
    got = {(r.event_id, r.iv) for r in out.collect()}
    assert got == {(0, "iv1"), (1, "iv1"), (1, "iv2"), (2, "iv2"), (3, "iv1"), (3, "iv2")}


# ------------------------------------------------- time-series queries


def test_scd2_runs_collapse_and_close(spark, tmp_path):
    """Consecutive same-type events collapse to one interval; a type flip
    closes the previous interval at the next run's start; only the last
    run per user is open (is_current)."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 7, "purchase", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=3), 7, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        QUERIES["events_user_state_scd2"](spark, str(tmp_path)).collect(),
        key=lambda r: r.valid_from_us,
    )
    assert [r.state for r in out] == ["view", "purchase", "view"]
    assert [r.n_events for r in out] == [2, 1, 1]
    # exclusive close: each interval ends where the next begins
    assert out[0].valid_to_us == out[1].valid_from_us
    assert out[1].valid_to_us == out[2].valid_from_us
    assert [r.is_current for r in out] == [False, False, True]


def test_gapfill_zero_days_and_ffill(spark, tmp_path):
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1, 12)
    rows = [
        (1, t0, 7, "view", 10.0, "{}"),
        (2, t0 + dt.timedelta(days=2), 7, "view", 20.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        QUERIES["events_daily_gapfill"](spark, str(tmp_path)).collect(),
        key=lambda r: r.day_str,
    )
    assert [r.day_str for r in out] == ["2024-01-01", "2024-01-02", "2024-01-03"]
    # the empty middle day exists, counts zero, and carries the last value
    assert [r.n_events for r in out] == [1, 0, 1]
    assert [r.day_value for r in out] == [10.0, 0.0, 20.0]
    assert [r.ffill_value for r in out] == [10.0, 10.0, 20.0]


# ------------------------------------------------- analytics operators


def test_funnel_requires_step_order(spark):
    """A user whose click precedes every view must NOT count as reaching
    step 2: the funnel is ordered, not a set-membership check."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.analytics import funnel_reach

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, minute, typ):
        return (uid, t0 + dt.timedelta(minutes=minute), typ)

    rows = [
        # user 1: view -> click -> purchase, fully ordered
        ev(1, 0, "view"), ev(1, 1, "click"), ev(1, 2, "purchase"),
        # user 2: click BEFORE view -- reaches view only
        ev(2, 0, "click"), ev(2, 1, "view"),
        # user 3: view -> purchase but click missing -- reaches view only
        ev(3, 0, "view"), ev(3, 1, "purchase"),
        # user 4: purchase -> click -> view (fully reversed) -- view only
        ev(4, 0, "purchase"), ev(4, 1, "click"), ev(4, 2, "view"),
        # user 5: never views -- reaches nothing
        ev(5, 0, "click"), ev(5, 1, "purchase"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.step: (r.n_users, r.conversion) for r in
           funnel_reach(events, ["view", "click", "purchase"]).collect()}
    assert out["view"] == (4, 1.0)
    assert out["click"] == (1, 0.25)
    assert out["purchase"] == (1, 0.25)


def test_funnel_greedy_earliest_is_complete(spark):
    """view@2 -> click@3 completes even though an earlier click@1 exists:
    the anchor is the earliest VIEW, and any click at-or-after it counts."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.analytics import funnel_reach

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=1), "click"),
        (1, t0 + dt.timedelta(minutes=2), "view"),
        (1, t0 + dt.timedelta(minutes=3), "click"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.step: r.n_users for r in funnel_reach(events, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 1}


def test_cohort_retention_offsets_and_sizes(spark):
    """Two customers cohorted in Jan; one returns in Mar -> offset-2 cell of
    1 active, retention 0.5; a Feb-cohort singleton has its own month-0."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.analytics import cohort_retention

    rows = [
        (1, dt.datetime(2024, 1, 5)), (2, dt.datetime(2024, 1, 20)),
        (1, dt.datetime(2024, 3, 2)),
        (3, dt.datetime(2024, 2, 1)),
    ]
    orders = spark.createDataFrame(rows, "o_custkey long, o_orderdate timestamp")
    got = {(r.cohort_month, r.months_since): (r.n_active, r.cohort_size, r.retention_pct)
           for r in cohort_retention(orders).collect()}
    assert got == {
        ("2024-01", 0): (2, 2, 1.0),
        ("2024-01", 2): (1, 2, 0.5),
        ("2024-02", 0): (1, 1, 1.0),
    }


def test_bloom_decontamination_equals_exact(spark):
    """The Bloom-prefilter path returns EXACTLY the broadcast-shingle path's
    output (false positives die in the verify join) -- even with a tiny
    bitmap where FPs are guaranteed."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        contamination_flags,
        contamination_flags_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc{i} eta theta iota kappa")
         for i in range(10, 40)]
        + [(40, "totally different words nothing shared here at all whatsoever")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    exact = {tuple(r) for r in contamination_flags(docs, bench, n=5).collect()}
    for bits in (1 << 6, 1 << 16):  # collision-heavy and roomy bitmaps
        bloom = {tuple(r) for r in
                 contamination_flags_bloom(docs, bench, n=5, num_bits=bits).collect()}
        assert bloom == exact


def test_leakage_safe_split_keeps_clusters_together(spark, tmp_path):
    """Near-duplicate docs land in the SAME split: no cluster straddles
    train/val/test."""
    from aws_glue_etl_sample_hist_spark.queries import QUERIES

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [(i, base + f" tail{i // 3}") for i in range(30)]  # triplet near-dups
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["corpus_split_leakage_safe"](spark, str(tmp_path))
    per_cluster = (
        out.groupBy("cluster_id").agg(F.count_distinct("split").alias("n")).collect()
    )
    assert per_cluster and all(r.n == 1 for r in per_cluster)
    assert {r.split for r in out.collect()} <= {"train", "val", "test"}


# ------------------------------------------------- round-3b additions


def test_top_supplier_revenue_keeps_exact_ties(spark, tmp_path):
    """Two suppliers with identical rounded revenue BOTH surface: the argmax
    is a join on the scalar max, not a LIMIT 1."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.queries import QUERIES

    d = dt.date(1996, 2, 1)
    li = [
        # suppkey 1 and 2 each: 100.0 * (1 - 0.0) revenue
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", d),
        (2, 1, 2, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", d),
        # suppkey 3: less
        (3, 1, 3, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", d),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "Supplier#1", 1, 0.0), (2, "Supplier#2", 1, 0.0), (3, "Supplier#3", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))

    out = QUERIES["top_supplier_revenue"](spark, str(tmp_path)).collect()
    assert sorted(r.s_suppkey for r in out) == [1, 2]
    assert all(r.total_revenue == 100.0 for r in out)


def test_rademacher_matrix_is_deterministic_and_scaled():
    from aws_glue_etl_sample_hist_spark.operators.similarity import rademacher_matrix

    a = rademacher_matrix(64, 16, "rp")
    b = rademacher_matrix(64, 16, "rp")
    c = rademacher_matrix(64, 16, "other-seed")
    assert a == b  # hash-derived, no RNG state
    assert a != c
    assert len(a) == 16 and all(len(row) == 64 for row in a)
    assert {abs(v) for row in a for v in row} == {0.25}  # 1/sqrt(16)
    # signs are roughly balanced (hash uniformity sanity check)
    pos = sum(v > 0 for row in a for v in row)
    assert 400 < pos < 624


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        rademacher_matrix,
        random_projection,
    )

    vecs = [(0, [float(i) for i in range(8)]), (1, [1.0] * 8), (2, [0.0] * 8)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: [r[f"p{i:02d}"] for i in range(4)]
        for r in random_projection(emb, k=4, dim=8).collect()
    }
    mat = np.array(rademacher_matrix(8, 4, "rp"))
    for vid, v in vecs:
        expect = np.round(mat @ np.array(v), 6)
        assert out[vid] == list(expect), (vid, out[vid], expect)
    assert out[2] == [0.0, 0.0, 0.0, 0.0]


def test_centroid_outliers_flags_planted_outlier(spark):
    from aws_glue_etl_sample_hist_spark.operators.similarity import centroid_outliers

    rows = [(i, 0, [1.0 + 0.01 * i, 1.0]) for i in range(10)]
    rows.append((99, 0, [50.0, -40.0]))  # far from the label-0 centroid
    rows += [(100 + i, 1, [0.0, float(i)]) for i in range(5)]  # other label
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r.vec_id: r for r in centroid_outliers(emb, z_threshold=2.0).collect()}
    assert out[99].is_outlier
    assert not any(out[i].is_outlier for i in range(10))
    # z-scores are computed within-label: label 1's extremes stay modest
    assert all(not out[100 + i].is_outlier for i in range(5))


def test_star_audit_catches_planted_violations(spark):
    """Plant one violation of each class -- null key, out-of-range value,
    duplicate PK, FK orphan -- and assert exactly those checks fail with
    the right violation counts."""
    from aws_glue_etl_sample_hist_spark.operators.audit import star_schema_audit

    import datetime as dt

    d = dt.date(1996, 1, 1)
    tables = {
        "lineitem": spark.createDataFrame(
            [
                (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d),
                (1, 1, 1, 1, -2.0, 10.0, 0.0, 0.0, "N", "O", d),  # dup PK + bad qty
                (9, 1, 1, 2, 1.0, 10.0, 0.0, 0.0, "X", "O", d),  # orphan order + bad flag
            ],
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
        ),
        "orders": spark.createDataFrame(
            [(1, 1, "O", 10.0, d, "1-URGENT"), (2, None, "O", 10.0, d, "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate date, o_orderpriority string",
        ),
        "customer": spark.createDataFrame(
            [(1, "a", 1, 0.0, "BUILDING")],
            "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string",
        ),
        "part": spark.createDataFrame(
            [(1, "p", "b", "t", 1, 1.0)],
            "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
        ),
        "supplier": spark.createDataFrame(
            [(1, "s", 1, 0.0)], "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"
        ),
        "nation": spark.createDataFrame(
            [(1, "n", 7)], "n_nationkey long, n_name string, n_regionkey long"
        ),  # region 7 does not exist -> FK orphan
        "region": spark.createDataFrame([(1, "r")], "r_regionkey long, r_name string"),
    }
    rep = {r.check_id: r for r in star_schema_audit(tables).collect()}
    assert rep["lineitem.l_quantity.positive"].n_violations == 1
    assert rep["lineitem.l_returnflag.in_domain"].n_violations == 1
    assert rep["lineitem.pk.unique"].n_violations == 1  # one extra row on the dup key
    assert rep["lineitem.l_orderkey.fk_orders"].n_violations == 1
    assert rep["nation.n_regionkey.fk_region"].n_violations == 1
    assert not rep["orders.o_custkey.not_null"].passed
    # clean checks stay green
    assert rep["customer.c_custkey.unique"].passed
    assert rep["orders.o_orderkey.unique"].passed
    assert rep["lineitem.l_partkey.fk_part"].passed


def test_markov_transitions_counts_and_conditional_probs(spark, tmp_path):
    """Known stream: A->B twice, B->A once for user 1; user boundaries never
    produce cross-user transitions; P(next|prev) normalizes per prev row."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=0), 1, "A", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "B", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "A", 0.0, "{}"),
        (4, t0 + dt.timedelta(minutes=3), 1, "B", 0.0, "{}"),
        # user 2 starts with B -- must NOT count as a transition from user 1's B
        (5, t0 + dt.timedelta(minutes=0), 2, "B", 0.0, "{}"),
        (6, t0 + dt.timedelta(minutes=1), 2, "B", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        (r.prev_type, r.next_type): (r.n_transitions, r.p_next_given_prev)
        for r in QUERIES["events_markov_transitions"](spark, str(tmp_path)).collect()
    }
    assert out == {
        ("A", "B"): (2, 1.0),
        ("B", "A"): (1, 0.5),
        ("B", "B"): (1, 0.5),
    }


# ---------------------------------------------------------------- round 4


def test_prefix_filter_join_equals_brute_force(spark):
    """Prefix-filter completeness: the SSJoin candidate pruning must find
    EVERY pair with Jaccard >= t, verified against all-pairs brute force on
    a crafted frame with shared frequent tokens (which the prefix skips)
    and rare discriminating tokens."""
    from itertools import combinations

    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        prefix_filter_jaccard_join,
    )

    recs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "alpha beta zeta eta"),
        (4, "alpha theta iota kappa"),
        (5, "alpha beta gamma delta"),  # exact dup of 1
        (6, "mu nu xi"),
        (7, "mu nu xi"),  # exact dup of 6
        (8, "alpha"),  # single frequent token
    ]
    df = spark.createDataFrame(recs, ["id", "name"])
    t = 0.5
    sets = {i: set(s.split()) for i, s in recs}
    want = {
        (a, b)
        for a, b in combinations(sorted(sets), 2)
        if round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6) >= t
    }
    for block in (1, 2):
        got = {
            (r.id_a, r.id_b)
            for r in prefix_filter_jaccard_join(df, threshold=t, block=block).collect()
        }
        assert got == want, f"block={block}"
    # and the verify stage reports exact Jaccard
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_join(df, threshold=t).collect()
    }
    assert out[(1, 5)] == 1.0
    assert out[(1, 2)] == round(3 / 5, 6)


def test_heavy_hitters_exact_partition_invariant(spark):
    """Misra-Gries candidates + re-count must equal the exact GROUP BY answer
    under any partitioning (the merge undercount bound is what guarantees
    the candidate superset)."""
    from aws_glue_etl_sample_hist_spark.operators.frequency import (
        heavy_hitters_exact,
    )

    # 1000 rows: value 1 x400, 2 x200, 3..8 x50 each, 9..108 x1
    vals = [1] * 400 + [2] * 200 + sum([[v] * 50 for v in range(3, 9)], []) + list(
        range(9, 109)
    )
    df = spark.createDataFrame([(v,) for v in vals], ["user_id"])
    for parts in (1, 7):
        got = {
            (r.user_id, r.freq)
            for r in heavy_hitters_exact(
                df.repartition(parts), "user_id", threshold_frac=0.05
            ).collect()
        }
        assert got == {(1, 400), (2, 200), (3, 50), (4, 50), (5, 50), (6, 50), (7, 50), (8, 50)}


def test_merge_partial_aggs_equals_full_recompute(spark):
    """Incremental mart merge is exact for ANY split of the input (sum/count
    monoid property), including groups present on only one side."""
    from aws_glue_etl_sample_hist_spark.operators.aggregates import (
        merge_partial_aggs,
    )

    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("c", 4.0), ("b", 5.0), ("d", 6.0)]
    df = spark.createDataFrame(rows, ["k", "v"])

    def agg(d):
        return d.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
        )

    full = {(r.k, r.s, r.n) for r in agg(df).collect()}
    for split in (1, 3, 5):
        old = spark.createDataFrame(rows[:split], ["k", "v"])
        new = spark.createDataFrame(rows[split:], ["k", "v"])
        merged = merge_partial_aggs(agg(old), agg(new), ["k"], ["s"], "n")
        assert {(r.k, r.s, r.n) for r in merged.collect()} == full


def test_bm25_ranks_rare_term_doc_first(spark):
    """BM25 sanity on a hand-checkable corpus: the doc containing the RARE
    query term outscores docs stuffed with the common one (idf dominates),
    and scores match the closed-form Okapi formula."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.ranking import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rare common filler filler"),
            (3, "filler filler filler filler"),
            (4, "common filler filler filler"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.score for r in bm25_topk(docs, ["rare"], k=4).collect()}
    assert set(out) == {2}  # only doc 2 matches at all
    n, df_t, tf, dl, avgdl, k1, b = 4, 1, 1, 4, 4.0, 1.2, 0.75
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
    expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert out[2] == pytest.approx(round(expect, 4))


def test_word_entropy_uniform_and_degenerate(spark):
    """Entropy closed forms: uniform over k distinct tokens -> ln(k); a
    single repeated token -> 0."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.text import word_entropy_stats

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x x")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in word_entropy_stats(docs).collect()}
    assert got[1].entropy_nats == pytest.approx(round(math.log(4), 6))
    assert got[1].type_token_ratio == 1.0
    assert got[2].entropy_nats == 0.0
    assert got[2].n_types == 1


def test_bmp_roundtrip_including_row_padding():
    """Pure-numpy BMP codec: encode->decode is the identity for widths that
    do and don't need 4-byte row padding (the classic BMP trap)."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 2), (5, 3), (4, 4), (7, 5)]:  # w=2,3,5 need padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(px)
        assert payload[:2] == b"BM"
        back = decode_bmp(payload)
        assert back.shape == (h, w, 3)
        assert (back == px).all()
        # decode_image dispatches BMP to the native path -- no PIL involved
        assert (decode_image(payload) == px).all()


def test_real_image_meta_reads_true_dimensions(spark):
    """real_image_meta extracts TRUE width/height/channel means from decoded
    BMP payloads through the same mapInPandas plumbing as the fake path."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_bmp,
        real_image_meta,
    )

    imgs = {
        1: np.full((2, 3, 3), 10, dtype=np.uint8),
        2: np.zeros((4, 5, 3), dtype=np.uint8),
    }
    imgs[2][:, :, 0] = 200  # red plane
    df = spark.createDataFrame(
        [(k, "image", bytearray(encode_bmp(v))) for k, v in imgs.items()],
        "doc_id long, media_type string, payload binary",
    )
    got = {r.doc_id: r for r in real_image_meta(df).collect()}
    assert (got[1].width, got[1].height) == (3, 2)
    assert got[1].mean_r == got[1].mean_g == got[1].mean_b == "10.0000"
    assert (got[2].width, got[2].height) == (5, 4)
    assert got[2].mean_r == "200.0000"
    assert got[2].mean_b == "0.0000"


def test_wav_roundtrip_and_real_audio_meta(spark):
    """Pure-struct WAV codec: encode->decode identity on full-range int16,
    and real_audio_meta reads true rate/channels/RMS from decoded PCM."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        real_audio_meta,
    )

    x = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
    s, rate, ch = decode_wav(encode_wav(x, 16000, 1))
    assert (s == x).all() and rate == 16000 and ch == 1

    const = np.full(8, 100, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(encode_wav(const, 8000, 1)))],
        "doc_id long, media_type string, payload binary",
    )
    r = real_audio_meta(df).collect()[0]
    assert (r.n_channels, r.sample_rate, r.n_samples, r.rms) == (1, 8000, 8, "100.0000")


def test_y4m_roundtrip_and_real_video_meta(spark):
    """Pure-python YUV4MPEG2 codec: encode->decode identity on luma planes,
    and real_video_meta fans each payload out to per-frame rows with true
    decoded dimensions and mean luma."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
        real_video_meta,
    )

    f0 = np.arange(32, dtype=np.uint8).reshape(4, 8)
    f1 = np.full((4, 8), 200, dtype=np.uint8)
    w, h, frames = decode_y4m(encode_y4m([f0, f1]))
    assert (w, h, len(frames)) == (8, 4, 2)
    assert (frames[0] == f0).all() and (frames[1] == f1).all()

    df = spark.createDataFrame(
        [(1, "video", bytearray(encode_y4m([f0, f1])))],
        "doc_id long, media_type string, payload binary",
    )
    got = {r.frame_idx: r for r in real_video_meta(df).collect()}
    assert len(got) == 2
    assert (got[0].width, got[0].height) == (8, 4)
    assert got[0].mean_y == "15.5000"  # mean of 0..31
    assert got[1].mean_y == "200.0000"


def _bpe_reference(word_freqs, n_merges):
    """Pure-python reference BPE (Sennrich 2016 pseudocode, deterministic
    tie-break (count desc, pair asc))."""
    vocab = {w: list(w) + ["</w>"] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_matches_python_reference(spark):
    """Distributed BPE learns the SAME merge sequence and final symbol
    arrays as the single-threaded reference -- including overlapping-run
    greediness (aaa + (a,a) -> [aa, a]) and tie-breaks."""
    from aws_glue_etl_sample_hist_spark.operators.bpe import train_bpe

    texts = [
        "low low low lower lower newest newest newest newest widest",
        "widest widest low newest aaa aaa aaa",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    word_freqs = {}
    for t in texts:
        for w in t.split():
            word_freqs[w] = word_freqs.get(w, 0) + 1
    want_merges, want_vocab = _bpe_reference(word_freqs, 8)

    got_merges, got_vocab_df = train_bpe(docs, 8)
    assert got_merges == want_merges
    got_vocab = {r.word: list(r.symbols) for r in got_vocab_df.collect()}
    assert got_vocab == want_vocab


def test_exp_smoothing_window_identity_matches_recursion(spark, sf_small):
    """The closed-form window rewrite of S_t = a*x_t + (1-a)*S_{t-1} must
    equal the literal python recursion -- the oracle only proves the two
    ENGINES agree, this proves the math is the actual smoother."""
    from aws_glue_etl_sample_hist_spark.queries import q_events_exp_smoothing

    rows = q_events_exp_smoothing(spark, sf_small).collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        by_type.setdefault(r.event_type, []).append(r)
    a = 0.3
    for series in by_type.values():
        s = series[0].x
        assert abs(series[0].smoothed - s) < 1e-3
        for r in series[1:]:
            s = a * r.x + (1 - a) * s
            assert abs(r.smoothed - s) < 1e-3, (r.event_type, r.day)


def test_unique_check_counts_null_keys_like_oracle(spark):
    """NULL keys form a group in Spark's groupBy uniqueness check, so two
    NULL-keyed rows are one duplicate violation. The dq_audit oracle's
    COUNT(*) - COUNT(DISTINCT k) form silently DROPPED nulls (latent until
    a corpus carries a null key) -- both engines now use NULL-counting
    distinct semantics; this pins them to each other on a null-keyed frame."""
    import duckdb

    from aws_glue_etl_sample_hist_spark.operators.audit import unique_check

    df = spark.createDataFrame(
        [(None,), (None,), (1,), (1,), (1,), (2,)], "k int"
    )
    row = unique_check(df, "t", ["k"], "t.k.unique").collect()[0]
    # groups: NULL x2 (1 violation), 1 x3 (2 violations), 2 x1 (0)
    assert (row.n_rows, row.n_violations, row.passed) == (6, 3, False)
    oracle = duckdb.sql(
        """WITH t(k) AS (VALUES (NULL), (NULL), (1), (1), (1), (2))
           SELECT COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT k FROM t))
           FROM t"""
    ).fetchone()[0]
    assert oracle == row.n_violations


def test_bpe_batched_equals_sequential_on_adversarial_corpora(spark):
    """Batched merge selection must learn the IDENTICAL sequence as the
    one-merge-per-round loop. Small alphabets force the failure modes the
    batch guard exists for: symbol collisions between top pairs, and merges
    whose NEW pairs (x, a+b) tie or beat the next-ranked candidate -- if
    the guard under-serializes, these corpora diverge."""
    import random

    from aws_glue_etl_sample_hist_spark.operators.bpe import train_bpe

    corpora = [
        # merge (a,b) creates (x, ab) with count equal to rival pair (c,d):
        # sequential order depends on post-merge recount + lexicographic
        ["xab xab xab xab cd cd cd cd", "xab cd"],
        # overlapping runs + shared symbols between every top pair
        ["aaa aab aba abb baa bab bba bbb " * 3],
        # ADVICE r5 failure mode, found by random search against the OLD
        # bound-based guard: merging (a,a) creates 'aa' symbols, boosting
        # the pre-existing pair (aa,a) from below (b,</w>)'s count to a
        # lexicographic win over it -- the old batch accepted (a,a) and
        # (b,</w>) together and diverged; speculate-and-verify truncates.
        ["aaabb aaabb aaabb aaaaa bb"],
        ["aaacc aaacc aaacc aaacc aaacc " + "aaa " * 8 + "b b b " + "cbb " * 9],
        ["baab bbbb bbbb bbbb " + "aaab " * 8 + "aaa " * 6 + "a a bbab"],
        # random small-alphabet words, heavy pair-count ties
    ]
    rng = random.Random(42)
    for _ in range(3):
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(60)
        ]
        corpora.append([" ".join(words[:30]), " ".join(words[30:])])

    for texts in corpora:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        seq, _ = train_bpe(docs, 12, batch_size=1)
        for bs in (3, 8, 64):
            got, _ = train_bpe(docs, 12, batch_size=bs)
            assert got == seq, (texts, bs, got, seq)


def test_png_roundtrip_and_all_five_filters():
    """encode->decode is bit-exact (PNG is lossless), and the decoder
    handles every RFC 2083 row filter -- pinned by hand-filtering a known
    image with filters 0-4 cycling per row and requiring exact recovery."""
    import struct
    import zlib

    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    h, w, bpp = img.shape[0], img.shape[1], 3
    stride = w * bpp
    flat = img.reshape(h, stride).astype(int)
    lines = []
    for y in range(h):
        f = y % 5
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, int)
        filt = np.empty(stride, int)
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[i] = (cur[i] - pred) & 0xFF
        lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))
    payload = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(payload) == img).all()


def test_png_rejects_unsupported_variants():
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.operators.multimodal import decode_png

    with _pytest.raises(ValueError):
        decode_png(b"BM not a png")


def test_jpeg_roundtrip_error_bounds():
    """Baseline JPEG codec quality contract: flat tiles round-trip exactly
    at q=95, smooth gradients stay within 1 level, random noise (the DCT
    worst case) stays within the quantization-table bound; odd, non-multiple
    -of-8 dims decode to the true SOF0 size."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    flat = np.full((16, 16, 3), 77, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, quality=95)) == flat).all()

    yy, xx = np.mgrid[0:24, 0:17]
    grad = np.stack(
        [np.minimum(yy * 5 + xx * 3, 255)] * 3, axis=-1
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(grad, quality=95))
    assert dec.shape == (24, 17, 3)
    assert np.abs(dec.astype(int) - grad.astype(int)).max() <= 2

    rng = np.random.default_rng(1)
    noise = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    decn = decode_jpeg(encode_jpeg(noise, quality=95))
    assert np.abs(decn.astype(int) - noise.astype(int)).mean() < 8

    grey = ((yy * 11 + xx * 13) % 256).astype(np.uint8)
    decg = decode_jpeg(encode_jpeg(grey, quality=90))
    assert decg.shape == (24, 17, 3)  # grey replicates to 3 channels


def test_jpeg_rejects_out_of_scope_streams():
    import struct

    import numpy as np
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    with _pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    # flip the SOF0 marker of a valid stream to SOF2 (progressive)
    enc = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    enc[enc.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(enc))
    # rewrite a 3-component stream's SOS to cover only component 1: a
    # standards-compliant NON-INTERLEAVED baseline file (one scan per
    # component) must raise loudly, not silently return zero chroma
    # (ADVICE r5)
    enc = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    at = enc.index(b"\xff\xda")
    (seg_len,) = struct.unpack_from(">H", enc, at + 2)
    ns = enc[at + 4]
    assert ns == 3 and seg_len == 2 + 1 + 2 * 3 + 3
    spectral = bytes(enc[at + 4 + 1 + 2 * 3 : at + 2 + seg_len])
    new_seg = struct.pack(">H", 2 + 1 + 2 + 3) + bytes([1]) + bytes(
        enc[at + 5 : at + 7]
    ) + spectral
    enc[at + 2 : at + 2 + seg_len] = new_seg
    with _pytest.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg(bytes(enc))


def test_jpeg_codec_caches_stay_bounded(monkeypatch):
    """The codec's driver/worker memos are bounded: the quant-table cache
    is keyed by table name and clamped quality (at most 2 x 100 entries),
    and decoding more distinct Huffman table definitions than
    _DHT_CACHE_MAX leaves the DHT memo at the bound with the same pixels."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators import jpeg

    img = ((np.mgrid[0:16, 0:16, 0:3].sum(axis=0) * 7) % 256).astype(np.uint8)
    jpeg.encode_jpeg(img, quality=1000)
    assert ("lum", 100) in jpeg._SCALED_QUANT_CACHE
    assert ("chroma", 100) in jpeg._SCALED_QUANT_CACHE
    enc = jpeg.encode_jpeg(img)
    want = jpeg.decode_jpeg(enc)
    monkeypatch.setattr(jpeg, "_DHT_CACHE", {})
    # one DC + one AC table definition per stream: two distinct ones
    monkeypatch.setattr(jpeg, "_DHT_CACHE_MAX", 1)
    for _ in range(2):
        assert (jpeg.decode_jpeg(enc) == want).all()
        assert len(jpeg._DHT_CACHE) == 1


def test_jpeg_decodes_pil_written_baseline_if_available():
    """Interop: where PIL is installed (used here only as an encoder), a
    PIL-written baseline 4:4:4 JPEG must decode with our stream-driven
    tables."""
    import io

    import numpy as np

    Image = pytest.importorskip("PIL.Image")

    from aws_glue_etl_sample_hist_spark.operators.jpeg import decode_jpeg

    img = np.full((16, 16, 3), 100, np.uint8)
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="JPEG", quality=95, subsampling=0)
    dec = decode_jpeg(buf.getvalue())
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4


def test_weighted_pagerank_matches_numpy_power_iteration(spark):
    """The DataFrame message-passing recurrence must equal the literal
    numpy power iteration on a hand graph -- the oracle only proves the two
    ENGINES agree, this proves the math is actually PageRank. With no
    dangling nodes the ranks must also stay a probability distribution."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.graph import weighted_pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 3.0)],
        ["src", "dst", "weight"],
    )
    got = {
        r.node: r.rank for r in weighted_pagerank(edges, n_iter=3).collect()
    }

    names = ["a", "b", "c"]
    P = np.zeros((3, 3))  # P[i, j] = prob of stepping i -> j
    for s, d, w in [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 3.0)]:
        P[names.index(s), names.index(d)] = w
    P = P / P.sum(axis=1, keepdims=True)
    r = np.full(3, 1 / 3)
    for _ in range(3):
        r = 0.15 / 3 + 0.85 * (P.T @ r)
    for i, name in enumerate(names):
        assert abs(got[name] - r[i]) < 1e-9, (name, got[name], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_converged_pagerank_matches_numpy_with_dangling(spark):
    """The production-parity variant must equal a literal numpy power
    iteration that mirrors its exact semantics -- dangling mass
    redistributed uniformly, 12-dp per-round quantization, L1-delta
    epsilon stop -- on graphs WITH dangling nodes, and the ranks must stay
    a probability distribution (the leaking twin's known deficiency)."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.graph import (
        weighted_pagerank_converged,
    )

    graphs = [
        # b and d are dangling (no out-edges)
        [("a", "b", 2.0), ("a", "c", 1.0), ("c", "b", 1.0), ("c", "d", 3.0)],
        # chain into a sink + a side cycle
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "s", 4.0)],
        # two components, one all-dangling-terminal
        [("a", "b", 1.0), ("x", "y", 5.0), ("y", "x", 0.5), ("x", "z", 2.0)],
    ]
    for edge_list in graphs:
        edges = spark.createDataFrame(edge_list, ["src", "dst", "weight"])
        rows = weighted_pagerank_converged(edges, eps=1e-9).collect()
        got = {r.node: r.rank for r in rows}
        got_rounds = rows[0].n_rounds

        names = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
        idx = {v: i for i, v in enumerate(names)}
        n = len(names)
        outw: dict = {}
        for s, _, w in edge_list:
            outw[s] = outw.get(s, 0.0) + w
        P = np.zeros((n, n))  # P[j, i] = prob of stepping i -> j
        for s, d, w in edge_list:
            P[idx[d], idx[s]] += round(w / outw[s], 12)
        dangling = np.array([v not in outw for v in names])
        r = np.round(np.full(n, 1.0 / n), 12)
        dm = int(dangling.sum()) * round(1.0 / n, 12)
        rounds = 0
        for rounds in range(1, 51):
            new = np.round(0.15 / n + 0.85 * (P @ r + dm / n), 12)
            delta = np.abs(new - r).sum()
            dm = new[dangling].sum()
            r = new
            if delta < 1e-9:
                break

        assert got_rounds == rounds, (edge_list, got_rounds, rounds)
        for v in names:
            assert abs(got[v] - r[idx[v]]) < 1e-10, (v, got[v], r[idx[v]])
        # dangling mass redistributed, not leaked: ranks sum to 1
        assert abs(sum(got.values()) - 1.0) < 1e-6, sum(got.values())


def test_converged_pagerank_check_every_batches_the_stop(spark):
    """check_every=K (round 13): K lazy rank updates per driver action,
    eps stop on the LAST consecutive round pair -- same fixpoint as
    per-round checking, with n_rounds rounded up to the next multiple of
    K (possibly K-1 extra sub-eps rounds). Mirrored against the same
    literal numpy power iteration with the batched stop."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.graph import (
        weighted_pagerank_converged,
    )

    edge_list = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("c", "b", 1.0), ("c", "d", 3.0)
    ]
    edges = spark.createDataFrame(edge_list, ["src", "dst", "weight"])
    K = 3
    rows = weighted_pagerank_converged(edges, eps=1e-9, check_every=K).collect()
    got = {r.node: r.rank for r in rows}
    got_rounds = rows[0].n_rounds

    names = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
    idx = {v: i for i, v in enumerate(names)}
    n = len(names)
    outw: dict = {}
    for s, _, w in edge_list:
        outw[s] = outw.get(s, 0.0) + w
    P = np.zeros((n, n))
    for s, d, w in edge_list:
        P[idx[d], idx[s]] += round(w / outw[s], 12)
    dangling = np.array([v not in outw for v in names])
    r = np.round(np.full(n, 1.0 / n), 12)
    dm = int(dangling.sum()) * round(1.0 / n, 12)
    rounds = 0
    stop = False
    while rounds < 50 and not stop:
        for _ in range(min(K, 50 - rounds)):
            prev = r
            new = np.round(0.15 / n + 0.85 * (P @ r + dm / n), 12)
            dm = new[dangling].sum()
            r = new
            rounds += 1
        if np.abs(r - prev).sum() < 1e-9:
            stop = True

    assert got_rounds == rounds and got_rounds % K == 0
    for v in names:
        assert abs(got[v] - r[idx[v]]) < 1e-10, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # same fixpoint as the per-round stop, within quantization
    per_round = {
        x.node: x.rank
        for x in weighted_pagerank_converged(edges, eps=1e-9).collect()
    }
    for v in names:
        assert abs(got[v] - per_round[v]) < 1e-8, (v, got[v], per_round[v])


def test_substring_dedup_spans_hand_computed(spark):
    """Pins ExactSubstr span semantics on a hand-computed fixture with
    k=3: (A) a cross-doc shared 4-token run yields one maximal span per
    doc; (B) a within-doc repeated trigram yields two separate spans (gap
    >= k); (C) an all-unique doc yields no rows; (D) two duplicated
    windows overlapping in token space merge into one span; (E) two
    duplicated windows exactly adjacent in token space also merge."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        substring_dedup_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a1 a2 a3 a4 a5 a6 a7 a8"),          # A
            (1, "z1 z2 a1 a2 a3 a4 z3 z4"),          # A
            (2, "b1 b2 b3 b4 b1 b2 b3 b5 b1 b2"),    # B
            (3, "c1 c2 c3 c4 c5"),                    # C
            (4, "d1 d2 d3 d4 d5"),                    # D
            (5, "d1 d2 d3 q1 d3 d4 d5"),              # D
            (6, "e1 e2 e3 e4 e5 e6"),                 # E
            (7, "e1 e2 e3 q2 e4 e5 e6"),              # E
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in substring_dedup_spans(docs, k=3).collect()
    )
    assert got == [
        (0, 0, 3, 4),
        (1, 2, 5, 4),
        (2, 0, 2, 3),
        (2, 4, 6, 3),
        (4, 0, 4, 5),
        (5, 0, 2, 3),
        (5, 4, 6, 3),
        (6, 0, 5, 6),
        (7, 0, 2, 3),
        (7, 4, 6, 3),
    ]


def test_substring_dedup_apply_cuts_exactly_the_spans(spark):
    """Apply must cut exactly the span-covered tokens and pass untouched
    docs through: pinned on the same hand-computed k=3 fixture as the
    span test (doc 6 is FULLY covered -> empty cleaned text, not a
    dropped row)."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        substring_dedup_apply,
    )

    docs = spark.createDataFrame(
        [
            (0, "a1 a2 a3 a4 a5 a6 a7 a8"),
            (1, "z1 z2 a1 a2 a3 a4 z3 z4"),
            (2, "b1 b2 b3 b4 b1 b2 b3 b5 b1 b2"),
            (3, "c1 c2 c3 c4 c5"),
            (4, "d1 d2 d3 d4 d5"),
            (5, "d1 d2 d3 q1 d3 d4 d5"),
            (6, "e1 e2 e3 e4 e5 e6"),
            (7, "e1 e2 e3 q2 e4 e5 e6"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed)
        for r in substring_dedup_apply(docs, k=3).collect()
    }
    assert got == {
        0: ("a5 a6 a7 a8", 8, 4),        # span (0,3) cut
        1: ("z1 z2 z3 z4", 8, 4),        # span (2,5) cut
        2: ("b4 b5 b1 b2", 10, 6),       # spans (0,2) and (4,6) cut
        3: ("c1 c2 c3 c4 c5", 5, 0),     # no duplicated windows: untouched
        4: ("", 5, 5),                    # merged span (0,4): fully covered
        5: ("q1", 7, 6),                  # spans (0,2) and (4,6) cut
        6: ("", 6, 6),                    # adjacent-merged span (0,5)
        7: ("q2", 7, 6),                  # spans (0,2) and (4,6) cut
    }


def test_dsir_prefers_target_like_documents(spark):
    """DSIR must rank pool docs by target-likeness: a pool doc sharing the
    target's vocabulary gets a higher importance weight than one from a
    disjoint vocabulary, deterministically (same output twice)."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import dsir_select

    target = spark.createDataFrame(
        [(100 + i, "cat feline purr whiskers cat feline") for i in range(5)],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [
            (0, "cat feline purr cat whiskers"),   # target-like
            (1, "purr feline cat cat"),            # target-like
            (2, "dog canine bark growl dog"),      # off-target
            (3, "stock market index fund bond"),   # off-target
        ],
        "doc_id long, text string",
    )
    rows = dsir_select(pool, target, k=4).collect()
    w = {r.doc_id: r.log_weight for r in rows}
    assert min(w[0], w[1]) > max(w[2], w[3]), w
    again = dsir_select(pool, target, k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_audio_spectrogram_tone_localization(spark):
    """Spectral features must localize energy where the signal puts it: a
    DC payload's centroid stays in the lowest bins, a Nyquist-alternating
    payload's centroid lands near bin 8, and the emitted strings equal an
    independent numpy recompute exactly."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        audio_spectrogram,
        encode_wav,
    )

    dc = np.full(32, 100, dtype=np.int16)
    nyq = (100 * (-1) ** np.arange(32)).astype(np.int16)
    df = spark.createDataFrame(
        [
            (0, "audio", bytearray(encode_wav(dc, 8000, 1))),
            (1, "audio", bytearray(encode_wav(nyq, 8000, 1))),
        ],
        "doc_id long, media_type string, payload binary",
    )
    rows = {
        (r.doc_id, r.frame_idx): (r.energy_db, r.centroid)
        for r in audio_spectrogram(df, frame_len=16).collect()
    }
    assert set(rows) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    for f in (0, 1):
        assert float(rows[(0, f)][1]) < 1.0     # DC -> low centroid
        assert float(rows[(1, f)][1]) > 7.0     # Nyquist -> high centroid

    win = np.hanning(16)
    for doc, sig in ((0, dc), (1, nyq)):
        for f in (0, 1):
            mags = np.abs(np.fft.rfft(sig[f * 16 : (f + 1) * 16] * win))
            e = 10.0 * np.log10(1.0 + (mags**2).sum())
            c = (mags * np.arange(9)).sum() / mags.sum() if mags.sum() > 0 else 0.0
            assert rows[(doc, f)] == (f"{e:.4f}", f"{c:.4f}")


def test_video_shot_boundaries_flags_the_cut(spark):
    """The pixel-domain cut detector must flag exactly the frame where
    content changes: identical consecutive frames score 0 (no cut), a
    uniform 200-luma jump scores 200 (cut), and frame 0 is not emitted."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_y4m,
        video_shot_boundaries,
    )

    z = np.zeros((4, 8), dtype=np.uint8)
    bright = np.full((4, 8), 200, dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, "video", bytearray(encode_y4m([z, z, bright])))],
        "doc_id long, media_type string, payload binary",
    )
    got = sorted(
        (r.frame_idx, r.diff_score, r.is_cut)
        for r in video_shot_boundaries(df, threshold=64.0).collect()
    )
    assert got == [(1, "0.0000", False), (2, "200.0000", True)]


def test_pca_matches_single_node_numpy(spark):
    """Distributed PCA must equal the single-node numpy fit: components
    match eigh-of-np.cov up to the documented sign canonicalization, the
    Spark projection matches the numpy projection to 1e-9, and projected
    variances equal the eigenvalues (the contract identity)."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    rng = np.random.default_rng(0)
    u = rng.normal(size=8)
    w = rng.normal(size=8)
    x = (
        3.0 * rng.normal(size=(200, 1)) * u
        + 1.0 * rng.normal(size=(200, 1)) * w
        + 0.05 * rng.normal(size=(200, 8))
        + rng.normal(size=8)  # nonzero mean exercises the centering
    )
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).repartition(7)  # multiple Arrow batches exercise the partial merge

    comps, eigvals, mu, n = pca_fit(emb, k=3)
    assert n == 200
    assert np.allclose(mu, x.mean(axis=0), atol=1e-9)

    ev_ref, vec_ref = np.linalg.eigh(np.cov(x, rowvar=False))
    order = np.argsort(ev_ref)[::-1][:3]
    assert np.allclose(eigvals, ev_ref[order], rtol=1e-9)
    for i, k in enumerate(order):
        r = vec_ref[:, k]
        assert min(
            np.abs(comps[i] - r).max(), np.abs(comps[i] + r).max()
        ) < 1e-8
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-10)

    rows = pca_project(emb, comps, mu).collect()
    got = np.array(
        [r[1:] for r in sorted((r.vec_id, r.pc0, r.pc1, r.pc2) for r in rows)]
    )
    want = (x - x.mean(axis=0)) @ comps.T
    assert np.abs(got - want).max() < 1e-9
    assert np.allclose(got.var(axis=0, ddof=1), eigvals, rtol=1e-9)


def test_hard_negatives_exclude_same_label(spark):
    """The miner must return the most-similar DIFFERENT-label vectors: a
    near-identical same-label twin is never a negative, the cross-label
    near-miss ranks first, and ranks are dense from 1."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        hard_negatives,
    )

    d = 64
    base = np.zeros(d)
    base[0] = 1.0
    near = np.zeros(d)
    near[0] = 0.95
    near[1] = 0.3  # cosine ~0.95 to base
    far = np.zeros(d)
    far[0] = 0.3
    far[2] = 1.0  # cosine ~0.29 to base
    rows = [
        (0, [float(x) for x in base], 0),
        (1, [float(x) for x in base], 0),   # same-label twin: never a negative
        (2, [float(x) for x in near], 1),   # the hard negative
        (3, [float(x) for x in far], 1),    # the easy negative
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        (r.anchor_id, r.rank): r.neg_id
        for r in hard_negatives(emb, k=3).collect()
    }
    assert got[(0, 1)] == 2 and got[(0, 2)] == 3
    assert (0, 3) not in got              # only two cross-label candidates
    assert got[(2, 1)] in (0, 1)          # anchor 2's nearest is the base pair


def test_hard_negatives_ring_cap_bounds_candidates(spark):
    """The adversarial shuffle-bound witness: a degenerate corpus where
    EVERY vector lands in the same sign bucket of every band (the case
    that used to cost n^2/2 candidate rows at threshold 0). With the ring
    cap, each anchor may meet at most cand_per_band successors plus
    cand_per_band predecessors per band -- so the per-anchor candidate
    count is <= 2 * n_bands * cand_per_band no matter the bucket size."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        hard_negatives,
    )

    rng = np.random.default_rng(7)
    n, d, cap = 60, 64, 2
    rows = []
    for i in range(n):
        v = rng.uniform(0.05, 1.0, d)  # all-positive => one bucket everywhere
        rows.append((i, [float(x) for x in v], i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    # k large enough that the window never truncates below the candidate set
    got = hard_negatives(emb, k=10_000, cand_per_band=cap).collect()
    per_anchor: dict[int, int] = {}
    for r in got:
        per_anchor[r.anchor_id] = per_anchor.get(r.anchor_id, 0) + 1
    bound = 2 * 4 * cap  # 2 directions x 4 bands x cap
    assert max(per_anchor.values()) <= bound
    # and the total candidate volume is linear in n, nowhere near n^2/2
    assert len(got) <= n * bound < n * (n - 1) // 2


def test_pca_moments_merge_equals_full_fit(spark):
    """Moment statistics must be associative: merging the two halves'
    moments reproduces the full-corpus covariance fit (eigenvalues to
    1e-12 relative, components aligned) -- the incremental-append
    contract."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        pca_from_moments,
        pca_merge_moments,
        pca_moments,
    )

    rng = np.random.default_rng(7)
    x = rng.normal(size=(120, 6)) * np.array([3, 2, 1, 0.5, 0.2, 0.1])
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    a = emb.filter("vec_id % 2 = 0")
    b = emb.filter("vec_id % 2 = 1")
    merged = pca_merge_moments(pca_moments(a), pca_moments(b))
    ci, ei, mi, ni = pca_from_moments(*merged, k=3)
    cf, ef, mf, nf = pca_from_moments(*pca_moments(emb), k=3)
    assert ni == nf == 120
    assert np.allclose(mi, mf, atol=1e-12)
    assert np.allclose(ei, ef, rtol=1e-12)
    for i in range(3):
        assert abs(float(np.dot(ci[i], cf[i]))) > 1.0 - 1e-12


def test_substring_dedup_keep_first_exempts_canonical(spark):
    """keep_first must exempt the canonical (min doc_id, pos) occurrence
    of every duplicated window: on a two-doc copy, the lower doc keeps
    its text (no spans) and only the copy is flagged; default mode flags
    both."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        substring_dedup_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a1 a2 a3 a4 z1 z2"),
            (1, "q1 q2 a1 a2 a3 a4"),
        ],
        "doc_id long, text string",
    )
    both = {
        (r.doc_id, r.span_start, r.span_end)
        for r in substring_dedup_spans(docs, k=3).collect()
    }
    assert both == {(0, 0, 3), (1, 2, 5)}
    kept = {
        (r.doc_id, r.span_start, r.span_end)
        for r in substring_dedup_spans(docs, k=3, keep_first=True).collect()
    }
    assert kept == {(1, 2, 5)}


def test_substring_dedup_apply_keep_first_retains_canonical(spark):
    """keep-first apply must leave the canonical copy's text intact and
    cut only the duplicate."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        substring_dedup_apply,
    )

    docs = spark.createDataFrame(
        [(0, "a1 a2 a3 a4 z1 z2"), (1, "q1 q2 a1 a2 a3 a4")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_removed)
        for r in substring_dedup_apply(docs, k=3, keep_first=True).collect()
    }
    assert got == {0: ("a1 a2 a3 a4 z1 z2", 0), 1: ("q1 q2", 4)}


def test_audio_activity_segments_finds_loud_runs(spark):
    """The energy VAD must merge consecutive loud frames into one segment
    and skip silence: frames [quiet, loud, loud, quiet] -> one segment
    (1, 2); an all-quiet payload yields no rows."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        audio_activity_segments,
        encode_wav,
    )

    loud = (100 * (-1) ** np.arange(16)).astype(np.int16)
    quiet = np.zeros(16, dtype=np.int16)
    mixed = np.concatenate([quiet, loud, loud, quiet])
    df = spark.createDataFrame(
        [
            (0, "audio", bytearray(encode_wav(mixed, 8000, 1))),
            (1, "audio", bytearray(encode_wav(np.zeros(64, dtype=np.int16), 8000, 1))),
        ],
        "doc_id long, media_type string, payload binary",
    )
    got = [
        (r.doc_id, r.seg_start, r.seg_end, r.n_frames)
        for r in audio_activity_segments(df, threshold_db=30.0).collect()
    ]
    assert got == [(0, 1, 2, 2)]


def _planted_direction_embeddings(spark):
    """160 vectors around four orthogonal planted directions (the first
    four axes of R^8, scaled by 5, plus 0.1 Gaussian noise)."""
    import numpy as np

    rng = np.random.default_rng(3)
    dirs = np.eye(8)[:4]
    rows = []
    for i in range(160):
        v = dirs[i % 4] * 5.0 + 0.1 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_parallel_recovers_planted_clusters(spark):
    """k-means|| on four well-separated direction clusters must return
    unit-norm centroids that each align (cosine > 0.95) with a planted
    direction, covering all four -- and twice: the md5/seeded pipeline is
    deterministic."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        kmeans_parallel_centroids,
    )

    dirs = np.eye(8)[:4]  # the four planted directions
    emb = _planted_direction_embeddings(spark)

    def centroids():
        got = kmeans_parallel_centroids(emb, 4, rounds=3).collect()
        return sorted([tuple(r["cv"]) for r in got])

    c1 = centroids()
    assert len(c1) == 4
    covered = set()
    for c in c1:
        v = np.asarray(c)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
        cos = dirs @ v
        j = int(np.argmax(cos))
        assert cos[j] > 0.95, cos
        covered.add(j)
    assert covered == {0, 1, 2, 3}
    assert c1 == centroids()


def test_kmeans_parallel_local_equals_distributed(spark, sf_small, monkeypatch):
    """The driver-local k-means|| sketch (default LOCAL_CAP) and the
    distributed one (LOCAL_CAP = 0) compute d2 with the same fold-order
    kernel and append each round's picks in id order, so they return the
    same centroids -- ids and every double -- on a real corpus and on the
    planted-direction fixture."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators import _local
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        kmeans_parallel_centroids,
    )

    cases = (
        (load_table(spark, sf_small, "embeddings"), 8, 5),
        (_planted_direction_embeddings(spark), 4, 3),
    )
    for emb, k, rounds in cases:

        def centroids():
            got = kmeans_parallel_centroids(emb, k, rounds=rounds).collect()
            return sorted((r["cent_id"], tuple(r["cv"])) for r in got)

        local = centroids()
        with monkeypatch.context() as mp:
            mp.setattr(_local, "LOCAL_CAP", 0)
            distributed = centroids()
        assert len(local) == k
        assert local == distributed


def test_image_dhash_collides_only_on_same_gradient(spark):
    """dHash must collide for identical images, survive a uniform
    brightness shift (gradient signs unchanged -- the perceptual point),
    and separate an image whose gradient flips."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_dhash_dedup,
    )

    base = np.zeros((8, 9, 3), dtype=np.uint8)
    base[:, :, :] = (np.arange(9) * 10)[None, :, None]  # rising rows
    brighter = np.clip(base + 40, 0, 255).astype(np.uint8)  # same gradients
    flipped = base[:, ::-1, :].copy()                        # falling rows
    df = spark.createDataFrame(
        [
            (0, "image", bytearray(encode_bmp(base))),
            (1, "image", bytearray(encode_bmp(base))),
            (2, "image", bytearray(encode_bmp(brighter))),
            (3, "image", bytearray(encode_bmp(flipped))),
        ],
        "doc_id long, media_type string, payload binary",
    )
    hashes = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    # 64 one-bits packed into a signed BIGINT = two's complement -1;
    # 64 zero-bits = 0 (the packed form of the old '1'*64 / '0'*64 strings)
    assert hashes[0] == hashes[1] == hashes[2] == -1
    assert hashes[3] == 0
    groups = [
        (r.n_images, r.keeper_id) for r in image_dhash_dedup(df).collect()
    ]
    assert groups == [(3, 0)]


def test_image_near_dup_hamming_banded(spark):
    """The banded-hamming matcher must pair an image with its one-bit
    perturbation (hamming 1), keep exact copies at hamming 0, and NOT pair
    the gradient-flipped image (hamming 64, no shared band)."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_bmp,
        image_near_dup_hamming,
    )

    base = np.zeros((8, 9, 3), dtype=np.uint8)
    base[:, :, :] = (np.arange(9) * 10)[None, :, None]
    onebit = base.copy()
    onebit[0, 0, :] = 90  # first pixel above its right neighbor: bit 0 flips
    flipped = base[:, ::-1, :].copy()
    df = spark.createDataFrame(
        [
            (0, "image", bytearray(encode_bmp(base))),
            (1, "image", bytearray(encode_bmp(base))),
            (2, "image", bytearray(encode_bmp(onebit))),
            (3, "image", bytearray(encode_bmp(flipped))),
        ],
        "doc_id long, media_type string, payload binary",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_hamming(df, max_hamming=3).collect()
    }
    assert got == {(0, 1): 0, (0, 2): 1, (1, 2): 1}


def test_shot_keyframes_segments_on_cut(spark):
    """Keyframe selection must split shots at the detected cut and pick
    each shot's middle frame: [z, z, bright] -> shot 0 = frames 0-1
    (keyframe 0), shot 1 = frame 2 (keyframe 2)."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_y4m,
        shot_keyframes,
    )

    z = np.zeros((4, 8), dtype=np.uint8)
    bright = np.full((4, 8), 200, dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, "video", bytearray(encode_y4m([z, z, bright])))],
        "doc_id long, media_type string, payload binary",
    )
    got = sorted(
        (r.shot_idx, r.start_frame, r.end_frame, r.keyframe_idx)
        for r in shot_keyframes(df, threshold=64.0).collect()
    )
    assert got == [(0, 0, 1, 0), (1, 2, 2, 2)]


def test_skipgram_pairs_hand_computed(spark):
    """Pinned window semantics: 'a b c' with window 2 yields exactly the
    pairs (a,b) (a,c) (b,a) (b,c) (c,a) (c,b); a repeated token counts
    multiplicities."""
    from aws_glue_etl_sample_hist_spark.operators.text import skipgram_pairs

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "x x")], "doc_id long, text string"
    )
    got = {
        (r.center, r.context): r.n_pairs
        for r in skipgram_pairs(docs, window=2).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 1,
        ("b", "a"): 1, ("b", "c"): 1,
        ("c", "a"): 1, ("c", "b"): 1,
        ("x", "x"): 2,
    }


def test_target_encode_loo_excludes_own_row(spark):
    """LOO must exclude the row's own target (no label leakage), the
    smoothed value must sit between category and global means, and a
    singleton category gets NULL LOO."""
    from aws_glue_etl_sample_hist_spark.operators.analytics import target_encode

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 100.0)],
        "id long, cat string, y double",
    )
    got = {r.id: (r.te_encoded, r.te_loo) for r in target_encode(df, "cat", "y", m=2.0).collect()}
    # cat a: S=60 n=3 g=40 -> encoded (60+80)/5=28; loo row1 (60-10)/2=25
    assert got[1] == (28.0, 25.0)
    assert got[2] == (28.0, 20.0)
    assert got[3] == (28.0, 15.0)
    # cat b singleton: encoded (100+80)/3=60; loo NULL
    assert got[4] == (60.0, None)


def test_video_frame_hash_dedup_overlap_threshold(spark):
    """Frame-hash overlap must count DISTINCT shared hashes against the
    threshold: an exact re-upload matches, a video sharing only one frame
    does not, and the stop-frame guard kills a hash present in every
    video."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        encode_y4m,
        video_frame_hash_dedup,
    )

    rng = np.random.default_rng(5)
    f1, f2, f3 = (rng.integers(0, 256, (4, 8)).astype(np.uint8) for _ in range(3))
    black = np.zeros((4, 8), dtype=np.uint8)  # the ubiquitous stop frame
    other = rng.integers(0, 256, (2, 4, 8)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (0, "video", bytearray(encode_y4m([f1, f2, f3, black]))),
            (1, "video", bytearray(encode_y4m([f1, f2, f3, black]))),   # re-upload
            (2, "video", bytearray(encode_y4m([f1, other[0], other[1], black]))),
        ],
        "doc_id long, media_type string, payload binary",
    )
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in video_frame_hash_dedup(df, min_shared=2, max_df=2).collect()
    }
    # black AND f1 appear in all 3 videos -> df=3 > max_df=2 -> both
    # dropped by the stop-frame guard; 0-1 still share f2,f3 (2 distinct,
    # meets min_shared=2); 0-2 and 1-2 share nothing surviving the guard
    assert got == {(0, 1): 2}


def test_topk_recall_counts_hits(spark):
    """recall@k accounting: hits = |approx ∩ exact| per query, floor
    compared against the ROUNDED ratio; a query with recall exactly at
    the floor passes."""
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        topk_recall,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: both right; q2: one right, one wrong
        [(1, 10), (1, 11), (2, 21), (2, 99)],
        "query_id long, neighbor_id long",
    )
    got = {
        r.query_id: (r.k, r.exact_side_full, r.recall_ok, r.recall)
        for r in topk_recall(approx, exact, k=2, floor=0.5).collect()
    }
    # the measured recall value rides along so PERF curves are
    # reproducible from the operator (contract rows drop it pre-hash)
    assert got == {1: (2, True, True, 1.0), 2: (2, True, True, 0.5)}
    strict = {
        r.query_id: r.recall_ok
        for r in topk_recall(approx, exact, k=2, floor=0.6).collect()
    }
    assert strict == {1: True, 2: False}


def test_pq_rerank_beats_adc_rank(spark):
    """The shortlist-rerank contract: with a shortlist covering the whole
    corpus, pq_rerank_topk must return EXACTLY the brute-force top-k
    (rerank math is exact cosine), regardless of ADC distortion."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        cosine_topk,
        pq_rerank_topk,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=64)], 0) for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, [0, 1], k=5).collect()
    }
    rer = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_rerank_topk(emb, [0, 1], k=5, shortlist=39).collect()
    }
    assert rer == exact


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: Jaccard is tiny
    (union dominated by the long side) but containment(short in long) is
    1.0 -- and the direction matters (long in short stays far below
    threshold)."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    long = filler + " " + short + " " + " ".join(f"z{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.container_id): r.containment
        for r in containment_pairs(docs, threshold=0.8, max_df=100).collect()
    }
    assert got.get((1, 2)) == 1.0       # short contained in long
    assert (2, 1) not in got            # NOT vice versa
    assert (3, 2) not in got and (2, 3) not in got
    jac = ngram_jaccard_pairs(docs, threshold=0.2).collect()
    assert not any(
        {r.doc_a, r.doc_b} == {1, 2} for r in jac
    )  # symmetric jaccard misses the pair at its own default threshold


def test_context_pack_capacity_and_determinism(spark):
    """Every bin's token sum must respect the context length (docs under
    C), capacity is the closed form, and truncated docs sit alone."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        context_pack,
    )

    rows = [(i, 10 + (i * 37) % 600) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = context_pack(df, context_len=512, bucket_width=32).collect()
    bins: dict[tuple[int, int], list] = {}
    for r in packed:
        bins.setdefault((r.lbucket, r.bin), []).append(r)
    for (lb, _), members in bins.items():
        total = sum(m.n_tokens for m in members)
        if any(m.truncated for m in members):
            assert len(members) == 1  # truncated docs pack alone
        else:
            assert total <= 512, (lb, total)
    # deterministic: same input -> identical assignment
    again = context_pack(df, context_len=512, bucket_width=32).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, again))


def test_pca_moments_guard_empty_and_single(spark):
    """ADVICE r6: foreachBatch can hand an empty micro-batch on checkpoint
    replay -- pca_moments must fail LOUDLY (not TypeError on first()[0]),
    and pca_from_moments must reject n<=1 instead of dividing by zero."""
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        pca_from_moments,
        pca_moments,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="no rows"):
        pca_moments(empty)
    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    n, s, ss = pca_moments(one)
    with _pytest.raises(ValueError, match="n >= 2"):
        pca_from_moments(n, s, ss, k=1)


def test_dsir_gumbel_draw_never_hits_log_zero(spark):
    """ADVICE r6: doc_id 999286 hashes to 999999 under the 'dsir' salt --
    the +1/MOD draw gave u = 1.0 exactly, making -log(-log(u)) NULL in
    Spark (doc silently sorts last) while DuckDB RAISES. The +0.5 draw
    must give this doc a finite score like everyone else."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.sampling import dsir_select

    pool = spark.createDataFrame(
        [
            (999286, "alpha beta gamma delta"),
            (1, "alpha beta epsilon zeta"),
            (2, "unrelated words entirely here"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = dsir_select(pool, target, k=3).collect()
    assert len(rows) == 3
    by_id = {r.doc_id: r for r in rows}
    assert 999286 in by_id
    for r in rows:
        assert r.score is not None and math.isfinite(r.score), r


def test_psi_drift_flags_planted_shift(spark):
    """PSI must be ~0 for a group drawn from the reference distribution
    and exceed the 0.2 alert threshold for a clearly shifted one."""
    rows = []
    # reference + clone: values spread over buckets 0..7
    for i in range(400):
        rows.append((i, "ref", (i % 8) * 256))
        rows.append((1000 + i, "same", (i % 8) * 256))
        rows.append((2000 + i, "shifted", 2048 + (i % 8) * 256))  # buckets 8..15
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    from aws_glue_etl_sample_hist_spark.operators.audit import psi_drift

    got = {
        r.source: (r.psi, r.drifted)
        for r in psi_drift(df, reference="ref").collect()
    }
    assert set(got) == {"same", "shifted"}
    assert abs(got["same"][0]) < 1e-9 and got["same"][1] is False
    assert got["shifted"][0] > 0.2 and got["shifted"][1] is True


def test_count_min_never_underestimates_and_merges(spark):
    """CMS guarantees: estimates never undercount (collisions only add),
    exact for keys with no collisions in some row, and the sketch of a
    union equals the merged (re-summed) sketches -- the mergeability that
    makes it a 100 TB sketch."""
    from aws_glue_etl_sample_hist_spark.operators.frequency import (
        count_min_estimates,
    )

    rows = [(f"tok{i % 7}",) for i in range(700)]  # 7 keys x 100 each
    items = spark.createDataFrame(rows, "item string")
    q = spark.createDataFrame([(f"tok{i}",) for i in range(7)], "item string")
    est = {r.item: r.est_n for r in count_min_estimates(items, q).collect()}
    assert set(est) == {f"tok{i}" for i in range(7)}
    for k, v in est.items():
        assert v >= 100, (k, v)  # never under
    # width 1024, 7 keys, 4 rows: overwhelmingly likely some row is
    # collision-free per key -> exact
    assert all(v == 100 for v in est.values()), est
    # mergeability: sketch(A ∪ B) == sketch(A) + sketch(B), so estimates
    # from the doubled corpus are exactly doubled
    doubled = items.unionAll(items)
    est2 = {r.item: r.est_n for r in count_min_estimates(doubled, q).collect()}
    assert est2 == {k: 2 * v for k, v in est.items()}


def test_unigram_estep_matches_pure_python(spark):
    """The distributed E-step's expected counts and log-likelihood must
    equal a direct enumeration of ALL segmentations of each word (the
    ground-truth lattice sum) on a fixture small enough to enumerate."""
    import itertools
    import math

    from aws_glue_etl_sample_hist_spark.operators.unigram import (
        _estep_counts,
    )

    words = spark.createDataFrame(
        [("abab", 2), ("ab", 3), ("ba", 1)], "word string, freq long"
    )
    logp = {
        "a": math.log(0.3),
        "b": math.log(0.3),
        "ab": math.log(0.4),
    }

    def enumerate_word(word):
        # all segmentations into pieces from logp
        n = len(word)
        segs = []
        def rec(i, cur):
            if i == n:
                segs.append(list(cur))
                return
            for j in range(i + 1, n + 1):
                p = word[i:j]
                if p in logp:
                    cur.append(p)
                    rec(j, cur)
                    cur.pop()
        rec(0, [])
        z = 0.0
        exp = {}
        for s in segs:
            w = math.exp(sum(logp[p] for p in s))
            z += w
            for p in s:
                exp[p] = exp.get(p, 0.0) + w
        return math.log(z), {p: v / z for p, v in exp.items()}

    want_counts: dict[str, float] = {}
    want_ll = 0.0
    for word, freq in [("abab", 2), ("ab", 3), ("ba", 1)]:
        ll, exp = enumerate_word(word)
        want_ll += freq * ll
        for p, v in exp.items():
            want_counts[p] = want_counts.get(p, 0.0) + freq * v

    got_counts, got_ll = _estep_counts(words, logp, 2)
    assert abs(got_ll - want_ll) < 1e-9
    assert set(got_counts) == set(want_counts)
    for p in want_counts:
        assert abs(got_counts[p] - want_counts[p]) < 1e-9, p


def test_unigram_train_and_viterbi_encode(spark):
    """End-to-end: trained vocab respects the size cap and keeps all
    chars; Viterbi encode picks the max-probability segmentation (a
    frequent whole word becomes ONE piece) and is deterministic."""
    from aws_glue_etl_sample_hist_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    docs = spark.createDataFrame(
        [(i, "hello world " * 5 + "rare") for i in range(4)],
        "doc_id long, text string",
    )
    vocab, diag = unigram_train(docs, vocab_size=20, seed_size=64, em_iters=2)
    assert diag["n_chars"] <= len(vocab) <= 20
    pieces = dict(vocab)
    assert all(
        b[i] <= b[i + 1] + 1e-6
        for b in diag["ll_blocks"]
        for i in range(len(b) - 1)
    )
    enc = {r.doc_id: r for r in unigram_encode(docs, vocab).collect()}
    # 'hello' and 'world' are dominant: if they survived pruning as whole
    # pieces, each encodes as ONE piece
    if "hello" in pieces and "world" in pieces:
        assert enc[0].pieces_preview.startswith("hello world")
    again = {r.doc_id: r for r in unigram_encode(docs, vocab).collect()}
    assert {k: tuple(v) for k, v in enc.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_kn_perplexity_backoff_and_verdict(spark):
    """KN smoothing sanity: evaluation bigrams with UNSEEN w1 take pure
    continuation probability (no crash, finite ppl), and on a corpus
    whose eval half re-uses the train distribution, KN's held-out
    perplexity beats add-one (which wastes mass on the huge unseen
    grid)."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.text import (
        kn_bigram_perplexity,
    )

    # doc_ids chosen so the md5 split puts ~80% in train deterministically;
    # identical text everywhere -> eval distribution == train distribution
    rows = [
        (i, "en", "the cat sat on the mat and the cat ran") for i in range(40)
    ]
    # one eval-only doc with a novel first word ('zebra' never in train)
    rows.append((10_001, "en", "zebra the cat sat"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = kn_bigram_perplexity(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_eval_bigrams > 0
    assert math.isfinite(r.ppl_kn) and math.isfinite(r.ppl_laplace)
    assert r.ppl_kn > 0
    assert bool(r.kn_beats_laplace) == (r.ppl_kn < r.ppl_laplace)
    assert r.ppl_kn < r.ppl_laplace  # KN wins on the repeated-text corpus


def test_balanced_sample_exact_caps(spark):
    """Exact-count semantics: strata over the cap return exactly cap
    rows (deterministic md5 order), strata under it return all rows."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        balanced_sample,
    )

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = balanced_sample(df, cap=10).collect()
    by = {}
    for r in got:
        by.setdefault(r.lang, []).append(r)
    assert len(by["big"]) == 10 and len(by["small"]) == 3
    assert sorted(r.sample_rank for r in by["big"]) == list(range(1, 11))
    again = balanced_sample(df, cap=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_incremental_cc_merges_and_relabels(spark):
    """Contraction-identity edge cases: a new node BRIDGING two old
    components must merge them; a new node with a SMALLER id than an old
    cluster's label must become the new label for every old member
    (re-expansion through the remapped label); untouched old clusters
    keep their labels."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    old_nodes = spark.createDataFrame(
        [(10,), (11,), (20,), (21,), (30,)], "doc_id long"
    )
    old_pairs = spark.createDataFrame(
        [(10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    old_labels = connected_components(old_nodes, old_pairs)
    assert {(r.doc_id, r.cluster_id) for r in old_labels.collect()} == {
        (10, 10), (11, 10), (20, 20), (21, 20), (30, 30),
    }
    # new batch: 100 bridges the two clusters; 1 attaches to cluster 20
    # with a SMALLER id than every old member
    new_nodes = spark.createDataFrame([(100,), (1,)], "doc_id long")
    new_pairs = spark.createDataFrame(
        [(10, 100), (100, 21), (1, 20)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_incremental(
            old_labels, new_nodes, new_pairs
        ).collect()
    }
    # everything touching the bridge collapses to min id 1; 30 untouched
    assert got == {
        (10, 1), (11, 1), (20, 1), (21, 1), (100, 1), (1, 1), (30, 30),
    }


def test_survival_km_hand_computed(spark):
    """KM against a hand-computed fixture: censored customers leave risk
    sets without adding hazard; survival is the running product of
    (1 - d/n) at event times only."""
    from datetime import date

    from aws_glue_etl_sample_hist_spark.operators.analytics import (
        survival_km,
    )

    # horizon = 2020-12-31. Customers (first, last):
    #   A: lifetime 10, last 2020-01-11 -> churned
    #   B: lifetime 10, last 2020-12-20 -> censored (within 90d of horizon)
    #   C: lifetime 30, last 2020-01-31 -> churned
    #   D: lifetime 50, last 2020-12-31 -> censored
    rows = [
        (1, date(2020, 1, 1)), (1, date(2020, 1, 11)),
        (2, date(2020, 12, 10)), (2, date(2020, 12, 20)),
        (3, date(2020, 1, 1)), (3, date(2020, 1, 31)),
        (4, date(2020, 11, 11)), (4, date(2020, 12, 31)),
    ]
    orders = spark.createDataFrame(rows, "o_custkey long, o_orderdate date")
    got = {
        r.t_days: (r.n_risk, r.n_events, r.survival)
        for r in survival_km(orders, censor_days=90).collect()
    }
    # event times: t=10 (A churns; B censored at same t), t=30 (C)
    # t=10: n_risk=4 (all lifetimes >= 10), d=1 -> S = 0.75
    # t=30: n_risk=2 (C, D), d=1 -> S = 0.75 * 0.5 = 0.375
    assert got == {10: (4, 1, 0.75), 30: (2, 1, 0.375)}


def test_label_propagation_finds_planted_communities(spark):
    """LPA on a two-cluster graph with a weak bridge: heavy within-cluster
    weights dominate, so each cluster converges to its own min label and
    the bridge does not merge them."""
    from aws_glue_etl_sample_hist_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [
            # cluster A: 1-2-3 heavily connected
            (1, 2, 10.0), (2, 3, 10.0), (1, 3, 10.0),
            # cluster B: 4-5-6 heavily connected
            (4, 5, 10.0), (5, 6, 10.0), (4, 6, 10.0),
            # weak bridge
            (3, 4, 0.1),
        ],
        "src long, dst long, weight double",
    )
    got = {
        r.node: r.label for r in label_propagation(edges, n_iter=3).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6] == 4


def test_mg_merge_preserves_superset_guarantee(spark):
    """Mergeable-summaries property: merging per-chunk MG summaries keeps
    every phi-heavy key, even when the heavy key's occurrences are spread
    adversarially across chunks."""
    from aws_glue_etl_sample_hist_spark.operators.frequency import (
        merge_mg_summary,
        misra_gries_partials,
    )

    # 1000 rows: key 7 occurs 200x (20%), spread across 4 chunks; the
    # rest is long-tail noise
    rows = []
    for c in range(4):
        rows += [(7,)] * 50 + [(1000 * c + i,) for i in range(200)]
    k = 20  # 2 / 0.1
    state: dict[int, int] = {}
    for c in range(4):
        chunk = spark.createDataFrame(rows[c * 250 : (c + 1) * 250], "user_id long")
        partials = misra_gries_partials(chunk, "user_id", k).collect()
        state = merge_mg_summary(
            state, [(r.user_id, r.cnt) for r in partials], k
        )
    assert len(state) <= k
    assert 7 in state  # the 20% key survives every merge+compress


def test_lsh_pair_recall_buckets_and_counts(spark):
    """Empirical S-curve accounting: identical docs land in the 0.8-1.0
    bucket with recall 1.0 (every band matches); a pair just above the
    Jaccard threshold is counted as a true pair whether or not the band
    join surfaces it, and n_candidates <= n_true_pairs per bucket."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        lsh_pair_recall,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, base),
        (1, base),  # identical to 0 -> jaccard 1.0, all bands equal
        (2, base + " extra1 extra2 extra3 extra4 extra5 extra6"),
        (3, "totally different words nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.j_bucket: (r.n_true_pairs, r.n_candidates, r.recall)
        for r in lsh_pair_recall(docs, threshold=0.2).collect()
    }
    # pair (0,1): jaccard 1.0 -> top bucket, necessarily a candidate
    assert got["0.8-1.0"] == (1, 1, 1.0)
    # pair (0,2)/(1,2): 6 shared of 18 union 3-gram shingles -> ~0.2-0.4
    # bucket; LSH may or may not surface them, but accounting must hold
    for n_true, n_cand, recall in got.values():
        assert 0 <= n_cand <= n_true
        assert recall == round(n_cand / n_true, 4)
    assert sum(v[0] for v in got.values()) >= 3


def test_unigram_local_and_distributed_estep_agree(spark, monkeypatch):
    """unigram_train's adaptive E-step dispatch: the driver-local fast
    path (type table under the bounded threshold) and the distributed
    Arrow path share _word_lattice_into, so vocab, probs, and the
    LL-witness blocks must agree to float noise."""
    from aws_glue_etl_sample_hist_spark.operators import _local
    from aws_glue_etl_sample_hist_spark.operators.unigram import (
        unigram_train,
    )

    docs = spark.createDataFrame(
        [(i, "abab abba baba bbbb aaaa abab" if i % 2 else "abba baab")
         for i in range(6)],
        "doc_id long, text string",
    )
    v_loc, d_loc = unigram_train(docs, vocab_size=8, seed_size=16)
    monkeypatch.setattr(_local, "LOCAL_CAP", 0)
    v_dist, d_dist = unigram_train(docs, vocab_size=8, seed_size=16)
    assert [p for p, _ in v_loc] == [p for p, _ in v_dist]
    assert all(
        abs(a - b) < 1e-9 for (_, a), (_, b) in zip(v_loc, v_dist)
    )
    assert all(
        abs(a - b) < 1e-6
        for ba, bb in zip(d_loc["ll_blocks"], d_dist["ll_blocks"])
        for a, b in zip(ba, bb)
    )


def test_roc_auc_hand_computed_with_ties(spark):
    """AUC by hand: scores (0.1-, 0.2-, 0.3+, 0.3-, 0.4+) -> pairwise
    wins (2 + 0.5 tie + 3)/6 = 5.5/6; U = 5.5, avg-rank machinery must
    reproduce it through the tie at 0.3."""
    from aws_glue_etl_sample_hist_spark.operators.analytics import roc_auc

    df = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.3, 1), (0.3, 0), (0.4, 1)],
        "score double, label int",
    )
    r = roc_auc(df).collect()[0]
    assert (r.n_pos, r.n_neg) == (2, 3)
    assert r.u == 5.5
    assert r.auc == round(5.5 / 6, 6)


def test_cohen_kappa_bounds(spark):
    """kappa = 0 at chance agreement (independent 50/50 raters), 1 at
    perfect agreement."""
    from aws_glue_etl_sample_hist_spark.operators.analytics import (
        cohen_kappa,
    )

    chance = spark.createDataFrame(
        [(True, True), (True, False), (False, True), (False, False)],
        "a boolean, b boolean",
    )
    r = cohen_kappa(chance, "a", "b").collect()[0]
    assert (r.po, r.pe, r.kappa) == (0.5, 0.5, 0.0)
    perfect = spark.createDataFrame(
        [(True, True), (False, False), (True, True), (False, False)],
        "a boolean, b boolean",
    )
    assert cohen_kappa(perfect, "a", "b").collect()[0].kappa == 1.0


def test_calibration_bins_top_edge_closed(spark):
    """score = 1.0 joins the last bin (not a phantom bin 10); per-bin
    brier is the mean squared gap."""
    from aws_glue_etl_sample_hist_spark.operators.analytics import (
        calibration_bins,
    )

    df = spark.createDataFrame(
        [(1.0, 1), (0.95, 0), (0.05, 0), (0.05, 1)],
        "score double, label int",
    )
    got = {r.bin: r for r in calibration_bins(df).collect()}
    assert set(got) == {0, 9}
    assert got[9].n_docs == 2 and got[9].lo == 0.9
    assert got[0].frac_pos == 0.5
    assert got[0].brier == round((0.05**2 + 0.95**2) / 2, 6)


def test_normal_polynomial_matches_erfc(spark):
    """The Abramowitz-Stegun two-sided p polynomial tracks the exact
    2*(1-Phi(|z|)) = erfc(|z|/sqrt(2)) within its documented 7.5e-8."""
    import math

    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.analytics import (
        _phi_upper_2sided,
    )

    zs = [0.0, 0.5, 1.0, 1.96, 2.5, -1.3, 3.2]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        round(r.z, 2): r.p
        for r in df.select("z", _phi_upper_2sided(F.col("z")).alias("p")).collect()
    }
    for z in zs:
        exact = math.erfc(abs(z) / math.sqrt(2.0))
        assert abs(got[round(z, 2)] - exact) < 2e-7, (z, got[round(z, 2)], exact)


def test_mmr_rerank_prefers_diversity(spark):
    """MMR fixture: three candidates where #2 is nearly identical to #1
    and #3 is orthogonal with slightly lower relevance -- greedy must
    pick 1 then 3 (the redundancy penalty beats #2's higher relevance),
    then 2. First pick's score is lam * rel (empty-set penalty 0)."""
    from aws_glue_etl_sample_hist_spark.operators.ranking import mmr_rerank

    cand = spark.createDataFrame(
        [(1, 10.0), (2, 9.0), (3, 6.0)], "doc_id long, score double"
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.0447]),  # cos(1,2) ~ 0.999
            (3, [0.0, 1.0]),       # cos(1,3) = 0, cos(2,3) ~ 0.045
        ],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r.doc_id, r.mmr_rank, r.mmr_score)
        for r in mmr_rerank(cand, emb, k=3, lam=0.5).collect()
    ]
    got.sort(key=lambda x: x[1])
    assert [g[0] for g in got] == [1, 3, 2]
    assert got[0][2] == 0.5  # lam * rel(1) = 0.5 * 1.0
    # pick 2: rel 0.6 orthogonal beats rel 0.9 with 0.999 redundancy
    assert got[1][2] == round(0.5 * 0.6 - 0.5 * 0.0, 6)


def test_dp_noisy_counts_shape(spark):
    """Laplace DP release: noise is bounded by the inverse CDF of the
    md5 uniform (|noise| = b * |ln(1 - 2|u-.5|)| with u in (0,1)), the
    true count rides along for auditing, and noise is deterministic per
    group (same group -> same noise across calls)."""
    from aws_glue_etl_sample_hist_spark.operators.audit import (
        dp_noisy_counts,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(30)], "id long, g string"
    )
    one = {r.g: r for r in dp_noisy_counts(df, "g", epsilon=2.0).collect()}
    two = {r.g: r for r in dp_noisy_counts(df, "g", epsilon=2.0).collect()}
    assert one["a"].n_true == 20 and one["b"].n_true == 10
    for g in ("a", "b"):
        assert one[g].noise_b == 0.5
        assert one[g].n_noisy == two[g].n_noisy  # deterministic draw
        assert one[g].n_noisy != one[g].n_true  # noise actually applied


def test_conformal_threshold_order_statistic(spark):
    """Split conformal: q_hat is the ceil((n+1)(1-alpha))/n order
    statistic of CALIBRATION positives' nonconformity; negatives never
    enter. With alpha=0.1 and n_cal calibration rows the rank clamps to
    n_cal when ceil((n+1)*0.9) exceeds it."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.audit import (
        conformal_threshold,
    )

    rows = [(i, 1.0 - i / 100.0, 1 if i < 40 else 0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, score double, label int")
    r = conformal_threshold(df, alpha=0.1).collect()[0]
    assert r.rank == min(math.ceil((r.n_cal + 1) * 0.9), r.n_cal)
    assert r.n_cal + r.n_eval_pos == 40  # only positives, both splits
    assert 0.0 <= r.q_hat <= 1.0 and abs(r.threshold - (1 - r.q_hat)) < 1e-9
    assert r.n_covered <= r.n_eval_pos


def test_lsh_pair_recall_sample_frac_restricts_both_sides(spark):
    """The scale path: sample_frac restricts truth AND candidates to the
    same md5 doc sample, so the accounting invariants hold on the
    subpopulation and true-pair counts can only shrink."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        lsh_pair_recall,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, base) for i in range(12)], "doc_id long, text string"
    )
    full = {r.j_bucket: r for r in lsh_pair_recall(docs, threshold=0.2).collect()}
    samp = {
        r.j_bucket: r
        for r in lsh_pair_recall(docs, threshold=0.2, sample_frac=0.5).collect()
    }
    assert full["0.8-1.0"].n_true_pairs == 66  # C(12,2) identical docs
    assert 0 < samp["0.8-1.0"].n_true_pairs < 66
    for r in samp.values():
        assert 0 <= r.n_candidates <= r.n_true_pairs
        assert r.recall == round(r.n_candidates / r.n_true_pairs, 4)


def test_kn_doc_perplexity_buckets_rank_semantics(spark):
    """CCNet bucketing: per-language NTILE by perplexity rank -- more
    repetitive/predictable docs (trained bigrams) land in the head,
    out-of-distribution word salad in the tail; a single-token doc is
    scored through its degenerate one-shingle collapse (word_shingles'
    documented behavior); every language's bucket sizes differ by at
    most 1 (NTILE invariant)."""
    from aws_glue_etl_sample_hist_spark.operators.text import (
        kn_doc_perplexity_buckets,
    )

    rows = []
    for i in range(9):  # ids 0..8 hash mostly into the 80% train split
        rows.append((i, "en", "the cat sat on the mat and the cat sat"))
    rows.append((20, "en", "zqx wvu tpo nml kji hgf"))  # OOV word salad
    rows.append((21, "en", "one"))  # single token -> dropped
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in kn_doc_perplexity_buckets(docs).collect()}
    assert got[21].n_bigrams == 1  # degenerate one-shingle collapse
    assert got[20].bucket_label == "tail"  # OOV doc is the least fluent
    sizes = {}
    for r in got.values():
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_temperature_mixture_flattens_shares(spark):
    """T=1 reproduces natural proportions; higher T moves the derived
    shares toward uniform -- the scarce stratum's q_share strictly rises
    with T while the dominant one's falls."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big" if i < 90 else "small", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")

    def shares(t):
        out = temperature_mixture_sample(df, 5_000, temperature=t)
        return {r.lang: r.q_share for r in out.select("lang", "q_share").distinct().collect()}

    s1, s4 = shares(1.0), shares(4.0)
    assert abs(s1["big"] - 0.9) < 1e-6 and abs(s1["small"] - 0.1) < 1e-6
    assert s4["small"] > s1["small"] and s4["big"] < s1["big"]
    assert abs(s4["small"] + s4["big"] - 1.0) < 1e-5


def test_lsh_pair_precision_accounting(spark):
    """Precision accounting: identical docs share ALL bands and are true
    pairs (precision 1.0 in the top stratum); per stratum n_true <=
    n_candidates and precision = n_true/n_candidates."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        lsh_pair_precision,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, "unrelated words entirely here okay")],
        "doc_id long, text string",
    )
    got = {r.n_shared_bands: r for r in lsh_pair_precision(docs).collect()}
    assert got[4].n_candidates == 1 and got[4].precision == 1.0
    for r in got.values():
        assert 0 <= r.n_true <= r.n_candidates
        assert r.precision == round(r.n_true / r.n_candidates, 4)


def test_mmr_rerank_string_ids(spark):
    """ADVICE r8: the output schema must carry the candidates' actual id
    type -- string doc ids went through a hardcoded 'long' and crashed
    createDataFrame. Same fixture as the diversity test, string-keyed."""
    from aws_glue_etl_sample_hist_spark.operators.ranking import mmr_rerank

    cand = spark.createDataFrame(
        [("d1", 10.0), ("d2", 9.0), ("d3", 6.0)], "doc_id string, score double"
    )
    emb = spark.createDataFrame(
        [
            ("d1", [1.0, 0.0]),
            ("d2", [0.999, 0.0447]),
            ("d3", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    out = mmr_rerank(cand, emb, k=3, lam=0.5)
    assert dict(out.dtypes)["doc_id"] == "string"
    got = sorted(
        ((r.doc_id, r.mmr_rank) for r in out.collect()), key=lambda x: x[1]
    )
    assert [g[0] for g in got] == ["d1", "d3", "d2"]


def test_conformal_threshold_zero_calibration_positives(spark):
    """ADVICE r8: zero positives in the calibration split must raise a
    named ValueError, not an opaque float(None) TypeError."""
    import pytest

    from aws_glue_etl_sample_hist_spark.operators.audit import (
        conformal_threshold,
    )

    # all labels 0 -> positives empty -> calibration split empty
    rows = [(i, 0.5, 0) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, score double, label int")
    with pytest.raises(ValueError, match="zero positive"):
        conformal_threshold(df, alpha=0.1)


def test_cluster_best_keeper_longest_then_smallest_id(spark):
    """Keep-longest canonicalization: within a near-dup cluster the keeper
    is the member with the most tokens, ties to the smallest doc_id;
    singletons keep themselves. The fixture makes doc 2 (longer) beat
    doc 1 (cluster min id) -- the case where the min-id rule and the
    content rule disagree."""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        cluster_best_keeper,
    )

    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, base),                      # cluster {1,2}: near-dups
            (2, base + " eta theta"),       # longer -> keeper despite id 2
            (7, "totally different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.cluster_id: r for r in cluster_best_keeper(docs).collect()}
    c = rows[1]  # cluster labeled by min member id
    assert c.keeper_doc_id == 2 and c.n_members == 2 and c.n_dropped == 1
    assert c.keeper_n_tokens == 8
    s = rows[7]
    assert s.keeper_doc_id == 7 and s.n_members == 1 and s.n_dropped == 0

    # tie on length -> smallest id wins
    docs2 = spark.createDataFrame(
        [(5, base), (3, base)], "doc_id long, text string"
    )
    r = cluster_best_keeper(docs2).collect()[0]
    assert r.keeper_doc_id == 3


def test_kcenter_coreset_farthest_point_trajectory(spark):
    """Greedy k-center on a planted geometry: candidates along two
    orthogonal directions plus their mix. Start = min id (0); center 2
    must be the farthest candidate from 0 (the orthogonal one), center 3
    the one maximizing min-distance to both. Coverage: every vector
    assigned exactly once, radii are 6-dp max distances."""
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        kcenter_coreset,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.95, 0.05, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal to 0 -> picked 2nd
        (3, [0.5, 0.5, 0.0]),     # between -> never a center at k=3
        (4, [0.0, 0.0, 1.0]),     # orthogonal to both -> picked 3rd
        (5, [0.1, 0.0, 0.9]),     # near 4
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {
        r.center_rank: r
        for r in kcenter_coreset(emb, k=3, n_candidates=6).collect()
    }
    assert out[1].center_id == 0
    assert out[2].center_id in (2, 4)  # both are distance ~1.0 from 0
    # ties at 6 dp break to the smaller id
    assert out[2].center_id == 2
    assert out[3].center_id == 4
    assert sum(r.n_assigned for r in out.values()) == len(rows)
    for r in out.values():
        assert 0.0 <= r.radius <= 2.0 and r.mean_dist <= r.radius


def test_epoch_budget_plan_waterfills_exactly(spark):
    """Waterfilling invariants on a hand-built corpus: capped sources sit
    exactly at their cap, uncapped sources share one lambda, and the
    planned token total equals the budget (feasible case). Gopher keep
    rates are engineered via stopword presence: 'clean' docs pass all
    rules, 'junk' docs fail the stopword rule."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        epoch_budget_plan,
    )

    clean = ("the quick brown fox and the lazy dog were that " * 8).strip()
    junk = ("zxqv wkjh qpzm vbnm xswd " * 12).strip()
    rows = []
    did = 0
    for _ in range(10):  # src_clean: keep_rate 1 -> cap 4
        rows.append((did, clean, "en", "src_clean")); did += 1
    for _ in range(10):  # src_junk: keep_rate 0 -> cap 1
        rows.append((did, junk, "en", "src_junk")); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.source: r for r in epoch_budget_plan(docs, 2.0).collect()}
    cl, jk = out["src_clean"], out["src_junk"]
    assert cl.epoch_cap == 4.0 and jk.epoch_cap == 1.0
    assert jk.capped and jk.epochs == 1.0  # junk pinned to 1 epoch
    assert not cl.capped and cl.epochs > 1.0  # clean absorbs the slack
    assert cl.budget_feasible and jk.budget_feasible
    total = cl.n_tokens + jk.n_tokens
    planned = cl.planned_tokens + jk.planned_tokens
    assert abs(planned - 2.0 * total) < 1.0  # budget exhausted (6-dp rounding)

    # infeasible: budget beyond the fully-capped maximum
    out2 = {r.source: r for r in epoch_budget_plan(docs, 10.0).collect()}
    assert not out2["src_clean"].budget_feasible
    assert out2["src_clean"].epochs == out2["src_clean"].epoch_cap
    assert out2["src_junk"].epochs == out2["src_junk"].epoch_cap


def test_winnow_fingerprints_guarantee_and_density(spark):
    """Winnowing's paper guarantee: two documents sharing a token run of
    >= w + k - 1 tokens share at least one selected fingerprint; density
    is near 2/(w+1); a doc shorter than w grams still yields exactly one
    fingerprint (the truncated-window rule)."""
    from aws_glue_etl_sample_hist_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = "one two three four five six seven eight"  # 8 tokens >= w+k-1=6
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " delta epsilon"),
            (2, "omega psi " + shared + " chi phi upsilon tau"),
            (3, "xx yy"),  # 1 gram (collapsed shingle) < w
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnow_fingerprints(docs, k=3, w=4).collect()}
    assert out[3].n_fp == 1 and out[3].n_grams == 1

    # fingerprint-set overlap must be nonempty for docs 1 and 2: recompute
    # the selected sets via the operator's own key arithmetic by running
    # it on the isolated shared run and checking checksum consistency is
    # weaker than set intersection, so compare actual fingerprint hashes
    # through a second run at doc granularity
    from pyspark.sql import functions as F
    from aws_glue_etl_sample_hist_spark.operators.text import (
        tokens,
        word_shingles,
    )

    # derive each doc's selected hash set with a tiny local replay
    def fp_set(text):
        df = spark.createDataFrame([(9, text)], "doc_id long, text string")
        g = df.select(
            F.posexplode(word_shingles(tokens(F.col("text")), 3)).alias(
                "p", "g"
            )
        ).select(
            (F.col("p") + 1).alias("pos"),
            (
                F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
                * (1 << 20)
                - (F.col("p") + 1)
            ).alias("key"),
        )
        rows = sorted((r.pos, r.key) for r in g.collect())
        keys = [k for _, k in rows]
        n = len(keys)
        sel = set()
        w = 4
        for p in range(n):
            if p + 1 <= n - w + 1 or p == 0:
                win = keys[p : p + w]
                sel.add(min(win))
        return {k // (1 << 20) + 1 for k in sel}

    s1 = fp_set("alpha beta gamma " + shared + " delta epsilon")
    s2 = fp_set("omega psi " + shared + " chi phi upsilon tau")
    assert s1 & s2, "shared >= w+k-1 token run must share a fingerprint"
    # density ~ 2/(w+1) = 0.4: allow generous band on short docs
    assert 0.15 <= out[1].density <= 0.8


def test_winnow_overlap_pairs_partial_overlap_and_guard(spark):
    """Partial-overlap detection: two long documents sharing only one
    paragraph must pair (with n_shared >= min_shared when the run is
    long enough); unrelated docs must not; a fingerprint present in
    EVERY doc is dropped by the max_df guard."""
    from aws_glue_etl_sample_hist_spark.operators.text import (
        winnow_overlap_pairs,
    )

    shared = "the brown fox jumped over the lazy sleeping dog yesterday evening quietly"
    docs = spark.createDataFrame(
        [
            (1, "intro words here first " + shared + " closing remarks one"),
            (2, "other beginning text now " + shared + " different ending two"),
            (3, "completely unrelated content about databases and storage engines"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert any(p == (1, 2) for p in pairs), pairs
    assert all(3 not in p for p in pairs), pairs

    # guard: with max_df=1 every cross-doc fingerprint is hot -> no pairs
    assert (
        winnow_overlap_pairs(docs, min_shared=1, max_df=1).count() == 0
    )


def test_ab_sprt_monitor_decisions_and_llr(spark):
    """SPRT on a planted stream: conversion rate exactly 0.5 across
    waves. Against (p0=0.1, p1=0.5) the LLR must climb and accept H1;
    against (p0=0.5, p1=0.9) it must fall and accept H0; LLR at wave w
    equals the closed form on the cumulative counts."""
    import math

    from aws_glue_etl_sample_hist_spark.operators.analytics import (
        ab_sprt_monitor,
    )

    rows = []
    eid = 0
    for uid in range(60):
        conv = uid % 2 == 0  # rate 0.5 in every wave (uid%3 strata)
        rows.append((eid, uid, "purchase", 200.0 if conv else 10.0))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    out = ab_sprt_monitor(
        ev, configs=[("up", 0.1, 0.5), ("down", 0.5, 0.9)]
    ).collect()
    by = {(r.test, r.wave): r for r in out}
    last_up = by[("up", 2)]
    last_down = by[("down", 2)]
    assert last_up.decision == "accept_h1"
    assert last_down.decision == "accept_h0"
    # closed-form LLR check at the final wave (n=60, x=30)
    exp_up = round(30 * math.log(0.5 / 0.1) + 30 * math.log(0.5 / 0.9), 6)
    assert abs(last_up.llr - exp_up) < 1e-9
    assert last_up.n_cum == 60 and last_up.x_cum == 30
    # monotone trajectory: cumulative n increases with wave
    assert by[("up", 0)].n_cum < by[("up", 1)].n_cum < by[("up", 2)].n_cum


def test_cluster_best_keeper_tiebreak_is_type_agnostic(spark):
    """The keeper tie-break (min_by over a (-n_tokens, id) struct) must
    not negate the id column -- negation NULLs non-numeric types and
    makes ties nondeterministic. Exercised directly on the aggregation
    (the full operator requires numeric ids upstream: connected_
    components' convergence probe sums labels)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("c1", "dB", 5), ("c1", "dA", 5), ("c1", "dC", 3)],
        "cluster_id string, doc_id string, n_tokens int",
    )
    r = df.groupBy("cluster_id").agg(
        F.min_by(
            F.col("doc_id"),
            F.struct(
                (-F.col("n_tokens")).alias("_neglen"),
                F.col("doc_id").alias("_tie"),
            ),
        ).alias("keeper")
    ).collect()[0]
    assert r.keeper == "dA"  # longest wins, tie -> smallest string id


def test_kcore_peels_chains_keeps_dense_blobs(spark):
    """k=2 core on a planted graph: a 4-clique survives with degree 3
    each; a pendant chain hung off it peels away round by round; an
    isolated edge vanishes immediately. Direct pair input isolates the
    peeling from the Jaccard pair generation."""
    from aws_glue_etl_sample_hist_spark.operators.graph import kcore_members

    pairs = spark.createDataFrame(
        # 4-clique {1,2,3,4}
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         # chain 4-5-6 (5 and 6 peel: degree drops below 2 as the tail goes)
         (4, 5), (5, 6),
         # isolated edge 8-9
         (8, 9)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "doc_id long"
    )
    out = {r.doc_id: r.core_degree for r in kcore_members(nodes, pairs, k=2).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    # k=1 keeps every non-isolated node
    out1 = {r.doc_id for r in kcore_members(nodes, pairs, k=1).collect()}
    assert out1 == {1, 2, 3, 4, 5, 6, 8, 9}


def test_luhn_checksum_known_vectors(spark):
    """Luhn validity against published test numbers: 79927398713 (the
    ISO/IEC 7812 worked example) and 4111111111111111 (the canonical
    test Visa) pass; single-digit perturbations fail; non-digit or
    too-short input is NULL (never a false positive)."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.text import luhn_valid

    rows = [
        ("79927398713", True),
        ("79927398710", False),
        ("4111111111111111", True),
        ("4111111111111112", False),
        ("49927398716", True),
        ("1234567812345670", True),
        ("123a567", None),
        ("7", None),
        ("", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s string")
    got = {
        r.s: r.ok
        for r in df.select("s", luhn_valid(F.col("s")).alias("ok")).collect()
    }
    for s, want in rows:
        assert got[s] == want, (s, got[s], want)


def test_graph_local_dispatch_equals_distributed_exactly(spark, monkeypatch):
    """The adaptive driver-local dispatch (the connected-components pattern
    applied to the rank-propagation family) must return the SAME values as
    the distributed loop -- same 12/6-dp HALF_UP quantization, same tie
    rules, same n_rounds -- on graphs with dangling nodes, ties, and
    multi-component structure. Exact equality, not tolerance: the
    quantized recurrence is partitioning-invariant by construction, so a
    local twin is just one more evaluation order. A zero-row edge frame
    always fits the cap, so it always runs local and must come back as an
    empty frame with the distributed path's schema."""
    from aws_glue_etl_sample_hist_spark.operators import _local
    from aws_glue_etl_sample_hist_spark.operators.graph import (
        label_propagation,
        weighted_pagerank,
        weighted_pagerank_converged,
    )

    ops = (
        (weighted_pagerank, {"n_iter": 3}),
        (weighted_pagerank_converged, {"eps": 1e-9}),
        (weighted_pagerank_converged, {"eps": 1e-9, "check_every": 3}),
        (label_propagation, {"n_iter": 3}),
    )

    def run(edges, cap, op, kwargs):
        monkeypatch.setattr(_local, "LOCAL_CAP", cap)
        out = op(edges, **kwargs)
        return (
            [(f.name, f.dataType) for f in out.schema],
            sorted(tuple(r) for r in out.collect()),
        )

    graphs = [
        [("a", "b", 2.0), ("a", "c", 1.0), ("c", "b", 1.0), ("c", "d", 3.0)],
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "s", 4.0)],
        # tie-heavy: equal weights force the label/argmax tie rules
        [("a", "b", 1.0), ("b", "a", 1.0), ("c", "b", 1.0), ("x", "y", 5.0)],
    ]
    schema = "src string, dst string, weight double"
    dist_schemas = {}
    for edge_list in graphs:
        edges = spark.createDataFrame(edge_list, schema)
        for i, (op, kwargs) in enumerate(ops):
            dist_schema, dist = run(edges, 0, op, kwargs)
            _, local = run(edges, 100, op, kwargs)
            assert dist == local, (op.__name__, kwargs, dist, local)
            dist_schemas[i] = dist_schema
        # above the cap the distributed path must be taken and still agree
        assert run(edges, 2, *ops[0]) == run(edges, 0, *ops[0])
    empty = spark.createDataFrame([], schema)
    for i, (op, kwargs) in enumerate(ops):
        got_schema, got = run(empty, 0, op, kwargs)
        assert got == [], (op.__name__, kwargs, got)
        assert got_schema == dist_schemas[i], (op.__name__, got_schema)


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up must be bit-faithful to Spark's round() on doubles,
    including exact .5-at-scale boundaries where Python's banker's
    rounding differs (0.0000000000025 -> HALF_UP 0.000000000003)."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.graph import _round_half_up

    vals = [
        0.0000000000025,
        0.0000000000035,
        1.0 / 3.0,
        0.1 + 0.2,
        0.04,
        123.4567894999,
        2.5e-12,
        7.5e-7,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    for scale in (6, 12):
        got = [
            r[0]
            for r in df.select(F.round("x", scale)).collect()
        ]
        want = [_round_half_up(v, scale) for v in vals]
        assert got == want, (scale, list(zip(vals, got, want)))


def _catalyst_l2sq(a, b):
    """Squared L2 distance as the left-to-right Catalyst fold -- the
    in-plan reference the numpy kernel must reproduce."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _catalyst_pq_codes(emb, cb):
    """PQ encoding as literal-codebook Catalyst folds: per subspace the
    argmin squared-L2 code (first match on ties), recon_err the summed
    minimum distances, code_md5 over the comma-joined codes."""
    sub = len(cb[0][0])
    code_cols, err_cols = [], []
    for s, cb_s in enumerate(cb):
        cb_lit = F.array(*[F.array(*[F.lit(x) for x in code]) for code in cb_s])
        subvec = F.slice(F.col("embedding"), s * sub + 1, sub)
        dists = F.transform(cb_lit, lambda code: _catalyst_l2sq(subvec, code))
        best = F.array_min(dists)
        code_cols.append((F.array_position(dists, best) - 1).cast("long"))
        err_cols.append(best)
    total_err = err_cols[0]
    for e in err_cols[1:]:
        total_err = total_err + e
    return emb.select(
        "vec_id",
        F.array(*code_cols).alias("codes"),
        F.round(total_err, 6).alias("recon_err"),
        F.md5(F.concat_ws(",", *[c.cast("string") for c in code_cols])).alias(
            "code_md5"
        ),
    )


def _catalyst_adc(cb, qv, codes):
    """The ADC estimator as one literal-codebook Catalyst expression: the
    sum over subspaces of squared-L2(query sub-vector, codebook[code])."""
    sub = len(cb[0][0])
    adc = None
    for s, cb_s in enumerate(cb):
        cb_lit = F.array(*[F.array(*[F.lit(x) for x in code]) for code in cb_s])
        code_vec = F.element_at(cb_lit, (F.element_at(codes, s + 1) + 1).cast("int"))
        d = _catalyst_l2sq(F.slice(qv, s * sub + 1, sub), code_vec)
        adc = d if adc is None else adc + d
    return adc


def _adversarial_kernel_fixture(spark):
    """(emb, centroids) that stress summation order: 256-d vectors whose
    components run from 1e-8 to 1e8, half of them with two 1e8 terms that
    cancel around small ones, an all-zero vector, a vector equal to a
    centroid, and two centroids (c and 2c) whose cosines tie exactly with
    every vector (scaling by 2 is exact in IEEE). At this width numpy's
    matmul sums in another order than the fold on this fixture."""
    import random

    rng = random.Random(11)
    d = 256
    rows = []
    for i in range(24):
        if i % 2 == 0:
            v = [rng.uniform(-1, 1) for _ in range(d)]
            v[0], v[2] = 1e8 + i, -(1e8 + i)
        else:
            v = [
                rng.choice((-1.0, 1.0)) * 10.0 ** rng.randint(-8, 8) * rng.uniform(1, 2)
                for _ in range(d)
            ]
        rows.append((i, v))
    c0 = [rng.uniform(-1, 1) for _ in range(d)]
    c0[0] = c0[2] = 1e8
    c1 = [rng.uniform(-1, 1) for _ in range(d)]
    cents = [(0, c0), (1, c1), (2, [2.0 * x for x in c1]), (3, rows[5][1])]
    rows.append((24, [0.0] * d))
    rows.append((25, list(c0)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(cents, "cent_id long, cv array<double>")
    return emb, cent


def test_kernel_is_bit_identical_to_the_catalyst_fold(spark, sf_small):
    """The numpy kernel reproduces the Catalyst folds exactly (==, not
    approx) on sf_small and on an adversarial fixture: dot, norm,
    squared-L2 and cosine for every (vector, centroid) pair; ivf_assign's
    cell == the Catalyst argmax (max cosine, ties to the lowest cent_id);
    PQ codes, recon_err and code_md5 == the literal-codebook folds; raw
    ADC distances == the Catalyst ADC expression; and pq_adc_topk's ranks
    and distances == the Catalyst ADC top-k window."""
    from pyspark.sql.window import Window

    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.similarity import (
        _adc_scores,
        _fold_cosine,
        _fold_dot,
        _fold_sqdist,
        _fold_norm,
        _rows,
        cosine,
        dot,
        ivf_assign,
        norm,
        pq_adc_topk,
        pq_codebook,
        pq_codes,
        seeded_centroids,
    )

    real = load_table(spark, sf_small, "embeddings")
    cases = [(real, seeded_centroids(real, 32), 4, 16)]
    cases.append(_adversarial_kernel_fixture(spark) + (4, 4))
    for emb, cent, m, n_codes in cases:
        vecs = sorted(
            (r.vec_id, list(r.embedding))
            for r in emb.select("vec_id", "embedding").collect()
        )
        cents = sorted((r.cent_id, list(r.cv)) for r in cent.collect())
        V = _rows([v for _, v in vecs])
        C = _rows([c for _, c in cents])
        vi = {vid: i for i, (vid, _) in enumerate(vecs)}
        ci = {cid: j for j, (cid, _) in enumerate(cents)}
        kdot, kl2, kcos = _fold_dot(V, C), _fold_sqdist(V, C), _fold_cosine(V, C)
        knorm = _fold_norm(V)

        pairs = (
            emb.crossJoin(cent)
            .select(
                "vec_id",
                "cent_id",
                dot(F.col("embedding"), F.col("cv")).alias("dot"),
                norm(F.col("embedding")).alias("norm"),
                _catalyst_l2sq(F.col("embedding"), F.col("cv")).alias("l2"),
                cosine(F.col("embedding"), F.col("cv")).alias("cos"),
            )
            .collect()
        )
        assert len(pairs) == len(V) * len(C)
        bad = [
            r
            for r in pairs
            if (r.dot, r.norm, r.l2, r.cos)
            != (
                kdot[vi[r.vec_id], ci[r.cent_id]],
                knorm[vi[r.vec_id]],
                kl2[vi[r.vec_id], ci[r.cent_id]],
                kcos[vi[r.vec_id], ci[r.cent_id]],
            )
        ]
        assert not bad, bad[:3]

        catalyst_cell = {
            r.vec_id: r.cell
            for r in emb.crossJoin(F.broadcast(cent))
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "cent_id",
                    F.struct(
                        cosine(F.col("cv"), F.col("embedding")).alias("s"),
                        (-F.col("cent_id")).alias("nc"),
                    ),
                ).alias("cell")
            )
            .collect()
        }
        kernel_cell = {
            r.vec_id: r.cell for r in ivf_assign(emb, 0, centroids=cent).collect()
        }
        assert kernel_cell == catalyst_cell

        cb = pq_codebook(emb, m, n_codes)
        want = sorted(
            (r.vec_id, tuple(r.codes), r.recon_err, r.code_md5)
            for r in _catalyst_pq_codes(emb, cb).collect()
        )
        got = sorted(
            (r.vec_id, tuple(r.codes), r.recon_err, r.code_md5)
            for r in pq_codes(emb, m, n_codes, codebook=cb).collect()
        )
        assert got == want

        qids = [vecs[0][0], vecs[1][0], vecs[-1][0]]
        codes = pq_codes(emb, m, n_codes, codebook=cb)
        q = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        catalyst_adc = (
            q.crossJoin(codes.select(F.col("vec_id").alias("neighbor_id"), "codes"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _catalyst_adc(cb, F.col("qv"), F.col("codes")).alias("adc_raw"),
            )
        )
        kernel_adc = _adc_scores(codes, [(qid, V[vi[qid]]) for qid in qids], cb)
        assert sorted(kernel_adc.collect()) == sorted(catalyst_adc.collect())

        w = Window.partitionBy("query_id").orderBy("adc_raw", "neighbor_id")
        want_rank = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
            for r in catalyst_adc.select(
                "query_id",
                "neighbor_id",
                F.row_number().over(w).alias("rank"),
                F.round("adc_raw", 6).alias("adc_dist"),
            ).collect()
        )
        got_rank = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
            for r in pq_adc_topk(
                emb, qids, k=len(vecs), m=m, n_codes=n_codes
            ).collect()
        )
        assert got_rank == want_rank
