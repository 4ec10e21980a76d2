"""Retrieval-serving DAG: build every index AT REST, then answer queries
from the persisted artifacts alone -- the search-stack twin of the
medallion/curation pipelines.

    r0  cleaned        quality-filtered, exact-dedup-kept corpus (parquet)
    r1  (parallel)
        postings       inverted index (term, doc_id, tf), partitionBy(term)
        lengths        per-doc token counts + 1-row corpus stats
        ivf            cell-partitioned IVF vector index   (operators.ann_index)
        pq             codebook + codes PQ index           (operators.ann_index)
    r2  (parallel)
        serve          hybrid BM25+vector RRF top-k, READING ONLY r1 artifacts
        serve_mmr      MMR-diversified top-k over the hybrid top-20 (vectors
                       fetched from the IVF artifact) -- the RAG-context stage

The serving claims this layout buys at 100 TB:
  - a lexical query reads ONLY its terms' posting partitions
    (Hive-partition pruning on term=...), never the corpus text;
  - a vector probe reads ONLY its cells' files (same pruning on cell=...);
  - both index builds are one corpus pass each, restartable independently
    (stage barrier), and serving never touches raw documents.

BM25 math matches operators.ranking.bm25_topk term for term, so the serve
answer over the persisted postings equals the in-plan operator over the
cleaned corpus -- which is what the pipeline test asserts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..io.sinks import write_partitioned
from ..io.sources import read_tier
from ..operators.ann_index import build_ivf_index, build_pq_index, query_ivf_index
from ..operators.ranking import BM25_B, BM25_K1
from ..operators.text import token_count, tokens
from .pipeline import Pipeline

QUERY_TERMS = ["spark", "window", "merge"]
QUALITY_MIN_CHARS = 40


def _cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep one doc per exact-content group, drop sub-minimum docs."""
    from ..operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup(docs).select(F.col("keeper_doc_id").alias("doc_id"))
    return docs.join(keepers, "doc_id", "left_semi").filter(
        F.col("n_chars") >= QUALITY_MIN_CHARS
    )


def build_postings(cleaned: DataFrame, out_dir: str) -> None:
    """(term, doc_id, tf) partitioned by term -- a query scans only its
    terms' directories. At web scale terms would be bucketed into shards;
    the pruning contract is identical."""
    toks = cleaned.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    postings = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    write_partitioned(postings, os.path.join(out_dir, "postings"), partition_by=["term"])


def build_lengths(cleaned: DataFrame, out_dir: str) -> None:
    dl = cleaned.select(
        "doc_id", token_count(F.col("text")).cast("double").alias("dl")
    )
    write_partitioned(dl, os.path.join(out_dir, "lengths"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    write_partitioned(stats, os.path.join(out_dir, "stats"))


def serve_bm25(
    spark: SparkSession, index_dir: str, terms: list[str], k: int = 20
) -> DataFrame:
    """BM25 top-k from the PERSISTED index only: posting partitions for the
    query terms (pruned scan), the lengths table, and the 1-row stats."""
    postings = read_tier(spark, os.path.join(index_dir, "postings")).filter(
        F.col("term").isin(terms)
    )
    dl = read_tier(spark, os.path.join(index_dir, "lengths"))
    stats = read_tier(spark, os.path.join(index_dir, "stats"))
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "avgdl",
    )
    scored = (
        postings.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (BM25_K1 + 1.0)
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 4).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_terms_matched", "score")
    )


def serve_hybrid(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    query_vec: tuple[int, list[float]],
    k: int = 10,
) -> DataFrame:
    """RRF fusion of persisted-postings BM25 and persisted-IVF cosine --
    the r2 serving path; every byte read is an index artifact."""
    lex = serve_bm25(spark, index_dir, terms, k=20)
    w_lex = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )
    sem_r = query_ivf_index(
        spark, os.path.join(index_dir, "ivf"), [query_vec], k=20, nprobe=8
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    fused = lex_r.join(sem_r, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60.0 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60.0 + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "doc_id", "rrf_score")
    )


def serve_mmr(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    query_vec: tuple[int, list[float]],
    k: int = 10,
) -> DataFrame:
    """Diversified serving: MMR re-rank (operators.ranking.mmr_rerank)
    over the hybrid top-20, with candidate vectors fetched from the
    PERSISTED IVF artifact (vec at rest, semi-join by id) -- serving
    still never touches raw documents. The stage between retrieval and a
    RAG context window, run entirely from r1 artifacts."""
    from ..operators.ranking import mmr_rerank

    fused = serve_hybrid(spark, index_dir, terms, query_vec, k=20).select(
        "doc_id", F.col("rrf_score").alias("score")
    )
    vecs = read_tier(spark, os.path.join(index_dir, "ivf", "vectors")).select(
        "vec_id", "embedding"
    )
    return mmr_rerank(fused, vecs, k=k, lam=0.7)


def run_retrieval(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, float]:
    """Run the full DAG; returns per-task wall seconds ('stage.task')."""
    p = os.path.join

    def r0_cleaned() -> None:
        write_partitioned(_cleaned(spark, sf_dir), p(out_dir, "cleaned"))

    def _cleaned_from_disk() -> DataFrame:
        return read_tier(spark, p(out_dir, "cleaned"))

    def r1_postings() -> None:
        build_postings(_cleaned_from_disk(), out_dir)

    def r1_lengths() -> None:
        build_lengths(_cleaned_from_disk(), out_dir)

    def r1_ivf() -> None:
        emb = load_table(spark, sf_dir, "embeddings").join(
            _cleaned_from_disk().select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
        build_ivf_index(emb, p(out_dir, "ivf"), n_centroids=8)

    def r1_pq() -> None:
        emb = load_table(spark, sf_dir, "embeddings").join(
            _cleaned_from_disk().select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
        build_pq_index(emb, p(out_dir, "pq"))

    def r2_serve() -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
        qvec = (0, [float(x) for x in qrow.embedding])
        write_partitioned(
            serve_hybrid(spark, out_dir, QUERY_TERMS, qvec), p(out_dir, "serve")
        )

    def r2_serve_mmr() -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
        qvec = (0, [float(x) for x in qrow.embedding])
        write_partitioned(
            serve_mmr(spark, out_dir, QUERY_TERMS, qvec),
            p(out_dir, "serve_mmr"),
        )

    return (
        Pipeline()
        .add_stage("r0", cleaned=r0_cleaned)
        .add_stage(
            "r1", postings=r1_postings, lengths=r1_lengths, ivf=r1_ivf, pq=r1_pq
        )
        .add_stage("r2", serve=r2_serve, serve_mmr=r2_serve_mmr)
        .run()
    )
