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

A query decides everything it can reach before any distributed work starts:
the 1-row stats, each query term's df (the footer row count of its posting
partition) and the IVF centroids are read on the driver with pyarrow and
enter the plans as literals -- no stats cross join, no df shuffle, no idf
broadcast, no centroid collect. The lexical and vector branches are
independent, so their top-20 lists are collected concurrently from two
driver threads, and RRF fusion of the two <= 20-row lists runs on the
driver.

BM25 math matches operators.ranking.bm25_topk term for term, so the serve
answer over the persisted postings equals the in-plan operator over the
cleaned corpus -- which is what the pipeline test asserts.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..io.sinks import write_partitioned
from ..io.sources import footer_rows, read_small_tier, read_tier
from ..operators._local import arrow_local_frame
from ..operators.ann_index import build_ivf_index, build_pq_index, query_ivf_index
from ..operators.ranking import BM25_B, BM25_K1
from ..operators.text import token_count, tokens
from .pipeline import Pipeline

QUERY_TERMS = ["spark", "window", "merge"]
RRF_K = 60.0
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


# the characters Spark's partition writer escapes as %XX in a ``k=v``
# directory name (ExternalCatalogUtils.escapePathName): ASCII controls,
# DEL and "#%'*/:={[]^?\ -- tokens are whitespace-split, so a term can
# hold any of the printable ones
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def _term_dir(index_dir: str, term: str) -> str:
    """The postings partition directory Spark wrote for ``term``."""
    name = "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in term)
    return os.path.join(index_dir, "postings", f"term={name}")


def serve_bm25(
    spark: SparkSession, index_dir: str, terms: list[str], k: int = 20
) -> DataFrame:
    """BM25 top-k from the PERSISTED index only: posting partitions for the
    query terms (pruned scan) and the lengths table.

    The constants are read on the driver and start no Spark job: (n_docs,
    avgdl) from the 1-row stats tier, and each term's df as the footer row
    count of its posting partition -- posting rows are unique per (term,
    doc_id) by construction, so that count IS the df. They enter the plan
    as literals, and idf stays a Spark ``log`` over them (Python's
    ``math.log`` may differ in the last ulp), so scores equal
    ``bm25_topk``'s bit for bit. A term absent from the index has df 0 and
    no postings: it contributes nothing."""
    stats = read_small_tier(os.path.join(index_dir, "stats")).to_pylist()[0]
    n_docs, avgdl = F.lit(stats["n_docs"]), F.lit(stats["avgdl"])
    idf = F.lit(None).cast("double")
    for term in terms:
        df = F.lit(footer_rows(_term_dir(index_dir, term)))
        idf = F.when(
            F.col("term") == term,
            F.log(F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))),
        ).otherwise(idf)
    postings = read_tier(spark, os.path.join(index_dir, "postings")).filter(
        F.col("term").isin(terms)
    )
    dl = read_tier(spark, os.path.join(index_dir, "lengths"))
    scored = (
        postings.join(dl, "doc_id")
        .withColumn(
            "contrib",
            idf
            * F.col("tf")
            * (BM25_K1 + 1.0)
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
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


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its shortest
    decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def rrf_score(lex_rank: int | None, sem_rank: int | None) -> float:
    """Reciprocal-rank fusion score of one id from its rank in each list
    (None where it is missing): the Catalyst
    ``round(coalesce(1/(60+l), 0) + coalesce(1/(60+s), 0), 6)`` to the bit
    -- the same IEEE ops in the same order, then ``_round6``."""

    def part(rank: int | None) -> float:
        return 0.0 if rank is None else 1.0 / (RRF_K + rank)

    return _round6(part(lex_rank) + part(sem_rank))


def rrf_fuse(lex_ids: list[int], sem_ids: list[int]) -> list[tuple[int, float]]:
    """Fuse two ranked id lists (best first): (id, ``rrf_score``) for
    every id in either, by score desc, id asc."""
    lex = {d: r for r, d in enumerate(lex_ids, 1)}
    sem = {d: r for r, d in enumerate(sem_ids, 1)}
    fused = {d: rrf_score(lex.get(d), sem.get(d)) for d in lex.keys() | sem.keys()}
    return sorted(fused.items(), key=lambda t: (-t[1], t[0]))


def serve_hybrid(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    query_vec: tuple[int, list[float]],
    k: int = 10,
) -> DataFrame:
    """RRF fusion of persisted-postings BM25 and persisted-IVF cosine --
    the r2 serving path; every byte read is an index artifact.

    Each branch reads its constants on the driver, with no job, before
    its first job starts (stats and dfs; centroids). The two branches are
    independent, so their top-20 lists are collected at once from two
    driver threads; ``rrf_fuse`` then ranks the union on the driver, and
    the top-k comes back as a local frame (rank, doc_id, rrf_score): the
    query has run when this returns."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        lex = pool.submit(lambda: serve_bm25(spark, index_dir, terms, k=20).collect())
        sem = pool.submit(
            lambda: query_ivf_index(
                spark, os.path.join(index_dir, "ivf"), [query_vec], k=20, nprobe=8
            ).collect()
        )
        lex_ids = [r.doc_id for r in lex.result()]
        sem_ids = [r.neighbor_id for r in sorted(sem.result(), key=lambda r: r.rank)]
    top = rrf_fuse(lex_ids, sem_ids)[:k]
    return arrow_local_frame(
        spark,
        [(rank, d, score) for rank, (d, score) in enumerate(top, 1)],
        "rank long, doc_id long, rrf_score double",
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
