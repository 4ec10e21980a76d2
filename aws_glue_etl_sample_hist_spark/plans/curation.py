"""The curation DAG: the LLM-training-data analog of the medallion pipeline.

Where `plans/medallion.py` rebuilds the reference's retail tiers
(bronze -> silver -> gold, ref:scripts/stepfunction.json), this plan wires the
engine's corpus operators into the same materialized-tier architecture:

    C0 (parallel)  doc_stats   per-doc quality statistics, partitioned by lang
                   benchmark   the held-out eval docs (the decontamination list)
                   shingles    raw (doc_id, shingle) index -- C1's clustering
                               input, tokenized ONCE here (r15, guide §6)
    C1             cleaned     quality filter AND near-dup cluster keepers,
                               TEXT carried forward (the tier later stages scan)
    C2             released    C1 minus benchmark-contaminated docs (5-gram scrub)
    C3 (parallel)  training    released docs sharded for a training run
                               (deterministic shuffle shards, partitioned by shard)
                   manifest    per-(lang, source) doc/token accounting of the release

Every stage reads the PREVIOUS tier's parquet (not the in-memory frame), so
each tier is independently restartable and inspectable -- the property that
matters when C1 takes a day at 100 TB and C2 crashes. Stage internals are the
oracle-checked operators (`text_stats` composition, `dedup_clusters`,
`contamination_flags`, `shuffle_shards`); this plan pins their composition,
and the test asserts the materialized release equals the in-memory
composition exactly.

Scale notes: the only data-scale shuffles are the ones the operators already
own (shingle groupBys, the cluster-id exchange); every tier write is
column-pruned parquet with the lang/shard partition layout downstream
consumers prune on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..io.sinks import write_partitioned
from ..io.sources import read_tier
from .pipeline import Pipeline

BENCH_MAX_DOC_ID = 10  # doc_id < 10 stand in for the held-out eval set


def _doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries import q_text_stats

    return q_text_stats(spark, sf_dir)


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    n_shards: int = 8,
    quality_min: float = 0.5,
) -> dict[str, float]:
    """Run the full curation DAG; returns per-task wall seconds."""
    docs = load_table(spark, sf_dir, "documents")
    p = os.path.join

    def c0_doc_stats() -> None:
        write_partitioned(
            _doc_stats(spark, sf_dir), p(out_dir, "c0", "doc_stats"),
            partition_by=["lang"],
        )

    def c0_benchmark() -> None:
        write_partitioned(
            docs.filter(F.col("doc_id") < BENCH_MAX_DOC_ID),
            p(out_dir, "c0", "benchmark"),
        )

    def c0_shingles() -> None:
        # shingle index as a C0 SIDE ARTIFACT (r15, guide §6 -- VERDICT
        # r14 item 3): the (doc_id, shingle) pairs WITH the clustering
        # config's max_df=100 cut baked in (n=3 -- C1's pinned config),
        # written once so C1's clustering neither re-tokenizes the corpus
        # nor re-runs the df aggregate; the df work runs here, in parallel
        # with doc_stats. An artifact, not a cache: C1 reads it from
        # parquet like every other tier input, preserving per-tier
        # restartability; values are byte-identical to the inline path
        # (exact string/long columns; the max_df cut is idempotent, see
        # doc_shingles).
        from ..operators.dedup import doc_shingles

        write_partitioned(
            doc_shingles(docs, n=3, max_df=100),
            p(out_dir, "c0", "shingle_index"),
        )

    def c1_cleaned() -> None:
        from ..operators.dedup import cluster_best_keeper

        stats = read_tier(spark, p(out_dir, "c0", "doc_stats")).select(
            "doc_id", "quality_score", "n_tokens"
        )
        shingle_index = read_tier(spark, p(out_dir, "c0", "shingle_index"))
        # RefinedWeb-style canonicalization (r9 VERDICT item 7): each
        # near-dup cluster keeps its LONGEST member (ties to smallest id)
        # -- a content-aware keeper, not dedup_clusters' min-id accident.
        # Same clustering config (n=3, threshold 0.2, max_df=100); pinned
        # by the registered `corpus_release` row's exact oracle. The
        # shingle index (n=3, max_df=100 ALREADY applied by C0 -- hence
        # max_df=None here: re-counting df on the filtered index is the
        # identity, see doc_shingles) and the keeper's token counts come
        # from the C0 tier artifacts (r15): same expressions, tokenized
        # once in C0; the composed keeper set is identical by
        # construction and re-checked end-to-end by test_curation's
        # materialized-vs-in-memory equality.
        keepers = cluster_best_keeper(
            docs, n=3, threshold=0.2, max_df=None,
            shingles=shingle_index,
            token_counts=stats.select("doc_id", "n_tokens"),
        ).select(F.col("keeper_doc_id").alias("doc_id"), "cluster_id")
        cleaned = (
            docs.join(keepers, "doc_id")
            .join(stats.select("doc_id", "quality_score"), "doc_id")
            .filter(F.col("quality_score") >= quality_min)
            .filter(F.col("doc_id") >= BENCH_MAX_DOC_ID)  # eval set never trains
        )
        write_partitioned(cleaned, p(out_dir, "c1", "cleaned"), partition_by=["lang"])

    def c2_released() -> None:
        from ..operators.dedup import contamination_flags

        cleaned = read_tier(spark, p(out_dir, "c1", "cleaned"))
        bench = read_tier(spark, p(out_dir, "c0", "benchmark"))
        flags = contamination_flags(cleaned, bench, n=5).filter(
            F.col("is_contaminated") == 1
        ).select("doc_id")
        write_partitioned(
            cleaned.join(flags, "doc_id", "left_anti"),
            p(out_dir, "c2", "released"),
            partition_by=["lang"],
        )

    def c3_training() -> None:
        from ..operators.sampling import shuffle_shards

        released = read_tier(spark, p(out_dir, "c2", "released"))
        write_partitioned(
            shuffle_shards(released, n_shards),
            p(out_dir, "c3", "training"),
            partition_by=["shard"],
        )

    def c3_manifest() -> None:
        from ..operators.text import token_count

        released = read_tier(spark, p(out_dir, "c2", "released"))
        manifest = released.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
        write_partitioned(manifest, p(out_dir, "c3", "manifest"))

    pipe = (
        Pipeline()
        .add_stage(
            "c0",
            doc_stats=c0_doc_stats,
            benchmark=c0_benchmark,
            shingles=c0_shingles,
        )
        .add_stage("c1", cleaned=c1_cleaned)
        .add_stage("c2", released=c2_released)
        .add_stage("c3", training=c3_training, manifest=c3_manifest)
    )
    try:
        return pipe.run()
    finally:
        # c1's dedup and c2's decontamination tracked-persist band/shingle
        # frames; every tier write above is terminal, so drop them rather
        # than let a long-lived orchestrator session accumulate cache blocks
        from ..operators._cache import release_operator_caches

        release_operator_caches()
