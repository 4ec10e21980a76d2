"""sf0.1 spot-oracle tier (VERDICT r6 item 3): every routine oracle
comparison runs at sf0.01, where many groups fit in ONE shuffle partition --
so an operator whose correctness depends on partitioning (gaps-and-islands
windows, banded joins, sessionization, iterative contraction) could pass
there yet break the moment a group spans partitions. This tier re-runs the
DuckDB comparison for the heavy partitioning-sensitive queries listed in
``HEAVY`` (41 rows) at 10x the rows, on the test session's ``local[8]`` with
8 shuffle partitions (``tests/conftest.py``), so per-group data genuinely
crosses partition boundaries.

The oracles hold to the test memory budget (``tests/memory_budget.py``).
``part_set_similarity_join``'s oracle is a brute-force token self-join that
outgrows its DuckDB share at sf0.1 and spills to a temporary directory.

Marked `sf01`: deselect with `-m "not sf01"` for a quick loop; the round
checklist runs it (`python -m pytest tests/test_oracle_sf01.py -q`).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_compare import compare, duckdb_connection

SF01 = "/root/testdata/sf0.1"

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# the partitioning-sensitive families: window/island logic, banded
# self-joins, stateful streaming drains, iterative graph contraction
HEAVY = [
    # cross-doc substring dedup: inverted index + two gaps-and-islands passes
    "corpus_substring_dedup",
    "corpus_substring_dedup_apply",
    "corpus_substring_dedup_keep_first",
    "corpus_substring_dedup_apply_keep_first",
    # text dedup family: shingle/banded equi-joins + connected components
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "text_token_dedup",
    # set-similarity join: prefix-filter blocking
    "part_set_similarity_join",
    # embedding banded joins (incl. the r7 ring-capped miner)
    "embedding_near_dup",
    "embedding_hard_negatives",
    "multimodal_image_near_dup",
    "multimodal_video_dedup",
    # sessionize / windows / islands over event time
    "events_sessionize",
    "events_session_window",
    "events_incident_windows",
    "events_user_state_scd2",
    "customer_running_total",
    # importance resampling: corpus-wide bucket totals + broadcast ratios
    "corpus_dsir_select",
    # r7 additions: asymmetric containment (inverted index), context
    # packing (per-bucket windows), incremental + streaming cluster
    # maintenance (contracted-graph merges vs full recompute)
    "dedup_containment",
    "corpus_context_pack",
    "dedup_clusters_incremental",
    "stream_dedup_clusters",
    # r8 additions: banded-candidate recall accounting (both join
    # families), global-rank statistics (AUC's value-grouped ranks,
    # conformal's order statistic) -- rank logic is exactly what shifts
    # when groups span partitions; MMR's greedy over a broadcast-bounded
    # candidate set rides the BM25 global top-20 cut
    "dedup_lsh_recall",
    "text_quality_auc",
    "quality_conformal",
    "retrieval_mmr",
    "events_ab_fdr",
    # r8-late: per-lang NTILE over KN perplexities (rank-sensitive),
    # banded-candidate precision strata, stream-maintained A/B state
    # folded across micro-batches
    "corpus_ccnet_buckets",
    "dedup_lsh_precision",
    "stream_events_ab",
    # r9 additions: percentile-cut bucketing (sketch merge across
    # partitions), sampled LSH audit (both pair families under the
    # sample), cluster canonicalization (max_by partial agg across
    # partitions), winnowing (per-doc sliding windows + inverted-index
    # pair join), streaming histogram state folded across batches
    "corpus_ccnet_buckets_cuts",
    "dedup_lsh_recall_sampled",
    "dedup_cluster_keeper",
    "text_winnow_fingerprints",
    "dedup_winnow_pairs",
    "stream_quality_quantiles",
    # r9-late: iterative peeling to fixpoint over the near-dup graph
    "dedup_kcore",
    # r10: keep-longest release composition (keeper agg + quality join
    # across partitions), winnowing recall audit (exact-truth 6-gram join
    # + fingerprint join, both inverted-index families)
    "corpus_release",
    "dedup_winnow_recall",
]


@pytest.fixture(scope="module")
def con01():
    c = duckdb_connection(SF01)
    yield c
    c.close()


def test_heavy_list_is_current():
    missing = [q for q in HEAVY if q not in QUERIES or q not in ORACLES]
    assert not missing, f"heavy-tier queries no longer registered/oracled: {missing}"


@pytest.mark.sf01
@pytest.mark.parametrize("name", HEAVY)
def test_heavy_query_matches_oracle_at_sf01(spark, con01, name):
    df = QUERIES[name](spark, SF01)
    report = compare(df, con01, ORACLES[name])
    assert report["rowcount_match"], report
    assert report["schema_match"], report
    assert report["values_match"], report["first_diff"]
