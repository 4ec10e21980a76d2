"""Deduplication operators for LLM-data pipelines (north-star extension):
exact (hash group-by), n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes
------------------
- Exact dedup groups on md5(text), not the raw text: the shuffle moves 32-hex
  keys instead of documents, and the same group-by works when `text` is
  gigabytes per partition.
- Pairwise similarity NEVER materializes the n^2 pair space. Candidate pairs
  come from inverted-index joins (shared shingle / shared LSH band / shared
  SimHash band), each a plain shuffle join on a short key -- at 100 TB these
  are the only joins that fit.
- High-document-frequency shingles are dropped (``max_df``): a shingle
  occurring in half the corpus contributes ~n^2/8 candidate pairs on its own
  (the classic skew bomb) while carrying no dedup signal.
- All hashing is md5-derived => deterministic, seedless, and bit-identical
  in DuckDB, so every operator here ships with a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import _local
from ._cache import tracked_persist
from ._local import arrow_local_frame, fetch_bounded
from .text import tokens, word_shingles


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: content hash -> keeper (min id) + copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count(id_col).alias("n_copies"),
        )
    )


def doc_shingles(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Per-doc distinct (doc_id, shingle) pairs -- the shingle index,
    exposed as a tier ARTIFACT contract (r15, guide §6 -- VERDICT r14
    item 3): a pipeline stage may write this frame to parquet once and
    later stages feed it back through the ``shingles=`` parameter of
    ngram_jaccard_pairs / dedup_clusters / cluster_best_keeper, so the
    corpus is tokenized+shingled ONCE per pipeline instead of once per
    consuming stage. Values are byte-identical to the inline path by
    construction (same expressions, materialized through exact
    string/long parquet columns).

    ``max_df`` bakes the document-frequency cut INTO the artifact (the
    producing stage then owns the df aggregate too, in parallel with its
    sibling tasks). The cut is IDEMPOTENT -- dropping every row of an
    over-df shingle leaves the surviving shingles' df unchanged, so a
    consumer may pass the artifact with EITHER max_df=None (skip the
    re-count; the composed result is identical) or the original max_df
    (recomputes the same df values); any OTHER max_df would compose a
    different query. Consumers of a filtered artifact must use the same
    n/tokenizer the producer pinned -- the plan wiring states both."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col)), n))
        ).alias("shingle"),
    )
    if max_df is not None:
        sh = _distinct_shingles(
            docs, n, text_col, id_col, max_df, precomputed=sh
        )
    return sh


def _distinct_shingles(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_df: int | None,
    *,
    precomputed: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, shingle) pairs, distinct per doc, with high-DF shingles dropped.

    PRECONDITION (ADVICE r14): ``docs`` must carry one row per doc_id.
    The max_df document-frequency count below is a plain ``count`` --
    equal to count_distinct(doc_id) only because the explode over
    array_distinct emits each (doc_id, shingle) pair at most once PER
    INPUT ROW; a caller passing duplicate doc_id rows (e.g. an un-deduped
    union) would silently double-count df and shift the max_df cut.
    Every current caller passes a per-doc frame; keep it that way.

    ``precomputed`` (r15): a `doc_shingles`-contract frame -- RAW per-doc
    distinct (doc_id, shingle) pairs, pre-max_df -- typically read back
    from a tier artifact; the same uniqueness precondition applies (one
    row per (doc, shingle)), or the df counts silently shift."""
    sh = (
        precomputed
        if precomputed is not None
        else doc_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    )
    if max_df is not None:
        # the exploded base feeds BOTH the df-count aggregate and the
        # filter join; unpersisted it re-runs the tokenize+shingle+explode
        # pass twice (measured ~2x the whole shingle-build cost at sf0.1,
        # r12) -- persist once, released with the operator caches
        sh = tracked_persist(sh)
        # plain count == count_distinct here BY CONSTRUCTION: the explode
        # is over array_distinct, so (doc_id, shingle) rows are unique per
        # doc -- the distinct variant paid a second expand/merge aggregate
        # phase for nothing (r14, measured 0.74 -> 0.58 s on this agg)
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(F.broadcast(df_counts.filter(F.col("df") <= max_df).select("shingle")),
                    "shingle", "inner")
        )
    return sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Inverted-index plan: distinct (doc, shingle) -> self-join on shingle
    (candidate generation; only docs sharing >= 1 shingle ever pair) ->
    intersection counts -> join per-doc shingle counts -> Jaccard filter.

    ``shingles`` (r15): optional precomputed `doc_shingles`-contract frame
    (RAW pre-max_df per-doc distinct pairs, e.g. a tier artifact read back
    from parquet) -- skips the tokenize+shingle pass; max_df filtering and
    everything downstream run unchanged.
    """
    sh = tracked_persist(
        _distinct_shingles(
            docs, n, text_col, id_col, max_df, precomputed=shingles
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count("shingle").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


def _minhash_wide(
    docs: DataFrame,
    num_hashes: int,
    shingle_n: int,
    text_col: str,
    id_col: str,
    max_df: int | None,
) -> DataFrame:
    """doc_id + mh0..mh{k-1} columns in ONE hash aggregate.

    Kirsch-Mitzenmacher double hashing: ONE md5 per (doc, shingle), the
    num_hashes family derived arithmetically -- h_i(s) = x1 + i*(2*x2+1)
    with x1/x2 = two 32-bit words of md5(s); values stay < 2^38 so 64-bit
    arithmetic is exact in both engines (portable oracle). All k mins are
    aggregate columns of a single groupBy(doc): no k-times row explosion,
    one shuffle of docs-many narrow rows (map-side partial min), and the
    whole stage is codegen'd.
    """
    sh = _distinct_shingles(docs, shingle_n, text_col, id_col, max_df)
    return _minhash_from_shingles(sh, num_hashes)


def _minhash_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """The signature aggregate over an existing (doc_id, shingle) frame --
    split out so callers that also need the shingle sets (e.g. the
    incremental dedup's exact-Jaccard verify) compute shingling ONCE."""
    md = F.md5("shingle")
    x1 = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    x2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    w = sh.select("doc_id", x1.alias("x1"), (x2 * 2 + 1).alias("step"))
    return w.groupBy("doc_id").agg(
        *[F.min(F.col("x1") + i * F.col("step")).alias(f"mh{i}") for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signatures -> bands of ``band_size`` rows -> docs
    sharing any identical band become candidates. Returns (doc_a, doc_b,
    n_shared_bands). Probability a pair with true Jaccard j surfaces:
    1 - (1 - j^band_size)^(num_hashes/band_size)."""
    wide = _minhash_wide(docs, num_hashes, shingle_n, text_col, id_col, max_df)
    # band signatures straight from the wide row -- no second shuffle, no
    # collect_list: band b's signature is the comma-join of its hash slots
    n_bands = num_hashes // band_size
    band_sigs = F.array(
        *[
            F.concat_ws(",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)])
            for b in range(n_bands)
        ]
    )
    # persisted: the self-join's two sides do NOT share a physical subtree
    # (one side broadcasts, so Spark's ReusedExchange never fires), which
    # otherwise runs the whole scan->shingle->md5->12-min pipeline twice
    bands = tracked_persist(
        wide.select("doc_id", F.posexplode(band_sigs).alias("band", "band_sig"))
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_pair_recall(
    docs: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    sample_frac: float | None = None,
) -> DataFrame:
    """Measured recall of banded-MinHash candidate generation against the
    exact n-gram-Jaccard >= ``threshold`` truth, per Jaccard bucket --
    the EMPIRICAL S-curve beside the theoretical 1-(1-j^r)^b that every
    LSH band config quotes. The ANN paths carry recall@k contract rows;
    this is the same accounting for the dedup path: which true near-dup
    pairs does the band join actually surface, stratified by how similar
    they are (recall SHOULD be poor just above the threshold and ~1.0
    near jaccard 1.0 -- seeing that shape measured is the point).

    Output: (j_bucket, n_true_pairs, n_candidates, recall), one row per
    occupied 0.2-wide Jaccard bucket; both sides are deterministic md5
    arithmetic, so a SQL oracle recomputes recall EXACTLY. Scale shape:
    the exact side is the inverted-index Jaccard join (max_df-guarded),
    the candidate side the band equi-join -- the measurement costs one
    extra broadcast-sized join over the true-pair set, never all-pairs.
    NOTE the exact-TRUTH side is output-pair-bound by definition (the
    same ~n^2 growth as the ssjoin family on a scale-invariant-dup
    corpus, 43x per 10x measured at sf1 -- SCALING.md): this is a
    measurement harness, not a production path. At scale set
    ``sample_frac`` -- both sides restrict to the SAME deterministic md5
    document sample first, giving an unbiased recall estimate over
    sampled-doc pairs at sample_frac^2 of the pair cost."""
    if sample_frac is not None:
        from .sampling import hash_sample

        docs = hash_sample(docs, sample_frac, key_col=id_col, salt="lshrecall")
    exact = ngram_jaccard_pairs(
        docs,
        n=shingle_n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
    ).select("doc_a", "doc_b", "jaccard")
    cand = minhash_lsh_pairs(
        docs,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
    ).select("doc_a", "doc_b", F.lit(1).alias("_hit"))
    j = F.col("jaccard")
    bucket = (
        F.when(j < 0.4, "0.2-0.4")
        .when(j < 0.6, "0.4-0.6")
        .when(j < 0.8, "0.6-0.8")
        .otherwise("0.8-1.0")
    )
    return (
        exact.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(bucket.alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_candidates"),
            F.round(
                F.sum(F.coalesce("_hit", F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
    )


def lsh_pair_precision(
    docs: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    sample_frac: float | None = None,
) -> DataFrame:
    """Precision counterpart of lsh_pair_recall: of the candidate pairs
    the band join surfaces, how many are TRUE near-dups (exact Jaccard >=
    ``threshold``), stratified by n_shared_bands -- the confidence axis a
    100 TB dedup run tunes against, because every false candidate pays a
    full exact-verify downstream. More shared bands should mean higher
    precision (each extra agreeing band multiplies the collision odds of
    a dissimilar pair by ~(j^r)); seeing that measured tells you whether
    requiring >= 2 shared bands is a cheap precision win on YOUR corpus.

    Output: (n_shared_bands, n_candidates, n_true, precision); exact
    oracle (both sides deterministic md5 arithmetic). Same scale notes as
    lsh_pair_recall: the truth side is output-pair-bound -- measurement
    harness, sample via ``sample_frac`` at scale."""
    if sample_frac is not None:
        from .sampling import hash_sample

        docs = hash_sample(docs, sample_frac, key_col=id_col, salt="lshprec")
    truth = ngram_jaccard_pairs(
        docs,
        n=shingle_n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
    ).select("doc_a", "doc_b", F.lit(1).alias("_true"))
    cand = minhash_lsh_pairs(
        docs,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
    )
    return (
        cand.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("n_shared_bands")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce("_true", F.lit(0))).alias("n_true"),
            F.round(
                F.sum(F.coalesce("_true", F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("precision"),
        )
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ANY n-token
    shingle with an eval/benchmark set -- the train/test-leak scrub every
    LLM corpus needs before training.

    Scale shape: the benchmark's distinct shingles are tiny next to the
    corpus -> broadcast; the corpus side is scanned once, joined map-side,
    and aggregated on the high-cardinality doc key. The corpus never
    shuffles its text -- only (doc_id, matched-shingle) survivors move."""
    doc_sh = _distinct_shingles(docs, n, text_col, id_col, None)
    bench_sh = (
        _distinct_shingles(benchmark, n, text_col, id_col, None)
        .select("shingle")
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_shingles", F.lit(0)).alias(
                "n_contaminated_shingles"
            ),
            (F.coalesce("n_contaminated_shingles", F.lit(0)) > 0)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def contamination_flags_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`contamination_flags` with a Bloom-filter semi-join reduction: same
    exact output (false positives are removed by a verify join), different
    scale shape for LARGE benchmark sets.

    The base operator broadcasts the benchmark's distinct shingle STRINGS --
    fine for one eval suite, but a consortium-sized decontamination list can
    be many GB of strings. Here the broadcast side is the Bloom bitmap
    instead: the benchmark's shingles are hashed into ``num_hashes`` bit
    positions (xxhash64 with per-probe salts, mod ``num_bits``) and only the
    DISTINCT SET BITS ship to executors -- bounded by ``num_bits`` longs
    (~8 MB at 2^20) no matter how large the benchmark grows. Corpus shingles
    probe the bitmap map-side; a shingle survives only if ALL its probe bits
    are set (counted per probe index, so intra-shingle position collisions
    can't fake a hit). Survivors -- true hits plus the Bloom's false-positive
    sliver -- then verify against the real benchmark shingles in an ordinary
    shuffled join whose left side is already reduced by orders of magnitude;
    AQE picks the join strategy from the surviving sizes. The corpus text
    itself still never shuffles."""
    doc_sh = _distinct_shingles(docs, n, text_col, id_col, None)
    bench_sh = (
        _distinct_shingles(benchmark, n, text_col, id_col, None)
        .select("shingle")
        .distinct()
    )

    def probes(col: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.pmod(
                        F.xxhash64(F.concat(F.lit(f"bloom{i}:"), col)),
                        F.lit(num_bits),
                    ).alias("bit"),
                )
                for i in range(num_hashes)
            ]
        )

    bench_bits = (
        bench_sh.select(F.explode(probes(F.col("shingle"))).alias("p"))
        .select(F.col("p.bit").alias("bit"))
        .distinct()
    )
    candidates = (
        doc_sh.select("doc_id", "shingle", F.explode(probes(F.col("shingle"))).alias("p"))
        .select("doc_id", "shingle", F.col("p.i").alias("i"), F.col("p.bit").alias("bit"))
        .join(F.broadcast(bench_bits), "bit")
        .groupBy("doc_id", "shingle")
        .agg(F.count_distinct("i").alias("_k"))
        .filter(F.col("_k") == num_hashes)
        .select("doc_id", "shingle")
    )
    hits = (
        candidates.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_shingles", F.lit(0)).alias(
                "n_contaminated_shingles"
            ),
            (F.coalesce("n_contaminated_shingles", F.lit(0)) > 0)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def _cc_local_rows(
    seed_ids: list, edge_list: list[tuple]
) -> list[tuple]:
    """Driver-local twin of the distributed min-label propagation:
    union-find over the (already symmetrized) edge list, then every
    member of a component containing >= 1 seed node gets the MINIMUM
    seed id of its component. This is exactly the distributed loop's
    fixpoint -- labels start at the seed ids, flow along edges, and
    only shrink, so label(u) = min(component(u) /\\ seeds); nodes whose
    component holds no seed never receive a message and never appear.
    Shared by connected_components' adaptive dispatch (the unigram
    trainer's bounded-calibration pattern)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_list:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    min_seed: dict = {}
    for s in seed_ids:
        r = find(s)
        m = min_seed.get(r)
        if m is None or s < m:
            min_seed[r] = s
    members = set(seed_ids)
    for u, v in edge_list:
        members.add(u)
        members.add(v)
    out = []
    for u in members:
        lbl = min_seed.get(find(u))
        if lbl is not None:
            out.append((u, lbl))
    return out


# label-propagation round bound of the distributed CC loop: near-dup graphs
# converge in 2-4 rounds; a chain needs one round per hop plus one to see
# the fixpoint, so exhausting this raises instead of returning wrong labels
CC_MAX_ROUNDS = 50


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    *,
    node_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Min-label connected components over near-dup candidate pairs:
    (node, cluster_id) where cluster_id = smallest node id in the component.
    Singletons (no pairs) are their own cluster.

    Iterative label propagation -- each round every node takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter)
    rounds (near-dup graphs are shallow: dup clusters are cliques-ish, so
    2-4 rounds in practice). Each round is one shuffle join + one hash agg;
    intermediate labels are localCheckpoint'ed and the loop is driven by a
    changed-count action -- the standard Pregel-shaped DataFrame iteration.
    A graph whose diameter needs more than ``CC_MAX_ROUNDS`` rounds raises
    ``RuntimeError`` rather than return unconverged labels.

    Why checkpoint, not cache: with cache() round N's LOGICAL plan still
    embeds rounds 1..N-1, so every round re-pays analysis + codegen for the
    whole history -- measured as ~15 s of cold per-round plan compile in the
    sf0.1 curation pipeline (r3 VERDICT item 6). localCheckpoint truncates
    lineage to the materialized blocks; on a real cluster prefer a reliable
    `checkpoint()` dir if executor loss must be survivable mid-loop.

    Local dispatch: when the seed frame fits ``LOCAL_CAP`` rows and the
    symmetrized edges fit 8x that, the iterative loop's ~8 sub-second
    driver-coordinated Spark jobs are replaced by ONE bounded fetch per
    frame + a driver-local union-find (_cc_local_rows, provably the same
    fixpoint). That is the contracted-merge shape of incremental CC
    maintenance, where the loop's input is |clusters| + |batch| nodes by
    construction and job-scheduling overhead dominates the wall. Above the
    cap the distributed path runs unchanged."""
    a, b = pair_cols
    e1 = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges_plan = e1.union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    seeds = nodes.select(F.col(node_col).alias("node"))
    seed_pdf = fetch_bounded(seeds, _local.LOCAL_CAP, ids=("node",))
    if seed_pdf is None:
        edges = edges_plan.localCheckpoint(eager=True)
    else:
        # the persist shares the single pair-generation evaluation with the
        # distributed fallback; the local path never pays a checkpoint pass
        edges_c = edges_plan.persist()
        edge_pdf = fetch_bounded(
            edges_c, 8 * _local.LOCAL_CAP, ids=("src", "dst")
        )
        if edge_pdf is not None:
            rows = _cc_local_rows(
                seed_pdf["node"].tolist(),
                list(edge_pdf.itertuples(index=False, name=None)),
            )
            edges_c.unpersist()
            ntype = nodes.schema[node_col].dataType
            return arrow_local_frame(
                nodes.sparkSession,
                rows,
                T.StructType(
                    [
                        T.StructField(node_col, ntype),
                        T.StructField("cluster_id", ntype),
                    ]
                ),
            )
        edges = edges_c.localCheckpoint(eager=True)
        edges_c.unpersist()
    labels = seeds.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    # labels only ever decrease, so sum(label) strictly decreases iff any
    # label changed: convergence needs ONE aggregate action per round, not a
    # join-and-count against the previous labels
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(CC_MAX_ROUNDS):
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        # old checkpoint blocks are dropped by the ContextCleaner once the
        # previous frame's reference goes away -- no explicit unpersist hook
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in CC_MAX_ROUNDS="
            f"{CC_MAX_ROUNDS} label-propagation rounds (graph diameter too "
            "large for the distributed loop)"
        )
    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias("cluster_id")
    )


def dedup_clusters(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup resolution: n-gram Jaccard pairs -> connected components
    -> keeper flag (cluster representative = min doc_id). The output one
    would anti-join against the corpus to drop near-duplicates.

    CC takes connected_components' size-adaptive local dispatch (same
    fixpoint, dual-path agreement property-tested).

    ``max_df`` forwards to the candidate generation: at scale the composed
    path MUST set it, or one corpus-wide shingle turns candidate generation
    into the ~n^2/8 pair bomb the module docstring warns about.

    ``shingles`` (r15) forwards a precomputed `doc_shingles`-contract frame
    to the candidate generation (cross-stage tier-artifact reuse)."""
    pairs = ngram_jaccard_pairs(
        docs, n=n, threshold=threshold, text_col=text_col, id_col=id_col,
        max_df=max_df, shingles=shingles,
    )
    cc = connected_components(docs, pairs.select("doc_a", "doc_b"), node_col=id_col)
    return cc.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_keeper"),
    )


def simhash_fingerprints(
    docs: DataFrame,
    *,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash over the token multiset: each occurrence votes ±1 per bit of
    its md5-derived 32-bit hash; sign of the per-bit sum forms the
    fingerprint. Token frequency weighting falls out of keeping duplicates
    (no array_distinct)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hv"),
    )
    # One groupBy(doc_id) with `bits` aggregate columns instead of exploding
    # tokens x bits into (doc, bit) rows: no 32x row blow-up, a single
    # shuffle of docs-many narrow rows, and every sum is whole-stage
    # codegen'd. Per-bit vote sum v = 2*ones - n, so v >= 0 <=> 2*ones >= n.
    ones = [
        F.sum(F.shiftright("hv", b).bitwiseAND(F.lit(1))).alias(f"s{b}") for b in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    fp = sum(
        (
            F.when(F.col(f"s{b}") * 2 >= F.col("n"), F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Candidate generation uses the 4-band trick: with the fingerprint split
    into 4 byte bands, hamming <= 3 GUARANTEES at least one identical band
    (pigeonhole), so bands-then-exact-filter returns exactly the brute-force
    answer while never building the n^2 pair space. ``max_hamming`` above
    bits/n_bands - 1 would lose that completeness guarantee."""
    fp = simhash_fingerprints(docs, bits=bits, text_col=text_col, id_col=id_col)
    n_bands = 4
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_val", F.expr(f"shiftright(simhash, band * {band_bits})").bitwiseAND(F.lit(mask))
    )
    banded = tracked_persist(banded)  # self-join sides don't share a subtree
    # (one broadcasts): without this the whole fingerprint pipeline runs twice
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming")
    )


def incremental_minhash_dedup(
    existing: DataFrame,
    new: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Incremental dedup: flag each NEW document that near-duplicates the
    EXISTING corpus -- the production shape of crawl ingestion, where every
    batch must be checked against everything already kept without ever
    re-pairing the old corpus with itself.

    Plan: both sides get band signatures from the SAME seedless
    Kirsch-Mitzenmacher MinHash family (`_minhash_wide`), so at scale the
    existing side's bands are computed ONCE and persisted as the dedup
    index; a new batch only computes its own signatures and equi-joins the
    index on (band, band_sig) -- new x existing candidates only, never
    old x old. Candidates are then exact-verified by n-gram Jaccard
    restricted (left-semi) to candidate doc ids, and each new doc reports
    its best existing match (max Jaccard, ties to the lower id).

    Returns one row per new document:
    (doc_id, is_dup, best_match, jaccard)."""

    # shingle each side ONCE; signatures and the exact verify share the
    # frame (persisted: at real scale the existing side's shingles+bands
    # live as the on-disk dedup index, so recomputing them per stage is
    # exactly the waste this operator exists to avoid)
    sh_new_base = tracked_persist(_distinct_shingles(new, shingle_n, text_col, id_col, max_df))
    sh_old_base = tracked_persist(_distinct_shingles(existing, shingle_n, text_col, id_col, max_df))

    def _bands(sh: DataFrame, out_id: str) -> DataFrame:
        wide = _minhash_from_shingles(sh, num_hashes)
        n_bands = num_hashes // band_size
        band_sigs = F.array(
            *[
                F.concat_ws(
                    ",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                )
                for b in range(n_bands)
            ]
        )
        return wide.select(
            F.col("doc_id").alias(out_id), F.posexplode(band_sigs).alias("band", "band_sig")
        )

    # persisted (r14, guide §1.2): the candidate set feeds THREE plan
    # branches (the two semi-join restrictions and the verify join) that
    # share no physical subtree -- unpersisted, the minhash wide agg +
    # band equi-join + distinct re-ran once per consumer (the dominant
    # non-shingle cost of the whole operator)
    cand = tracked_persist(
        _bands(sh_new_base, "new_id")
        .join(_bands(sh_old_base, "old_id"), ["band", "band_sig"])
        .select("new_id", "old_id")
        .distinct()
    )
    sh_new = sh_new_base.select(F.col("doc_id").alias("new_id"), "shingle")
    sh_old = sh_old_base.select(F.col("doc_id").alias("old_id"), "shingle")
    # exact verify only touches candidate docs' shingle sets. No distinct
    # on the semi-join keys (r14): a left-semi probe is set-semantic
    # already, the distinct only added an exchange + aggregate per side.
    sh_new_c = sh_new.join(cand.select("new_id"), "new_id", "left_semi")
    sh_old_c = sh_old.join(cand.select("old_id"), "old_id", "left_semi")
    # candidate-FIRST intersection (r15, guide §2.3/§3.3): the old shape
    # joined the two restricted shingle sides on the shingle alone and
    # only intersected with the candidate PAIRS after the aggregate, so
    # the join enumerated sum-over-shingles(df_new * df_old) rows -- a
    # hot shingle (this operator's default is max_df=None) multiplies
    # freely, and none of it is bounded by the band join's output.
    # Attaching the pair list first bounds the intermediate at
    # |cand| x per-doc shingles by construction. Value-identical: same
    # shared-shingle count per pair, same pair set (exceptAll-checked
    # both ways at sf1: 0/0); measured 6.6 -> 4.2 s on the sf1 verify,
    # 35.1M -> 22.1M intermediate rows.
    inter = (
        cand.join(sh_new_c, "new_id")
        .join(sh_old_c, ["old_id", "shingle"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes from the candidate-RESTRICTED frames (r14): the semi-join keeps
    # every shingle row of a kept doc, so per-doc counts are identical --
    # but the aggregate is candidate-bounded instead of a full-corpus pass
    # (the standing side of a 100 TB index would otherwise re-aggregate
    # per batch)
    size_new = sh_new_c.groupBy("new_id").agg(F.count(F.lit(1)).alias("size_new"))
    size_old = sh_old_c.groupBy("old_id").agg(F.count(F.lit(1)).alias("size_old"))
    verified = (
        inter.join(size_new, "new_id")
        .join(size_old, "old_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_new") + F.col("size_old") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(F.col("jaccard").desc(), F.col("old_id").asc())
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", F.col("old_id").alias("best_match"), "jaccard")
    )
    return (
        new.select(F.col(id_col).alias("doc_id"))
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.col("best_match").isNotNull().alias("is_dup"),
            "best_match",
            "jaccard",
        )
    )


def prefix_filter_jaccard_join(
    records: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "id",
    text_col: str = "name",
    block: int = 1,
) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard >= threshold) over token SETS,
    with prefix-filter candidate generation (Chaudhuri et al. 2006 SSJoin /
    Xiao et al. 2008 PPJoin family) -- the exact complement to the
    probabilistic MinHash path above.

    Prefix filter: order each record's tokens by ascending global document
    frequency (rarest first, ties by token text); two sets with
    Jaccard >= t MUST share a token within each other's first
    ``|s| - ceil(t * |s|) + 1`` tokens, so candidate pairs come from an
    EQUI-join on prefix tokens only. At 100 TB this is the inverted-index
    shape: the join key is a single token, prefixes are built from a
    vocabulary-sized df frame broadcast back, and frequent tokens are
    SKIPPED by construction (they sort last, out of the prefix) -- the same
    skew bomb max_df defuses for shingles, here defused for free by the
    rarest-first ordering. Verification counts shared tokens with one more
    equi-join restricted to candidate ids.

    ``block=2`` joins on SORTED PAIRS of prefix tokens instead (prefix
    extended by one): a qualifying pair shares at least ``|s| -
    ceil(t*|s|)|`` + 2-long prefixes' two globally-rarest COMMON tokens
    (pigeonhole: each side has at most |s| - ceil(t*|s|) non-shared tokens,
    so of its p = |s| - ceil(t*|s|) + 2 prefix slots at least 2 hold the
    smallest common tokens -- both sides therefore emit the key (c1, c2)).
    Pair-key frequency is ~df^2/n, so this collapses the candidate blow-up
    on LOW-VOCABULARY record sets (attribute profiles, category strings)
    where every single token is frequent and the plain prefix join
    degenerates toward n^2/|V| -- the PartEnum-style trade (Arasu et al.
    2006): more keys per record (p choose 2), quadratically rarer each.
    Size-1 sets (no pair to emit) go through a single-token side channel
    together with every record small enough (sz <= 1/t) to partner one;
    those partners' prefixes provably cover their whole set, so the
    channel is complete at any threshold.

    Returns (id_a, id_b, n_inter, n_union, jaccard) with id_a < id_b.
    """
    if block not in (1, 2):
        raise ValueError(f"block must be 1 or 2, got {block}")

    # persist the exploded token frame (r14): it feeds sizes, dfreq AND both
    # sides of the verification join below -- unpersisted, the audit plan
    # re-ran the tokenize+explode scan subtree 8+ times (44 duplicate scans
    # in the registered part-profile row). Same shingle-persist rationale
    # as _distinct_shingles; released via release_operator_caches.
    toks = tracked_persist(
        records.select(
            F.col(id_col).alias("rid"),
            F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    sizes = toks.groupBy("rid").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(F.broadcast(dfreq), "tok")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("rid").orderBy(F.col("df").asc(), F.col("tok").asc())
            ),
        )
        .join(sizes, "rid")
        # prefix length |s| - ceil(t*|s|) + block
        .filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + block
        )
        .select("rid", "pos", "tok", "sz")
    )
    # ranked feeds the block=2 pair-key self-join (both sides) plus the
    # single-token side channel, and keyed feeds both sides of the candidate
    # self-join -- persist each so the df-rank window runs once (r14)
    ranked = tracked_persist(ranked)
    # every key row carries (m, p): how many common tokens the key itself
    # certifies (1 or 2) and the key's LAST token's rank in the record's
    # full frequency-sorted token list. The candidate join below uses them
    # for the PPJoin-style positional upper bound (Xiao et al. 2008): for
    # the CANONICAL key row of any qualifying pair -- the one built from
    # the pair's globally smallest common token(s), which the prefix
    # construction provably emits on both sides -- every other common
    # token sorts AFTER position p, so overlap <= m + (sz - p) holds per
    # side. Rows violating the bound can be dropped without losing a true
    # pair (the canonical row always survives); the bound is evaluated
    # through the SAME round(jaccard, 6) >= t compare as the final filter,
    # so boundary rounding cannot prune a pair the verify would keep.
    if block == 1:
        keyed = ranked.select(
            "rid", F.col("tok").alias("key"), "sz",
            F.lit(1).alias("m"), F.col("pos").alias("p"),
        )
    else:
        # per-record pair keys from the prefix: (p choose 2) rows, p <= ~5;
        # the "self-join" is per-rid and tiny, not a data-scale join
        pair_keys = (
            ranked.alias("x")
            .join(
                ranked.alias("y"),
                (F.col("x.rid") == F.col("y.rid")) & (F.col("x.pos") < F.col("y.pos")),
            )
            .select(
                F.col("x.rid").alias("rid"),
                # key on the token TEXTS sorted (not df rank), so both sides
                # of any candidate pair build the identical key string
                F.concat_ws(
                    "\x1f",
                    F.least(F.col("x.tok"), F.col("y.tok")),
                    F.greatest(F.col("x.tok"), F.col("y.tok")),
                ).alias("key"),
                F.col("x.sz").alias("sz"),
                F.lit(2).alias("m"),
                F.col("y.pos").alias("p"),
            )
        )
        # size-1 sets have no pair to emit. A size-1 record {x} can only
        # pair with sets of size <= 1/t that CONTAIN x, and for those
        # partner sizes the prefix covers the whole set (sz - ceil(t*sz) + 2
        # >= sz whenever t*sz <= 1), so indexing the partners' prefix
        # tokens as single-token keys is complete. Both the single and its
        # partner enter this channel (partner sz bound below), and the
        # shared length filter in `cand` prunes the rest.
        import math

        max_partner_sz = int(math.floor(1.0 / threshold))
        single_keys = (
            ranked.filter(F.col("sz") <= max_partner_sz)
            .select(
                "rid", F.concat_ws("\x1f", F.lit("1"), "tok").alias("key"),
                "sz", F.lit(1).alias("m"), F.col("pos").alias("p"),
            )
        )
        # the pair-key union is itself a self-join product -- persist it so
        # the candidate self-join's two sides don't build it twice (block=1's
        # keyed is a plain projection of the already-persisted ranked)
        keyed = tracked_persist(pair_keys.unionByName(single_keys))
    # positional upper bound on the pair's overlap, per side (see the key
    # construction comment): o <= m + (sz - p); prune when even that
    # overlap cannot reach the threshold under the output's own rounded
    # compare. Measured at sf0.1 (part profiles, t=0.6, block=2): 5.09M ->
    # far fewer distinct-input rows, which is what the verify join pays.
    _omax = F.least(
        F.col("a.m") + (F.col("a.sz") - F.col("a.p")),
        F.col("b.m") + (F.col("b.sz") - F.col("b.p")),
    )
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), "key")
        .filter(F.col("a.rid") < F.col("b.rid"))
        # length filter: Jaccard >= t requires t*max(|a|,|b|) <= min(|a|,|b|)
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .filter(
            F.round(
                _omax / (F.col("a.sz") + F.col("b.sz") - _omax), 6
            )
            >= F.lit(threshold)
        )
        .select(F.col("a.rid").alias("id_a"), F.col("b.rid").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(toks.alias("ta"), cand.id_a == F.col("ta.rid"))
        .join(
            toks.alias("tb"),
            (cand.id_b == F.col("tb.rid")) & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.withColumnRenamed("rid", "id_a").withColumnRenamed("sz", "sz_a")
    sz_b = sizes.withColumnRenamed("rid", "id_b").withColumnRenamed("sz", "sz_b")
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("n_union", (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("long"))
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            "n_union",
            "jaccard",
        )
    )


def substring_dedup_spans(
    docs: DataFrame,
    k: int = 8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
) -> DataFrame:
    """Cross-document EXACT substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", the
    suffix-array ExactSubstr stage): find, per document, the maximal token
    spans whose every ``k``-token window occurs at least twice in the
    corpus (in another document or at another position of the same one).
    These are the spans ExactSubstr would cut before training. Completes
    the dedup family: whole-doc (exact/MinHash/SimHash), paragraph
    (strip_boilerplate), within-doc tokens (token_dedup) -- and now
    repeated cross-doc substrings.

    Distributed shape (a scale-friendly equivalent of the paper's
    single-node suffix array): one map-only pass explodes each doc into
    (pos, md5(k-token shingle)) rows; a count agg finds shingles with >= 2
    occurrences corpus-wide; an equi-join marks the duplicated start
    positions; two gaps-and-islands window passes per doc merge
    consecutive duplicated starts into runs, then overlapping-or-adjacent
    runs into maximal token spans [span_start, span_end] (0-based,
    inclusive). Everything shuffles md5 hashes and integer positions --
    document text never shuffles; windows partition by doc (bounded-size
    partitions at any corpus scale). Choosing md5 over a raw-string key
    keeps shuffle rows fixed-width; md5 agreement is exact across engines
    and collisions are not a practical concern (the paper's own
    implementations hash too).

    Semantics note: a span reports positions covered by DUPLICATED
    k-windows, so two spans separated by a gap shorter than k merge (their
    token ranges overlap) -- the same maximal-match merging the
    suffix-array walk produces. Exact, not approximate, for token-aligned
    matches of length >= k.

    ``keep_first=True`` is the information-preserving variant: the
    CANONICAL occurrence of each duplicated window -- the minimum
    (doc_id, pos) -- is exempt from flagging, so exactly one copy of
    every duplicated passage survives the cut instead of none (dedup,
    not deletion). Costs one extra min-struct in the same count agg;
    shuffle shape unchanged.
    """
    toks = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= k)
    )
    sh = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(toks) - {k}),"
                f" i -> md5(concat_ws(char(31), slice(toks, i + 1, {k}))))"
            )
        ).alias("pos", "h"),
    )
    dup = (
        sh.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
                "_first"
            ),
        )
        .filter(F.col("n_occ") >= 2)
        .select("h", "_first")
    )
    marked = sh.join(dup, "h")
    if keep_first:
        marked = marked.filter(
            ~(
                (F.col(id_col) == F.col("_first.d"))
                & (F.col("pos") == F.col("_first.p"))
            )
        )
    marked = marked.select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        marked.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
    )
    w2 = Window.partitionBy(id_col).orderBy("s")
    prev_max_e = F.max("e").over(
        w2.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        runs.withColumn(
            "new_grp",
            F.when(
                F.col("s") > F.coalesce(prev_max_e, F.lit(-2)) + 1, 1
            ).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("new_grp").over(w2.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "grp")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
    )
    return spans.select(
        id_col,
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("n_tokens"),
    )


def substring_dedup_apply(
    docs: DataFrame,
    k: int = 8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
) -> DataFrame:
    """The APPLY side of ExactSubstr (Lee et al. 2021 cut the spans from
    the training copy): rebuild each document with every token inside a
    duplicated span removed. Returns
    (doc_id, cleaned_text, n_tokens, n_removed) for EVERY input document
    (docs with no duplicated spans pass through with n_removed = 0).
    ``keep_first=True`` cuts only non-canonical copies (see
    substring_dedup_spans), so one copy of every duplicated passage
    survives in the cleaned corpus.

    Scale shape: spans are doc-bounded, so they aggregate to one
    array<struct> row per affected doc (collect_list is safe -- a doc's
    span count is bounded by its own token count) and equi-join back to
    the corpus; the cut itself is a JVM higher-order ``filter`` with an
    ``exists`` probe over that per-doc span array -- no range join, no
    per-token shuffle, document text shuffles exactly once (the join).
    ``cleaned_text`` is the single-space token-join reconstruction (both
    engines rebuild from the token array, so whitespace is canonicalized
    identically)."""
    spans = substring_dedup_spans(
        docs, k, text_col=text_col, id_col=id_col, keep_first=keep_first
    )
    spans_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    out = (
        docs.join(spans_arr, id_col, "left")
        .withColumn("_toks", tokens(F.col(text_col)))
        .withColumn(
            "_kept",
            # coalesce(..., true): docs with no spans have _spans = NULL,
            # and `not exists(NULL, ...)` is NULL, which a filter lambda
            # would treat as false and drop EVERY token
            F.expr(
                "filter(_toks, (t, i) -> coalesce(not exists(_spans,"
                " s -> i >= s.span_start and i <= s.span_end), true))"
            ),
        )
    )
    return out.select(
        id_col,
        F.concat_ws(" ", F.col("_kept")).alias("cleaned_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
    )


def containment_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 100,
) -> DataFrame:
    """ASYMMETRIC near-duplication: containment C(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| -- the quote/excerpt/
    boilerplate-wrapper detector. Jaccard misses the case a short doc is
    wholly contained in a much longer one (union is dominated by the long
    side, so J is tiny while C is ~1); containment is the right metric for
    "this article was copied INTO that aggregation page", the second dedup
    pass real crawl pipelines run after symmetric near-dup.

    Same inverted-index shape as ngram_jaccard_pairs (distinct shingles ->
    equi-join -> intersection counts; high-DF shingle stop-guard bounds
    every posting list) with ONE refinement: the symmetric intersection is
    computed once per unordered pair (id < id join) and then fans out into
    the two directed rows via a 2-element explode -- candidate volume is
    never doubled for asymmetry. Containment is measured over the KEPT
    (post-max_df) shingle sets, stated in the output sizes.

    Returns (doc_id, container_id, n_common, size, containment) for
    directed pairs with containment >= threshold."""
    sh = tracked_persist(_distinct_shingles(docs, n, text_col, id_col, max_df))
    sizes = sh.groupBy("doc_id").agg(F.count("shingle").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("size_b"))
    both = inter.join(sa, "doc_a").join(sb, "doc_b")
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("container_id"),
                    F.col("n_common"),
                    F.col("size_a").alias("size"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("container_id"),
                    F.col("n_common"),
                    F.col("size_b").alias("size"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return (
        directed.withColumn(
            "containment", F.round(F.col("n_common") / F.col("size"), 4)
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_id", "container_id", "n_common", "size", "containment")
    )


def connected_components_incremental(
    old_labels: DataFrame,
    new_nodes: DataFrame,
    new_pairs: DataFrame,
    *,
    node_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Merge a NEW edge batch into an existing components labeling without
    re-running CC over the standing graph -- the daily-crawl shape of
    near-dup maintenance at 100 TB: the standing corpus's (doc, cluster)
    labels are an artifact at rest; a new batch contributes its nodes plus
    the edges TOUCHING it, and only the contracted graph (one node per
    existing cluster + the new nodes, sized |clusters| + |batch|, not
    |corpus|) goes through the iterative loop.

    Correctness is the classic contraction argument, exact not heuristic:
    collapsing each old component onto its min-label node preserves
    connectivity, and since the old label IS the old component's min id,
    the merged component's min equals the true global min -- so after
    re-expanding old members through their (possibly re-mapped) label, the
    labels are IDENTICAL to a full recompute over the union graph. The
    registered query's oracle is literally the full-recompute recursive
    CTE, making that identity the hash-checked claim.

    Assumes ``new_pairs``'s endpoints are new nodes or old nodes (old ones
    are mapped through ``old_labels``); edges strictly between old nodes
    belong to the standing graph and must already be reflected in
    ``old_labels``."""
    a, b = pair_cols
    m = old_labels.select(
        F.col(node_col).alias("_n"), F.col("cluster_id").alias("_l")
    )
    mapped = (
        new_pairs.join(
            m.withColumnRenamed("_n", a).withColumnRenamed("_l", "_la"),
            a,
            "left",
        )
        .join(
            m.withColumnRenamed("_n", b).withColumnRenamed("_l", "_lb"),
            b,
            "left",
        )
        .select(
            F.coalesce("_la", F.col(a)).alias("doc_a"),
            F.coalesce("_lb", F.col(b)).alias("doc_b"),
        )
    )
    contracted_nodes = (
        old_labels.select(F.col("cluster_id").alias(node_col))
        .distinct()
        .unionByName(new_nodes.select(node_col))
        .distinct()
    )
    merged = connected_components(contracted_nodes, mapped, node_col=node_col)
    lbl_map = merged.select(
        F.col(node_col).alias("_l"), F.col("cluster_id").alias("_nl")
    )
    old_final = old_labels.join(
        lbl_map, old_labels["cluster_id"] == F.col("_l"), "left"
    ).select(
        node_col, F.coalesce("_nl", "cluster_id").alias("cluster_id")
    )
    new_final = merged.join(new_nodes, node_col, "left_semi").select(
        node_col, "cluster_id"
    )
    return old_final.unionByName(new_final)


def cluster_best_keeper(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Cluster CANONICALIZATION: one row per near-dup cluster naming the
    member to keep -- the longest document, ties to the smallest id (the
    keep-longest rule most crawl-curation pipelines apply, vs
    dedup_clusters' structural min-id keeper which discards content
    quality entirely; RefinedWeb and FineWeb both canonicalize on a
    content criterion, not an id accident).

    Scale shape: keeper selection is a PURE AGGREGATION -- ``min_by``
    over a (-n_tokens, id) struct with map-side partial aggregation --
    never a per-cluster window sort, so a pathological million-member
    template cluster (the case that WILL exist in a crawl) reduces on
    many tasks instead of sorting on one. Clustering itself is the
    shared dedup_clusters path (inverted-index Jaccard -> min-label CC).

    Ids must be numeric (the shared connected-components backend's
    convergence probe sums labels); the tie-break expression itself is
    id-type agnostic by construction (the negation sits on the token
    count, never the id).

    ``shingles`` / ``token_counts`` (r15, guide §6 -- cross-stage artifact
    reuse): ``shingles`` forwards a `doc_shingles`-contract frame to the
    clustering (skips re-tokenizing the corpus); ``token_counts`` is an
    (id_col, n_tokens) frame whose values must equal
    ``token_count(text_col)`` -- e.g. the quality-stats tier's n_tokens
    column, which is the SAME F.size(tokens(...)) expression -- so the
    keeper choice is unchanged by construction.

    Returns (cluster_id, n_members, keeper_doc_id, keeper_n_tokens,
    n_dropped)."""
    from .text import token_count

    labels = dedup_clusters(
        docs,
        n=n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
        shingles=shingles,
    ).select(id_col, "cluster_id")
    toks = (
        token_counts.select(F.col(id_col), F.col("n_tokens"))
        if token_counts is not None
        else docs.select(
            F.col(id_col), token_count(F.col(text_col)).alias("n_tokens")
        )
    )
    return (
        labels.join(toks, id_col)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # min over (-len, id): longest doc first, then SMALLEST id --
            # expressed with the negation on the (always numeric) token
            # count so the id itself only needs to be orderable (string
            # ids work; negating the id would NULL out non-numeric types)
            F.min_by(
                F.col(id_col),
                F.struct(
                    (-F.col("n_tokens")).alias("_neglen"),
                    F.col(id_col).alias("_tie"),
                ),
            ).alias("keeper_doc_id"),
            F.max("n_tokens").alias("keeper_n_tokens"),
        )
        .withColumn("n_dropped", F.col("n_members") - F.lit(1))
    )
