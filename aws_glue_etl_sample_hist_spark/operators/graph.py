"""Graph analytics as message-passing DataFrame joins (the Pregel shape).

Connected components lives in operators.dedup (it is the dedup clusterer);
this module holds the rank-propagation family. Both share the same scale
contract: an iteration is edges ⋈ state -> groupBy(dst) -> new state, i.e.
one keyed shuffle per round, state frames are node-sized, and nothing about
the graph ever sits on the driver (the only collects are bounded scalars).

Reference: Page, Brin, Motwani, Winograd 1999 ("The PageRank Citation
Ranking"); the reference repo has no graph surface at all -- this is a
north-star extension like the dedup/CC family.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import _local
from ._cache import tracked_persist
from ._local import arrow_local_frame, fetch_bounded


def _round_half_up(x: float, scale: int) -> float:
    """Bit-faithful twin of Spark's ``round()`` on DoubleType: Spark routes
    the double through ``BigDecimal.valueOf`` (shortest decimal repr, same
    value Python's ``repr`` produces -- both are shortest-roundtrip) and
    ``setScale(scale, HALF_UP)``. Python's builtin ``round`` is banker's
    rounding and differs on exact .5 boundaries, so the local graph twins
    use this instead.

    Runtime assumption (ADVICE r14): the repr-matches-Java claim needs
    ``Double.toString`` to emit SHORTEST-roundtrip digits, true on
    JDK >= 19 (JDK-4511638) and therefore on any Spark 4 runtime. A
    backport to an older JVM (e.g. the Glue 3.0 / Spark 3.1 reference
    target) can see Java emit non-shortest digit strings, moving HALF_UP
    boundaries -- re-pin the grid test in test_operators_unit.py against
    that JVM before trusting the exact-equality contract there."""
    return float(
        Decimal(repr(x)).quantize(Decimal(f"1e-{scale}"), ROUND_HALF_UP)
    )


def _local_edges(edges: DataFrame, src: str, dst: str, weight: str):
    """The row tuples of the (src, dst, weight) frame ``edges`` when it fits
    ``LOCAL_CAP`` rows, else None (the caller then runs distributed). Null
    endpoints or a null/NaN/inf weight raise rather than mis-rank."""
    pdf = fetch_bounded(
        edges, _local.LOCAL_CAP, ids=(src, dst), finite=(weight,)
    )
    return None if pdf is None else list(pdf.itertuples(index=False, name=None))


def _pagerank_local_rows(
    edge_list: list[tuple], *, n_iter: int, damping: float
) -> list[tuple]:
    """Driver-local twin of ``weighted_pagerank``'s unrolled recurrence:
    same per-round 12-dp quantization (HALF_UP, like Spark's round), same
    leak-the-dangling-mass semantics. Float64 sum-order differences vs the
    distributed partial aggregation sit ~1e-16 per term, far below the
    1e-12 quantum -- the same partitioning-invariance argument the
    operator's oracle already rests on."""
    nodes = sorted({u for u, _, _ in edge_list} | {v for _, v, _ in edge_list})
    n = len(nodes)
    if n == 0:
        return []
    outw: dict = {}
    for u, _, w in edge_list:
        outw[u] = outw.get(u, 0.0) + float(w)
    norm = [
        (u, v, _round_half_up(float(w) / outw[u], 12)) for u, v, w in edge_list
    ]
    rank = {u: _round_half_up(1.0 / n, 12) for u in nodes}
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        incoming: dict = {}
        for u, v, p in norm:
            incoming[v] = incoming.get(v, 0.0) + rank[u] * p
        rank = {
            u: _round_half_up(base + damping * incoming.get(u, 0.0), 12)
            for u in nodes
        }
    return [(u, rank[u]) for u in nodes]


def _pagerank_converged_local_rows(
    edge_list: list[tuple],
    *,
    damping: float,
    eps: float,
    max_iter: int,
    check_every: int,
) -> tuple[list[tuple], int]:
    """Driver-local twin of ``weighted_pagerank_converged``: dangling mass
    redistributed uniformly, per-round 12-dp HALF_UP quantization, L1-delta
    stop checked every ``check_every`` rounds against the LAST consecutive
    round pair -- the exact loop the distributed path runs, minus the Spark
    jobs. Returns (rows, n_rounds)."""
    nodes = sorted({u for u, _, _ in edge_list} | {v for _, v, _ in edge_list})
    n = len(nodes)
    if n == 0:
        return [], 0
    outw: dict = {}
    for u, _, w in edge_list:
        outw[u] = outw.get(u, 0.0) + float(w)
    dangling = [u for u in nodes if u not in outw]
    norm = [
        (u, v, _round_half_up(float(w) / outw[u], 12)) for u, v, w in edge_list
    ]
    rank = {u: _round_half_up(1.0 / n, 12) for u in nodes}
    # mirrors the distributed init exactly: the SCALAR seed uses Python's
    # round (banker's) there, while per-round ranks quantize HALF_UP
    dangling_mass = len(dangling) * round(1.0 / n, 12)
    base = (1.0 - damping) / n
    rounds = 0
    while rounds < max_iter:
        batch = min(check_every, max_iter - rounds)
        prev = rank
        for b in range(batch):
            dm_over_n = (
                dangling_mass / n
                if b == 0
                else sum(rank[u] for u in dangling) / float(n)
            )
            prev = rank
            incoming: dict = {}
            for u, v, p in norm:
                incoming[v] = incoming.get(v, 0.0) + rank[u] * p
            rank = {
                u: _round_half_up(
                    base + damping * (incoming.get(u, 0.0) + dm_over_n), 12
                )
                for u in nodes
            }
            rounds += 1
        delta = sum(abs(rank[u] - prev[u]) for u in nodes)
        dangling_mass = sum(rank[u] for u in dangling)
        if delta < eps:
            break
    return [(u, rank[u]) for u in nodes], rounds


def _label_prop_local_rows(
    edge_list: list[tuple], *, n_iter: int
) -> list[tuple]:
    """Driver-local twin of ``label_propagation``: symmetrized weighted
    votes, per-(node, label) sums quantized to 6 dp HALF_UP, argmax ties to
    the SMALLEST label -- the same deterministic recurrence, no Spark jobs."""
    sym = [(u, v, float(w)) for u, v, w in edge_list]
    sym += [(v, u, w) for u, v, w in sym[: len(edge_list)]]
    nodes = sorted({u for u, _, _ in sym})
    label = {u: u for u in nodes}
    for _ in range(n_iter):
        votes: dict = {}
        for u, v, w in sym:
            key = (v, label[u])
            votes[key] = votes.get(key, 0.0) + w
        best: dict = {}
        for (v, lbl), wsum in votes.items():
            wsum = _round_half_up(wsum, 6)
            cur = best.get(v)
            if cur is None or (-wsum, lbl) < cur[0]:
                best[v] = ((-wsum, lbl), lbl)
        label = {u: best[u][1] if u in best else u for u in nodes}
    return [(u, label[u]) for u in nodes]


def weighted_pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Weighted PageRank over an edge list: ``n_iter`` rounds of
    r'(v) = (1-d)/n + d * sum over u->v of r(u) * w(u,v) / outw(u),
    from the uniform start. Returns (node, rank).

    Semantics pinned for the dual-engine oracle: dangling-node mass leaks
    (no redistribution -- the simplified textbook recurrence), and both the
    transition probabilities and each round's ranks are quantized to 12 dp,
    which puts double-summation noise (~1e-16 per term) far below the value
    granularity so the result is partitioning- and engine-invariant without
    decimal arithmetic.

    Scale shape: the normalized edge frame is computed once and persisted
    (tracked -- caller releases via release_operator_caches); each round is
    ONE join of edges to the node-sized rank frame on src plus ONE groupBy
    on dst. n_iter is a fixed hyperparameter (rank converges geometrically;
    production runs use 10-20 rounds and, like the CC loop, would truncate
    lineage with a localCheckpoint every few rounds -- at 3 rounds the plan
    stays shallow enough that truncation would only add IO).

    The INPUT edge frame is persisted too (r14): nodes (a union of two
    selects over it), outw, and norm each re-execute the caller's whole
    edge-building subtree otherwise -- for the registered trade-graph rows
    that subtree is a fact-scale join+agg, and the plan audit measured it
    recomputed ~5x per call (144 duplicate scans in one plan).

    Local dispatch: when the materialized edge frame fits ``LOCAL_CAP``
    rows, the n_iter message-passing rounds -- each otherwise one shuffle
    join + one agg + driver barriers -- are replaced by ONE bounded Arrow
    fetch and a driver-local twin of the identical recurrence
    (_pagerank_local_rows: same 12-dp HALF_UP per-round quantization, so
    the values are the ones the distributed loop and the SQL oracle
    produce). Contracted/aggregated graphs (nation-level trade, cluster
    summaries) are exactly this shape; above the cap the distributed path
    runs unchanged."""
    edges = tracked_persist(edges.select(src, dst, weight))
    edge_list = _local_edges(edges, src, dst, weight)
    if edge_list is not None:
        return arrow_local_frame(
            edges.sparkSession,
            _pagerank_local_rows(edge_list, n_iter=n_iter, damping=damping),
            T.StructType(
                [
                    T.StructField("node", edges.schema[src].dataType),
                    T.StructField("rank", T.DoubleType()),
                ]
            ),
        )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()  # bounded scalar: node count for the uniform start
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_outw"))
    norm = tracked_persist(
        edges.join(outw, src).select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            F.round(F.col(weight) / F.col("_outw"), 12).alias("_p"),
        )
    )
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 12).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            norm.join(ranks, norm["_s"] == ranks["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_in"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["_d"], "left"
        ).select(
            "node",
            F.round(
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    return ranks


def weighted_pagerank_converged(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    eps: float = 1e-9,
    max_iter: int = 50,
    checkpoint_every: int = 4,
    check_every: int = 1,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Production-parity weighted PageRank: dangling-node mass is
    REDISTRIBUTED uniformly (the true stochastic-matrix model, so ranks
    sum to 1 instead of leaking) and iteration stops when the L1 delta
    between rounds drops below ``eps`` (geometric convergence at rate
    ``damping``) rather than at a fixed round count. The 3-iteration
    leaking twin (``weighted_pagerank``) stays as the exact dual-engine
    oracle pin; this variant is contract-checked (sum-to-one, convergence,
    numpy power-iteration parity in tests) because a data-dependent round
    count is not SQL-expressible.

    r'(v) = (1-d)/n + d * (sum over u->v of r(u) * w(u,v)/outw(u)
                            + dangling_mass / n)

    Scale shape: same one-keyed-shuffle-per-round as the fixed twin; per
    CHECK the ONLY driver traffic is one two-scalar row (L1 delta of the
    last consecutive round pair + next round's dangling mass, fused into
    a single agg over the node-sized old⋈new rank join);
    ``localCheckpoint`` every ``checkpoint_every`` rounds truncates the
    growing lineage exactly like the connected-components loop.

    ``check_every`` (round 13) batches the convergence check: K rank
    updates compose LAZILY (within a batch the next round's dangling
    mass rides in-plan as a broadcast one-row crossJoin instead of a
    collected scalar), then ONE driver action tests the eps stop --
    driver barriers drop K-fold. The stop still tests the LAST
    consecutive round pair's L1 delta, so the converged ranks are those
    of per-round checking run to the next multiple of K: same fixpoint,
    possibly up to K-1 extra (sub-eps) rounds. ``check_every=1``
    (default) reproduces the per-round path exactly (the numpy-parity
    pin in tests). WHEN TO USE: only for graphs converging over many
    rounds on a cluster where driver round-trips dominate -- on the
    25-node registered audit (5-6 rounds to converge) K=3 measured
    SLOWER (17.9 vs 12.5 s warm at sf0.1: one extra sub-eps round plus
    deeper lazy plans outweigh the saved barriers), so the registered
    row keeps the default. Note (ADVICE r13): ``localCheckpoint()`` is
    EAGER, so when a checkpoint lands mid-batch it inserts a driver
    action there -- for ``check_every >= checkpoint_every`` the
    barriers drop by the checkpoint cadence, not the full K-fold.
    Returns (node, rank, n_rounds) with rank
    quantized to 12 dp each round for partitioning invariance."""
    if check_every < 1:
        raise ValueError(
            f"check_every must be >= 1, got {check_every}: a non-positive "
            "batch would skip every rank update"
        )
    # persist the caller's edge subtree (r14): nodes/outw/norm would each
    # re-execute it otherwise (the registered row's fact-scale join+agg ran
    # ~5x per call -- 74 duplicate scans in the audited plan)
    edges = tracked_persist(edges.select(src, dst, weight))
    # local dispatch (see weighted_pagerank): a convergence loop is the
    # job-count-heaviest shape in the engine (per check: one keyed shuffle
    # round + a bounded collect + periodic eager checkpoints); when the
    # materialized graph fits the cap, _pagerank_converged_local_rows runs
    # the IDENTICAL quantized recurrence (including the check_every
    # batching semantics and the Python-round dangling seed) with zero
    # Spark jobs after the one bounded fetch.
    edge_list = _local_edges(edges, src, dst, weight)
    if edge_list is not None:
        rows, rounds = _pagerank_converged_local_rows(
            edge_list,
            damping=damping,
            eps=eps,
            max_iter=max_iter,
            check_every=check_every,
        )
        return arrow_local_frame(
            edges.sparkSession,
            [(u, r, rounds) for u, r in rows],
            T.StructType(
                [
                    T.StructField("node", edges.schema[src].dataType),
                    T.StructField("rank", T.DoubleType()),
                    T.StructField("n_rounds", T.LongType()),
                ]
            ),
        )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_outw"))
    nodes = tracked_persist(
        nodes.join(outw, nodes["node"] == outw[src], "left").select(
            "node", F.col("_outw").isNull().alias("_dangling")
        )
    )
    n = nodes.count()  # bounded scalar: node count for the uniform start
    n_dangling = nodes.filter("_dangling").count()  # bounded scalar
    norm = tracked_persist(
        edges.join(outw, src).select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            F.round(F.col(weight) / F.col("_outw"), 12).alias("_p"),
        )
    )
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 12).alias("rank"))
    # the uniform start is round(1/n, 12) per node, so its dangling mass is
    # exactly n_dangling copies of that quantized value
    dangling_mass = n_dangling * round(1.0 / n, 12)

    def _advance(cur: DataFrame, dm_over_n, dm_row: DataFrame | None = None) -> DataFrame:
        """One rank update from `cur` (node, rank) with the dangling-mass
        term supplied either as a literal (batch head: the scalar the last
        check collected) or as an in-plan column from the broadcast
        one-row ``dm_row`` (inside a batch)."""
        contrib = (
            norm.join(cur, norm["_s"] == cur["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_in"))
        )
        out = nodes.join(contrib, nodes["node"] == contrib["_d"], "left")
        if dm_row is not None:
            out = out.crossJoin(F.broadcast(dm_row))
        return out.select(
            "node",
            "_dangling",
            F.round(
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("_in"), F.lit(0.0)) + dm_over_n),
                12,
            ).alias("rank"),
        )

    rounds = 0
    while rounds < max_iter:
        batch = min(check_every, max_iter - rounds)
        prev = ranks  # (node, rank) one round behind `new_ranks`
        new_ranks = None
        for b in range(batch):
            if b == 0:
                rounds += 1
                new_ranks = _advance(ranks, F.lit(dangling_mass / n))
            else:
                # in-plan dangling mass of the previous (lazy) round: a
                # one-row agg broadcast-crossJoined into the update --
                # no driver action inside the batch
                dm_row = new_ranks.agg(
                    F.sum(
                        F.when(F.col("_dangling"), F.col("rank")).otherwise(0.0)
                    ).alias("_dm")
                )
                prev = new_ranks.select("node", "rank")
                rounds += 1
                new_ranks = _advance(
                    prev, F.col("_dm") / F.lit(float(n)), dm_row
                )
            if rounds % checkpoint_every == 0:
                new_ranks = new_ranks.localCheckpoint()
        # ONE bounded scalar row per CHECK: the last consecutive round
        # pair's L1 delta + the next batch's dangling mass, fused into a
        # single node-sized agg
        stats = (
            new_ranks.alias("new")
            .join(prev.alias("old"), "node")
            .agg(
                F.sum(F.abs(F.col("new.rank") - F.col("old.rank"))).alias(
                    "delta"
                ),
                F.sum(
                    F.when(F.col("new._dangling"), F.col("new.rank")).otherwise(
                        0.0
                    )
                ).alias("dangling_mass"),
            )
            .collect()[0]
        )
        dangling_mass = float(stats.dangling_mass)
        ranks = new_ranks.select("node", "rank")
        if float(stats.delta) < eps:
            break
    return ranks.select(
        "node", "rank", F.lit(rounds).cast("long").alias("n_rounds")
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Weighted synchronous label propagation (Raghavan et al. 2007)
    community detection -- the cheap communities primitive beside
    PageRank (influence) and connected components (reachability): every
    node starts as its own label; each round a node adopts the label with
    the LARGEST incoming weight sum, ties broken to the SMALLEST label --
    fully deterministic, so a fixed ``n_iter`` unrolls to an exact SQL
    twin exactly like the 3-round PageRank (data-dependent convergence
    stays out of the oracle's reach by design; run more rounds for real
    use).

    Scale shape per round: edges symmetrize once; one keyed shuffle
    (dst, label) for the weight sums, one per-node argmax window -- both
    partitioned by node, no driver traffic at all (the loop is a fixed
    count, not a convergence check). Returns (node, label)."""
    # persist the symmetrized edges and the node frame (r14): sym feeds
    # every round's vote join AND the node derivation, and each of the
    # n_iter lazily-composed rounds re-executed the caller's whole edge
    # subtree through it (168 duplicate scans in the audited plan of the
    # registered trade-graph row); nodes joins into every round's output.
    # Both are graph-sized -- the same footprint pagerank already persists.
    # local dispatch (see weighted_pagerank): each round is one shuffle
    # join + one agg + one per-node window; a cap-bounded graph instead
    # runs _label_prop_local_rows, the identical 6-dp-quantized argmax
    # recurrence, off ONE bounded Arrow fetch.
    edges = tracked_persist(edges.select(src, dst, weight))
    edge_list = _local_edges(edges, src, dst, weight)
    if edge_list is not None:
        ntype = edges.schema[src].dataType
        return arrow_local_frame(
            edges.sparkSession,
            _label_prop_local_rows(edge_list, n_iter=n_iter),
            T.StructType(
                [T.StructField("node", ntype), T.StructField("label", ntype)]
            ),
        )
    sym = tracked_persist(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        ).unionByName(
            edges.select(
                F.col(dst).alias("u"), F.col(src).alias("v"), F.col(weight).alias("w")
            )
        )
    )
    nodes = tracked_persist(sym.select(F.col("u").alias("node")).distinct())
    labels = nodes.withColumn("label", F.col("node"))
    w_pick = Window.partitionBy("v").orderBy(
        F.col("wsum").desc(), F.col("label").asc()
    )
    for _ in range(n_iter):
        votes = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy("v", "label")
            .agg(F.round(F.sum("w"), 6).alias("wsum"))
        )
        picked = (
            votes.withColumn("_rk", F.row_number().over(w_pick))
            .filter(F.col("_rk") == 1)
            .select(F.col("v").alias("node"), "label")
        )
        # isolated-in-this-direction nodes keep their label (left join)
        labels = nodes.join(picked, "node", "left").select(
            "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
        )
    return labels


def kcore_members(
    nodes: DataFrame,
    pairs: DataFrame,
    *,
    k: int = 2,
    node_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983): drop
    every node with fewer than ``k`` neighbors INSIDE the surviving set,
    repeat to fixpoint. Over the near-dup candidate graph the k-core is
    the template-farm detector: a doc loosely similar to one other doc
    survives pair dedup decisions, but a doc embedded in a DENSE blob of
    mutual near-dups (boilerplate mills, mirror farms) sits in a deep
    core -- a curation signal pair-level Jaccard cannot express.

    Shape per round: one shuffle (edges semi-joined to survivors on both
    endpoints, degree agg) + ONE count action for the convergence probe;
    survivor frames localCheckpoint so round N's plan never re-embeds
    rounds 1..N-1 (the connected_components lesson). Rounds are bounded
    by the peeling depth -- near-dup graphs are clique-ish and converge
    in a handful; a cap breach raises rather than returning a non-core.

    Returns (doc_id, core_degree): the k-core members with their degree
    within the final core (core_degree >= k by construction)."""
    a, b = pair_cols
    # persist the caller's pair subtree first (r14): the orientation union
    # below consumes it twice, and for the registered row that subtree is
    # the whole candidate-pair generation
    pairs = tracked_persist(pairs.select(a, b))
    e = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    # distinct after the orientation union: duplicate or doubly-oriented
    # input pairs would inflate degrees and wrongly retain sub-k nodes.
    # Current callers emit distinct canonical pairs already, but the
    # function enforces the contract rather than assuming it (cheap
    # relative to the per-round semi-joins).
    edges = tracked_persist(
        e.union(
            pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        ).distinct()
    )
    alive = nodes.select(F.col(node_col).alias("node")).localCheckpoint(
        eager=True
    )
    n_alive = alive.count()
    for _ in range(max_rounds):
        deg = (
            edges.join(alive, edges.src == alive.node, "left_semi")
            .join(
                alive.withColumnRenamed("node", "dst_n"),
                F.col("dst") == F.col("dst_n"),
                "left_semi",
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        nxt = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        alive = nxt
        if n_next == n_alive:
            break
        n_alive = n_next
    else:
        raise RuntimeError(
            f"kcore_members did not converge within {max_rounds} rounds"
        )
    final_deg = (
        edges.join(alive, edges.src == alive.node, "left_semi")
        .join(
            alive.withColumnRenamed("node", "dst_n"),
            F.col("dst") == F.col("dst_n"),
            "left_semi",
        )
        .groupBy(F.col("src").alias(node_col))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return final_deg
