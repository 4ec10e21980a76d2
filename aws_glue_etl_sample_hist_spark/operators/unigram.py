"""Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization",
arXiv:1804.10959 -- the SentencePiece unigram model) as a distributed
iterative operator: the OTHER production tokenizer family beside BPE
(operators/bpe.py), trained by EM over segmentation lattices instead of
greedy pair merging.

Scale design, mirroring the BPE trainer's stance: the corpus is touched
ONCE to build the word-frequency table (vocabulary-sized); every EM and
pruning round after that runs on the word table alone:

  seed    := every substring (len <= seed_max_len) of every word type,
             weighted by word freq -- one explode + count agg; top
             seed_size by count (ties piece ASC) plus ALL single
             characters (so every word stays segmentable).
  E-step  := per word type, forward-backward over the segmentation
             lattice (positions 0..n, an edge per vocab piece matching at
             a position) under the current piece log-probs -- an
             Arrow-batched mapInPandas pass over the WORD TABLE (not the
             corpus) with the piece->logp map broadcast via closure;
             emits per-piece expected counts (partial, map-side summed).
  M-step  := normalize expected counts into probs -- a vocab-sized driver
             step (the same bounded-calibration pattern as BPE's top-1
             pair collect, k-means||'s candidate sketch).
  prune   := drop the lowest-expected-count multi-char pieces in batches
             (keep all single chars) until vocab_size remains, re-running
             EM between batches. This is the standard simplification of
             Kudo's exact leave-one-out loss ranking (expected count IS
             the first-order term of that loss); documented, determinate,
             and tie-broken (count ASC, piece DESC drops first) so the
             learned vocab is partitioning- and engine-independent.

Everything is deterministic -- no RNG anywhere -- but the training is an
iterative EM fixpoint, not SQL-expressible, so the registered query is a
CONTRACT row (the converged-PageRank pattern): corpus log-likelihood
non-decreasing across EM iterations, exact vocab size, probs sum to 1,
single-char coverage. A pure-python reference implementation pins the
numbers in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from . import _local
from .bpe import word_vocab


def seed_pieces(
    words: DataFrame, seed_size: int, *, seed_max_len: int = 4
) -> DataFrame:
    """Candidate piece table: all substrings of length <= seed_max_len of
    every word type, count-weighted by word frequency; the top
    ``seed_size`` by (count DESC, piece ASC) UNION all single characters.
    One explode over the word table -- bounded by word types x len^2, not
    corpus size."""
    subs = words.select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)),"
                f" i -> transform(sequence(i, least(length(word), i + {seed_max_len - 1})),"
                " j -> substring(word, i, j - i + 1))))"
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("freq").alias("n"), (F.length("piece") == 1).alias("is_char")
    )
    top = (
        counts.filter(~F.col("is_char"))
        .orderBy(F.col("n").desc(), F.col("piece").asc())
        .limit(seed_size)
    )
    chars = counts.filter(F.col("is_char"))
    return top.unionByName(chars).select("piece", "n")


def _word_lattice_into(
    word: str,
    freq,
    logp: dict[str, float],
    max_piece_len: int,
    agg: dict[str, float],
) -> float:
    """Forward-backward over one word type's segmentation lattice under
    ``logp``: accumulates freq-weighted expected piece counts into
    ``agg`` and returns the word's freq-weighted log-likelihood
    contribution (0.0 if unsegmentable -- cannot happen with char
    coverage). Shared by the distributed Arrow path and the driver-local
    fast path so the two are the same math by construction."""
    n = len(word)
    NEG = float("-inf")
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    edges = []  # (start, end, piece, lp)
    for i in range(n):
        if alpha[i] == NEG:
            continue
        for j in range(i + 1, min(n, i + max_piece_len) + 1):
            p = word[i:j]
            lp = logp.get(p)
            if lp is None:
                continue
            edges.append((i, j, p, lp))
            v = alpha[i] + lp
            alpha[j] = v if alpha[j] == NEG else _logadd(alpha[j], v)
    if alpha[n] == NEG:
        return 0.0
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for i, j, p, lp in sorted(edges, key=lambda e: -e[0]):
        if beta[j] == NEG:
            continue
        v = lp + beta[j]
        beta[i] = v if beta[i] == NEG else _logadd(beta[i], v)
    z = alpha[n]
    for i, j, p, lp in edges:
        if beta[j] == NEG:
            continue
        gamma = math.exp(alpha[i] + lp + beta[j] - z)
        agg[p] = agg.get(p, 0.0) + freq * gamma
    return freq * z


def _estep_counts(
    words: DataFrame, logp: dict[str, float], max_piece_len: int
):
    """One EM E-step over the word table: per word type, forward-backward
    over the segmentation lattice; returns (piece expected counts dict,
    corpus log-likelihood). Arrow-batched; the piece map rides the
    closure (vocab-sized, the broadcast-dim pattern)."""
    import pandas as pd

    def ll_counts(batches):
        for pdf in batches:
            agg: dict[str, float] = {}
            ll = 0.0
            for word, freq in zip(pdf["word"], pdf["freq"]):
                ll += _word_lattice_into(word, freq, logp, max_piece_len, agg)
            yield pd.DataFrame(
                {
                    "piece": list(agg.keys()) + ["\x00ll"],
                    "c": list(agg.values()) + [ll],
                }
            )

    rows = words.select("word", "freq").mapInPandas(
        ll_counts, "piece string, c double"
    )
    # partial per-batch dicts -> one vocab-bounded agg
    merged = rows.groupBy("piece").agg(F.sum("c").alias("c")).collect()
    counts = {r.piece: r.c for r in merged if r.piece != "\x00ll"}
    ll = next((r.c for r in merged if r.piece == "\x00ll"), 0.0)
    return counts, ll


def _estep_counts_local(
    rows: list[tuple[str, int]], logp: dict[str, float], max_piece_len: int
):
    """Driver-local E-step over an already-collected word-type list --
    the SAME lattice math as _estep_counts without a Spark job per EM
    round. unigram_train dispatches here when the type table fits
    ``LOCAL_CAP`` rows: at sf0.1 the corpus has ~31 word types, so
    the distributed path's wall was 15 rounds x ~1.2 s of pure
    job-scheduling overhead over a 31-row frame."""
    agg: dict[str, float] = {}
    ll = 0.0
    for word, freq in rows:
        ll += _word_lattice_into(word, freq, logp, max_piece_len, agg)
    return agg, ll


def _logadd(a: float, b: float) -> float:
    if a < b:
        a, b = b, a
    return a + math.log1p(math.exp(b - a))


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 64,
    *,
    seed_size: int = 256,
    seed_max_len: int = 4,
    em_iters: int = 2,
    prune_frac: float = 0.25,
    text_col: str = "text",
):
    """Train a unigram-LM tokenizer vocab. Returns (vocab list of (piece,
    prob) sorted by prob desc then piece asc, diagnostics dict with the
    per-round corpus log-likelihoods -- the contract witnesses).

    Adaptive E-step dispatch: the corpus is always touched exactly once
    (the word-type table); when that table fits ``LOCAL_CAP`` rows it is
    fetched ONCE (one bounded Arrow job -- 100k short words is a few MB)
    and every EM round runs driver-local,
    instead of paying one Spark job of scheduling overhead per round
    over a tiny frame. Past the threshold -- the honest 100 TB shape,
    where Heaps' law makes the type table millions of rows -- the
    distributed Arrow lattice path runs unchanged. Both paths share
    _word_lattice_into, so the math is identical by construction."""
    words = word_vocab(docs, text_col=text_col).select("word", "freq")
    words = words.persist()
    pdf = _local.fetch_bounded(words, _local.LOCAL_CAP)
    local_rows = (
        None if pdf is None else list(pdf.itertuples(index=False, name=None))
    )

    def estep(lp: dict[str, float]):
        if local_rows is not None:
            return _estep_counts_local(local_rows, lp, seed_max_len)
        return _estep_counts(words, lp, seed_max_len)

    seed = seed_pieces(words, seed_size, seed_max_len=seed_max_len).collect()
    total = sum(r.n for r in seed) or 1
    logp = {r.piece: math.log(r.n / total) for r in seed}
    n_chars = sum(1 for p in logp if len(p) == 1)
    if vocab_size < n_chars:
        raise ValueError(
            f"vocab_size {vocab_size} below single-char floor {n_chars}"
        )
    # log-likelihoods grouped by EM block: EM monotonicity holds only
    # while the vocab is FIXED, so witnesses compare within a block (a
    # pruning step between blocks legitimately drops the likelihood)
    ll_blocks: list[list[float]] = []
    while True:
        # EM to convergence-ish at this vocab
        block: list[float] = []
        ll_blocks.append(block)
        for _ in range(em_iters):
            counts, ll = estep(logp)
            block.append(ll)
            tot = sum(counts.values()) or 1.0
            logp = {
                p: math.log(c / tot) for p, c in counts.items() if c > 0
            }
            # single chars must survive even at zero expected count
            for r in seed:
                if len(r.piece) == 1 and r.piece not in logp:
                    logp[r.piece] = math.log(1e-12)
        multi = [p for p in logp if len(p) > 1]
        if len(logp) <= vocab_size:
            break
        n_drop = min(
            len(logp) - vocab_size, max(1, int(len(multi) * prune_frac))
        )
        # lowest expected mass drops first; ties (piece DESC) so the kept
        # set is deterministic
        drop = sorted(multi, key=lambda p: (logp[p], [-ord(c) for c in p]))[
            :n_drop
        ]
        for p in drop:
            del logp[p]
    # final renormalize + one scoring pass for the last witness point
    counts, ll = estep(logp)
    ll_blocks[-1].append(ll)
    tot = sum(counts.values()) or 1.0
    final = {p: (counts.get(p, 0.0) / tot) for p in logp}
    s = sum(final.values()) or 1.0
    final = {p: v / s for p, v in final.items()}
    words.unpersist()
    vocab = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))
    return vocab, {"ll_blocks": ll_blocks, "n_chars": n_chars}


def unigram_encode(
    docs: DataFrame,
    vocab: list[tuple[str, float]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi segmentation of each document's words under a trained
    unigram vocab: per word, the max-probability piece sequence (ties:
    fewer pieces, then lexicographically smallest sequence -- fully
    deterministic). Arrow-batched map-only pass; the vocab rides the
    closure like BPE's frozen merge list. Returns (id, n_words,
    n_pieces, pieces_preview)."""
    import pandas as pd

    logp = {p: math.log(v) if v > 0 else -1e9 for p, v in vocab}
    max_len = max((len(p) for p in logp), default=1)

    def encode(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in str(text).lower().split() if w]
                pieces: list[str] = []
                for word in words:
                    n = len(word)
                    best: list[tuple[float, int, list[str]] | None] = [
                        None
                    ] * (n + 1)
                    best[0] = (0.0, 0, [])
                    for i in range(n):
                        if best[i] is None:
                            continue
                        sc, np_, seq = best[i]
                        for j in range(i + 1, min(n, i + max_len) + 1):
                            p = word[i:j]
                            lp = logp.get(p)
                            if lp is None:
                                continue
                            cand = (sc + lp, np_ + 1, seq + [p])
                            cur = best[j]
                            if (
                                cur is None
                                or cand[0] > cur[0] + 1e-15
                                or (
                                    abs(cand[0] - cur[0]) <= 1e-15
                                    and (cand[1], cand[2])
                                    < (cur[1], cur[2])
                                )
                            ):
                                best[j] = cand
                    if best[n] is not None:
                        pieces.extend(best[n][2])
                out.append(
                    (
                        doc_id,
                        len(words),
                        len(pieces),
                        " ".join(pieces[:8]),
                    )
                )
            yield pd.DataFrame(
                out, columns=[id_col, "n_words", "n_pieces", "pieces_preview"]
            )

    return docs.select(id_col, text_col).mapInPandas(
        encode,
        f"{id_col} long, n_words long, n_pieces long, pieces_preview string",
    )
