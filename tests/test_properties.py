"""Property-based checks (hypothesis): the distributed sessionizer agrees
with a trivially-correct single-threaded Python reference on randomized event
streams -- catches boundary/ordering bugs example tables can miss. Examples
are kept few (each is a Spark job); the generator biases gaps around the
threshold where the bugs live."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

GAP_S = 100
GAP_US = GAP_S * 1_000_000
BASE = 1_700_000_000_000_000

# per-user lists of inter-event gaps in micros, biased to straddle the
# threshold (0.5x .. 2x gap) plus exact-boundary values
gap_strategy = st.one_of(
    st.integers(min_value=0, max_value=2 * GAP_US),
    st.sampled_from([GAP_US - 1, GAP_US, GAP_US + 1]),
)
stream_strategy = st.lists(  # users
    st.lists(gap_strategy, min_size=1, max_size=8),  # events per user
    min_size=1,
    max_size=4,
)


def _reference_sessions(gaps_by_user):
    """Single-threaded ground truth: split at gap > threshold."""
    out = {}
    for uid, gaps in enumerate(gaps_by_user):
        ts = BASE
        seq, n, start, end = 0, 0, 0, 0
        for i, g in enumerate(gaps):
            ts = BASE if i == 0 else ts + g
            if n == 0 or (ts - end) > GAP_US:
                if n:
                    out[(uid, seq)] = (n, start, end)
                seq += 1
                n, start, end = 1, ts, ts
            else:
                n += 1
                end = ts
        out[(uid, seq)] = (n, start, end)
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stream_strategy)
def test_sessionize_matches_python_reference(spark, gaps_by_user):
    from aws_glue_etl_sample_hist_spark.operators.sessionize import sessionize

    rows, eid = [], 0
    for uid, gaps in enumerate(gaps_by_user):
        ts = BASE
        for i, g in enumerate(gaps):
            ts = BASE if i == 0 else ts + g
            rows.append((eid, uid, ts, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts_us", "value"]
    ).withColumn("ts", F.timestamp_micros("ts_us"))

    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start_us, r.session_end_us)
        for r in sessionize(df, gap_seconds=GAP_S).collect()
    }
    assert got == _reference_sessions(gaps_by_user)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.integers(min_value=1, max_value=120),
    window=st.integers(min_value=2, max_value=40),
    data=st.data(),
)
def test_chunking_covers_every_token_with_exact_overlap(spark, n_tokens, window, data):
    """Property: token-window chunking covers EVERY token (the tail is
    never dropped), non-final chunks are exactly min(window, remaining)
    tokens, and chunk indices are dense from 0."""
    stride = data.draw(st.integers(min_value=1, max_value=window))
    from aws_glue_etl_sample_hist_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(n_tokens))
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    rows = sorted(
        (r.chunk_idx, r.chunk_tokens)
        for r in chunk_documents(docs, window=window, stride=stride).collect()
    )
    # chunk i covers tokens [i*stride, i*stride + chunk_tokens)
    covered = set()
    for idx, ct in rows:
        assert ct >= 1
        start = idx * stride
        covered |= set(range(start, start + ct))
        if (idx, ct) != rows[-1]:
            assert ct == min(window, n_tokens - start)
    assert covered == set(range(n_tokens))
    # dense chunk indices
    assert [i for i, _ in rows] == list(range(len(rows)))


interval_strategy = st.tuples(
    # events: (ts_minute, id)
    st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=40),
    # intervals: (start_minute, length_minutes)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=600),
            st.integers(min_value=1, max_value=180),
        ),
        min_size=1,
        max_size=10,
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(interval_strategy)
def test_interval_join_binned_matches_bruteforce(spark, data):
    """The binned range join returns EXACTLY the brute-force [start, end)
    matches for arbitrary event/interval layouts -- including intervals
    shorter/longer than the bin, bin-boundary timestamps, and overlaps."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.asof import interval_join_binned

    minutes, intervals = data
    base = dt.datetime(2024, 1, 1)
    ev_rows = [(i, base + dt.timedelta(minutes=m)) for i, m in enumerate(minutes)]
    int_rows = [
        (j, base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=s + ln))
        for j, (s, ln) in enumerate(intervals)
    ]
    left = spark.createDataFrame(ev_rows, "event_id long, ts timestamp")
    ints = spark.createDataFrame(int_rows, "interval_id long, start timestamp, end timestamp")

    got = {
        (r.event_id, r.interval_id)
        for r in interval_join_binned(left, ints, bin_seconds=3600).collect()
    }
    want = {
        (i, j)
        for i, m in enumerate(minutes)
        for j, (s, ln) in enumerate(intervals)
        if s <= m < s + ln
    }
    assert got == want


asof_strategy = st.tuples(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=25),  # left ts
    st.lists(st.integers(min_value=0, max_value=200), min_size=0, max_size=25),  # right ts
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(asof_strategy)
def test_asof_join_matches_python_reference(spark, data):
    """For every left row, the attached right value is the LATEST right row
    with right_ts <= left_ts (ties included), null when none exists --
    against a brute-force python reference, same single key."""
    import datetime as dt

    from aws_glue_etl_sample_hist_spark.operators.asof import asof_join

    left_m, right_m = data
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, 1, base + dt.timedelta(minutes=m)) for i, m in enumerate(left_m)],
        "left_id long, k long, lts timestamp",
    )
    # unique right timestamps: duplicate (key, time) winners are the caller's
    # contract (documented pre-reduce), so the property holds on distinct ts
    right_rows = [
        (100 + j, 1, base + dt.timedelta(minutes=m), float(m))
        for j, m in enumerate(sorted(set(right_m)))
    ]
    right = spark.createDataFrame(
        right_rows, "right_id long, k long, rts timestamp, rv double"
    )
    out = {
        r.left_id: r.rv
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="lts",
            right_time="rts",
            value_cols=["rv"],
        ).collect()
    }
    rset = sorted(set(right_m))
    for i, m in enumerate(left_m):
        eligible = [x for x in rset if x <= m]
        want = float(eligible[-1]) if eligible else None
        assert out[i] == want, (i, m, out[i], want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 1000)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 10),
)
def test_weighted_sample_topk_matches_python_reference(spark, rows, k):
    """The A-ES winners are exactly the python-computed top-k of
    u^(1/w) with the same md5 draw -- selection is a pure function of
    (ids, weights, salt), independent of partitioning."""
    import hashlib

    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        SAMPLE_MOD,
        weighted_sample_topk,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(7)
    got = [
        r.doc_id
        for r in weighted_sample_topk(df, k, weight=F.col("w").cast("double"))
        .orderBy(F.col("sample_score").desc(), F.col("doc_id").asc())
        .collect()
    ]

    def score(doc_id: int, w: int) -> float:
        h = int(hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:8], 16)
        u = (h % SAMPLE_MOD + 1) / SAMPLE_MOD
        return round(u ** (1.0 / w), 8)

    want = [d for d, _ in sorted(rows, key=lambda t: (-score(*t), t[0]))[:k]]
    assert got == want


# ---------------------------------------------------------------- round 4

_token_strategy = st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"])
_record_strategy = st.lists(  # records: each a token list (dups allowed)
    st.lists(_token_strategy, min_size=1, max_size=5),
    min_size=2,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(recs=_record_strategy, block=st.sampled_from([1, 2]))
def test_prefix_filter_join_matches_bruteforce(spark, recs, block):
    """SSJoin completeness under BOTH blocking schemes on adversarial
    small-vocab records (every token frequent, heavy duplication, size-1
    sets): output must equal the all-pairs ground truth exactly."""
    from itertools import combinations

    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        prefix_filter_jaccard_join,
    )

    t = 0.5
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(recs)], ["id", "name"]
    )
    got = {
        (r.id_a, r.id_b, r.n_inter, r.n_union)
        for r in prefix_filter_jaccard_join(df, threshold=t, block=block).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(recs)}
    want = {
        (a, b, len(sets[a] & sets[b]), len(sets[a] | sets[b]))
        for a, b in combinations(sorted(sets), 2)
        if round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6) >= t
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    freqs=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    parts=st.sampled_from([1, 3, 8]),
    frac=st.sampled_from([0.05, 0.1, 0.3]),
)
def test_heavy_hitters_matches_exact_counts(spark, freqs, parts, frac):
    """Misra-Gries + re-count equals plain GROUP BY/HAVING for any value
    distribution, partitioning, and threshold -- including thresholds no
    value reaches (empty answer) and single-partition streams."""
    from aws_glue_etl_sample_hist_spark.operators.frequency import (
        heavy_hitters_exact,
    )

    rows = [(v,) for v, n in enumerate(freqs) for _ in range(n)]
    total = len(rows)
    df = spark.createDataFrame(rows, ["user_id"]).repartition(parts)
    got = {
        (r.user_id, r.freq)
        for r in heavy_hitters_exact(df, "user_id", threshold_frac=frac).collect()
    }
    import math

    thresh = math.ceil(total * frac)
    want = {(v, n) for v, n in enumerate(freqs) if n >= thresh}
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    h=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_codec_roundtrip_property(h, w, seed):
    """encode_bmp/decode_bmp identity for ANY dimensions (row padding takes
    every value 0..3 across widths) and any pixel content."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    back = decode_bmp(encode_bmp(px))
    assert back.shape == (h, w, 3) and (back == px).all()


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    n=st.integers(min_value=1, max_value=64),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_codec_roundtrip_property(n, rate, seed):
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    x = (
        np.random.default_rng(seed)
        .integers(-(2**15), 2**15, size=n)
        .astype(np.int16)
    )
    s, r, c = decode_wav(encode_wav(x, rate, 1))
    assert r == rate and c == 1 and (s == x).all()


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    h=st.sampled_from([2, 4, 6]),
    w=st.sampled_from([2, 4, 8]),
    n_frames=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_y4m_codec_roundtrip_property(h, w, n_frames, seed):
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(n_frames)
    ]
    gw, gh, got = decode_y4m(encode_y4m(frames))
    assert (gw, gh, len(got)) == (w, h, n_frames)
    assert all((a == b).all() for a, b in zip(got, frames))


# --------------------------------------------------------- codec properties
# pure-python properties (no Spark job per example, so examples are cheap)

_img_strategy = st.tuples(
    st.integers(min_value=1, max_value=24),  # height
    st.integers(min_value=1, max_value=24),  # width
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
)


@given(_img_strategy)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_exact_on_random_images(dims):
    """PNG is lossless: encode->decode must be bit-exact for every shape
    and content, including 1-pixel and single-row/column edge cases."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


@given(_img_strategy)
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_bounded_error_on_random_images(dims):
    """Baseline JPEG at q=95: decoded dims always exact (SOF0 is
    authoritative, non-multiple-of-8 shapes crop the padded MCUs), and the
    per-pixel error of random noise (the DCT worst case) stays within the
    loose bound implied by the scaled quantization tables. A broken zigzag,
    Huffman table, or IDCT produces errors an order of magnitude larger."""
    import numpy as np

    from aws_glue_etl_sample_hist_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 12, err.mean()
    assert err.max() <= 80, err.max()


# ---- round 8: rank statistics vs brute-force references ----

# scores drawn from a COARSE grid so ties actually occur (the tie-handling
# code is where rank-statistic bugs live)
_scored_strategy = st.lists(
    st.tuples(
        st.sampled_from([0.1, 0.2, 0.3, 0.5, 0.9]),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=4,
    max_size=24,
).filter(lambda rows: len({y for _, y in rows}) == 2)  # both classes present


def _brute_auc(rows):
    """Ground truth: P(score+ > score-) + 0.5 * P(tie), all pairs."""
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    return wins / (len(pos) * len(neg))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_scored_strategy)
def test_roc_auc_matches_pairwise_brute_force(spark, rows):
    from aws_glue_etl_sample_hist_spark.operators.analytics import roc_auc

    df = spark.createDataFrame(rows, "score double, label int")
    got = roc_auc(df).collect()[0]
    assert abs(got.auc - round(_brute_auc(rows), 6)) <= 1e-6
    assert got.n_pos == sum(y for _, y in rows)
    assert got.n_neg == len(rows) - got.n_pos


def _brute_bh(pvals, m):
    """Ground truth BH q-values: q_(i) = min_{j>=i} p_(j) * m / j over the
    sorted p-values."""
    order = sorted(range(len(pvals)), key=lambda i: pvals[i])
    q = [0.0] * len(pvals)
    running = float("inf")
    for rank_from_end, idx in enumerate(reversed(order)):
        j = len(pvals) - rank_from_end
        running = min(running, pvals[idx] * m / j)
        q[idx] = min(running, 1.0)
    return q


def test_bh_running_min_matches_reference(spark):
    """The BH window (running min of p*m/rank from the worst rank down)
    equals the textbook sorted-scan reference on a fixed awkward p-value
    set (duplicates, an exact 1.0, a non-monotone step)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    pvals = [0.01, 0.04, 0.04, 0.3, 1.0, 0.02, 0.9]
    m = len(pvals)
    df = spark.createDataFrame(
        [(f"t{i}", p) for i, p in enumerate(pvals)], "t string, p_value double"
    )
    rk = F.row_number().over(Window.orderBy(F.col("p_value").asc(), F.col("t").asc()))
    wmin = Window.orderBy(F.col("p_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    got = {
        r.t: r.q
        for r in df.withColumn("p_rank", rk)
        .withColumn(
            "q",
            F.round(F.least(F.min(F.col("p_value") * m / F.col("p_rank")).over(wmin), F.lit(1.0)), 9),
        )
        .collect()
    }
    ref = _brute_bh(pvals, m)
    for i, p in enumerate(pvals):
        assert abs(got[f"t{i}"] - round(ref[i], 9)) <= 1e-9, (i, got[f"t{i}"], ref[i])


_mmr_strategy = st.lists(
    st.tuples(
        st.sampled_from([1.0, 2.0, 3.0, 5.0]),  # coarse scores -> rel ties
        st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),  # 1-d "embedding"
    ),
    min_size=2,
    max_size=8,
)


def _brute_mmr(cands, k, lam):
    """Reference greedy on (id, rel, x) with 1-d cosine = sign(x_a * x_b)
    when both nonzero, skipping zero-norm pairs like the operator's
    missing-pair contract does NOT (zero vectors still have pairs here --
    keep all vectors nonzero-normable by construction below)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def r6(v):
        return float(Decimal(v).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def r7(v):
        return float(Decimal(v).quantize(Decimal("0.0000001"), ROUND_HALF_UP))

    max_s = max(rel for _, rel, _ in cands)
    rels = {i: r6(rel / max_s) for i, rel, _ in cands}
    vec = {i: x for i, _, x in cands}

    def sim(a, b):
        na, nb = abs(vec[a]), abs(vec[b])
        return r6((vec[a] * vec[b]) / (na * nb))

    chosen, out = [], []
    remaining = dict(rels)
    while remaining and len(out) < k:
        best = None
        for d, rel in remaining.items():
            pairs = [sim(d, s) for s in chosen if vec[d] != 0 and vec[s] != 0]
            pen = max(pairs) if pairs else 0.0
            score = r7(lam * rel - (1.0 - lam) * pen)
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, score)
        _, d, score = best
        chosen.append(d)
        out.append((d, len(out) + 1, score))
        del remaining[d]
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_mmr_strategy)
def test_mmr_matches_reference_greedy(spark, rows):
    from aws_glue_etl_sample_hist_spark.operators.ranking import mmr_rerank

    # nonzero 1-d vectors only: cosine(a, b) = sign agreement, and the
    # operator's norm floor never kicks in
    rows = [(i, s, x if x != 0.0 else 1.0) for i, (s, x) in enumerate(rows)]
    cand = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score double"
    )
    emb = spark.createDataFrame(
        [(i, [x]) for i, _, x in rows], "vec_id long, embedding array<double>"
    )
    got = sorted(
        ((r.doc_id, r.mmr_rank, r.mmr_score) for r in mmr_rerank(cand, emb, k=4, lam=0.7).collect()),
        key=lambda t: t[1],
    )
    assert got == _brute_mmr(rows, 4, 0.7)


# ------------------------- winnowing vs reference (Schleimer et al. 2003)

_winnow_docs = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=14
    ),
    min_size=1,
    max_size=5,
)


def _brute_winnow(toks: list[str], k: int = 3, w: int = 4):
    """Pure-python replay of the operator's exact arithmetic: md5-derived
    32-bit gram hashes packed as h*2^20 - pos, per-window min (rightmost
    tie via the packing), full windows only except a short doc's single
    truncated window. Returns (n_grams, selected hash set)."""
    import hashlib

    M = 1 << 20
    grams = (
        [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k
        else [" ".join(toks)]
    )
    keys = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) * M - (p + 1)
        for p, g in enumerate(grams)
    ]
    n = len(keys)
    sel = set()
    for p in range(n):
        if p + 1 <= n - w + 1 or p == 0:
            sel.add(min(keys[p : p + w]))
    # fingerprints are (hash, position) pairs (the paper's definition):
    # the same gram hash selected at two positions counts twice, so the
    # set stays keyed by the PACKED key and only the summary decodes
    return n, len(sel), sum(kk // M + 1 for kk in sel)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_winnow_docs)
def test_winnow_fingerprints_match_reference(spark, docs_toks):
    """Operator output (n_grams, n_fp, fp_sum) equals the pure-python
    reference on randomized small-vocab token lists -- the small vocab
    forces repeated grams, exercising the rightmost-tie rule and the
    distinct-selection semantics."""
    from aws_glue_etl_sample_hist_spark.operators.text import (
        winnow_fingerprints,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_fp, r.fp_sum)
        for r in winnow_fingerprints(df, k=3, w=4).collect()
    }
    for i, toks in enumerate(docs_toks):
        assert got[i] == _brute_winnow(toks), (i, toks, got[i])


# ------------------------- epoch waterfilling invariants

_epoch_sources = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=20),  # clean docs
        st.integers(min_value=0, max_value=20),  # junk docs
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_epoch_sources, st.sampled_from([1.5, 2.0, 3.0]))
def test_epoch_plan_waterfilling_invariants(spark, mix, bf):
    """On randomized clean/junk source mixes: every source's epochs stay
    within [min(bf, cap_min)-ish floor, cap]; the planned token total
    equals the budget when feasible (and the full cap allocation when
    not); capped rows sit exactly at their cap."""
    from aws_glue_etl_sample_hist_spark.operators.sampling import (
        epoch_budget_plan,
    )

    clean = ("the quick brown fox and the lazy dog were that " * 4).strip()
    junk = ("zxqv wkjh qpzm vbnm xswd " * 6).strip()
    rows, did = [], 0
    for s, (nc, nj) in enumerate(mix):
        for _ in range(nc):
            rows.append((did, clean, "en", f"src{s}")); did += 1
        for _ in range(nj):
            rows.append((did, junk, "en", f"src{s}")); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = epoch_budget_plan(docs, bf).collect()
    total = sum(r.n_tokens for r in out)
    planned = sum(r.planned_tokens for r in out)
    feasible = out[0].budget_feasible
    for r in out:
        assert 0.0 < r.epochs <= r.epoch_cap + 1e-9
        assert r.budget_feasible == feasible
        if r.capped:
            assert abs(r.epochs - r.epoch_cap) < 1e-9
    if feasible:
        # budget exhausted up to per-source 6-dp rounding
        assert abs(planned - bf * total) <= 0.01 * len(out) * total + 1.0
    else:
        # infeasible: everything capped
        assert all(r.capped for r in out)
        assert planned <= bf * total


# ---- connected-components dual-path agreement (adaptive dispatch) ----

_cc_graph = st.builds(
    lambda seeds, extra_edges: (sorted(set(seeds)), extra_edges),
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=34),
            st.integers(min_value=0, max_value=34),
        ),
        min_size=0,
        max_size=15,
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_cc_graph)
def test_cc_driver_local_matches_distributed(spark, monkeypatch, graph):
    """The adaptive driver-local union-find path of connected_components
    must return EXACTLY the distributed min-label-propagation fixpoint on
    randomized graphs -- including the contract corners: edge endpoints
    outside the seed node set (they inherit the component's seed-min
    label but never contribute their own id), duplicate edges,
    self-loops, and seed-free components (which must not appear at all)."""
    from aws_glue_etl_sample_hist_spark.operators import _local
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        connected_components,
    )

    seeds, edges = graph
    edges = [(a, b) for a, b in edges if a != b]
    nodes_df = spark.createDataFrame([(s,) for s in seeds], "doc_id long")
    pairs_df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs_df = pairs_df.filter(F.col("doc_a") != F.col("doc_b"))
    monkeypatch.setattr(_local, "LOCAL_CAP", 0)
    dist = connected_components(nodes_df, pairs_df).collect()
    monkeypatch.setattr(_local, "LOCAL_CAP", 10_000)
    loc = connected_components(nodes_df, pairs_df).collect()
    assert sorted((r.doc_id, r.cluster_id) for r in dist) == sorted(
        (r.doc_id, r.cluster_id) for r in loc
    )
