"""Workloads at sf0.001 scale, the closed loop's failure accounting, the
tail-percentile rule and the seeded generator."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs, measure
from perfbench.run import SESSION, closed_loop, n_passes
from perfbench.workloads import WORKLOADS, Ctx, OpResult


# ------------------------------------------------------------ tail rule

@pytest.mark.parametrize("n", [1, 2, 10, 11, 19])
def test_tail_is_the_max_below_twenty_samples(n):
    xs = [float(i) for i in range(n)]
    value, label = measure.tail(xs)
    assert value == n - 1 and label.startswith(f"max of n={n}")


@pytest.mark.parametrize("n,q", [(20, 50), (21, 52), (100, 90), (1000, 99), (250, 96)])
def test_tail_is_highest_percentile_with_ten_beyond(n, q):
    xs = [float(i) for i in range(n)]
    value, label = measure.tail(list(reversed(xs)))
    beyond = sum(x > value for x in xs)
    assert label.startswith(f"p{q} of n={n}")
    assert beyond >= measure.MIN_BEYOND
    # one percentile higher would leave fewer than ten beyond
    rank_next = math.ceil((q + 1) * n / 100)
    assert n - rank_next < measure.MIN_BEYOND


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        measure.tail([])


# ------------------------------------------------------------ error accounting

class _Fake:
    """Ops 'bad' return a wrong output, 'boom' raises, others are right."""

    name = "fake"

    def op(self, ctx, item):
        if item == "boom":
            raise RuntimeError("op failed")
        return OpResult(rows=3)

    def check(self, ctx, item, res):
        return ["wrong answer"] if item == "bad" else []

    def input_bytes(self, ctx):
        return 1


class _FakeCtx:
    def __init__(self, out):
        self.out = out


def test_wrong_and_failed_ops_count_as_errors(tmp_path):
    loop = closed_loop(_Fake(), _FakeCtx(str(tmp_path)), ["ok", "bad", "boom", "ok"], passes=1)
    assert loop.attempted == 4
    assert loop.failed == 2  # error_rate = failed / attempted = 0.5
    assert len(loop.op_walls) == 4 and loop.rows == 9
    assert len(loop.passes[False]) == 1 and not loop.passes[True]


def test_pass_count_depends_on_the_measuring_time_only():
    assert [n_passes(s, trace=False) for s in (0, 4, 10, 17)] == [1, 1, 2, 3]
    assert n_passes(0, trace=True) == 2  # one untraced, one traced


def test_traced_loop_alternates_untraced_and_traced_passes(tmp_path):
    class _Tracer:
        def begin(self):
            pass

        def end(self, t0, t1, spans):
            return dict.fromkeys(SESSION + ("unaccounted_frac",), 0.0)

    fake = _Fake()
    fake.name = "corpus_curation"
    loop = closed_loop(fake, _FakeCtx(str(tmp_path)), ["ok"], passes=3, tracer=_Tracer())
    assert len(loop.passes[False]) == 2 and len(loop.passes[True]) == 1
    assert len(loop.op_walls) == 2 and len(loop.layer_rows) == 1


# ------------------------------------------------------------ generator

def test_generator_is_seeded(tmp_path):
    tables = ("documents", "embeddings", "nation")
    a = inputs.generate(str(tmp_path / "a"), 5, 2, tables)
    b = inputs.generate(str(tmp_path / "b"), 5, 2, tables)
    c = inputs.generate(str(tmp_path / "c"), 6, 2, tables)

    def read(d, t):
        return pq.read_table(os.path.join(tmp_path, d, f"{t}.parquet")).sort_by("doc_id" if t == "documents" else "vec_id")

    def base(t):
        return pq.read_table(os.path.join(inputs.BASE_DIR, f"{t}.parquet"))

    assert a == b and read("a", "documents").equals(read("b", "documents"))
    assert a["documents"]["rows"] == 2 * base("documents").num_rows
    assert a["nation"]["rows"] == base("nation").num_rows  # fixed dims are not replicated
    n = base("documents").num_rows
    docs_a, docs_c = read("a", "documents").to_pydict(), read("c", "documents").to_pydict()
    # replica 0 is the base data; the seed picks replica 1's vocabulary
    assert docs_a["text"][:n] == base("documents").sort_by("doc_id").column("text").to_pylist()
    assert docs_a["text"][n:] != docs_c["text"][n:]
    assert docs_a["doc_id"][n] == docs_a["doc_id"][0] + inputs.KEY_OFFSET
    # the permutation keeps token lengths and stopwords
    for i in range(n):
        src, got = docs_a["text"][i].split(), docs_a["text"][n + i].split()
        assert [len(t) for t in got] == [len(t) for t in src]
        assert [t for t in got if t in inputs.STOPWORDS] == [t for t in src if t in inputs.STOPWORDS]
        assert docs_a["n_chars"][n + i] == len(docs_a["text"][n + i])
    # the shift rotates replica 1's vectors, the seed picks by how much
    va = read("a", "embeddings").column("embedding").to_pylist()
    assert va[n] != va[0] and sorted(va[n]) == sorted(va[0])
    # the seed orders the star schema's rows even at factor 1; the corpus
    # keeps its order
    for t, shuffled in (("lineitem", True), ("documents", False)):
        ids = [
            pq.read_table(os.path.join(tmp_path, f"{t}{s}", f"{t}.parquet")).column(0).to_pylist()
            for s in (1, 2)
            if inputs.generate(str(tmp_path / f"{t}{s}"), s, 1, (t,))
        ]
        assert (ids[0] != ids[1]) == shuffled and sorted(ids[0]) == sorted(ids[1])


# ------------------------------------------------------------ workloads

@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_each_workload_runs_one_checked_op(spark, tmp_path, name):
    wl = WORKLOADS[name]()
    wl.factor = 1  # sf0.001 scale
    ctx = Ctx(spark, str(tmp_path), seed=3)
    ctx.info = inputs.generate(ctx.inputs, ctx.seed, wl.factor, wl.tables)
    wl.setup(ctx)
    assert wl.prepare(ctx) == []
    item = wl.script(ctx)[0]
    res = wl.op(ctx, item)
    assert res.rows > 0
    assert wl.check(ctx, item, res) == []
    assert wl.final_check(ctx) == []
    if name == "retrieval_serve":
        # a wrong answer is caught
        res.answer = [(r, d + 1, s) for r, d, s in res.answer]
        assert wl.check(ctx, item, res)
