"""Seeded input generator for the pipeline benchmark.

The base tables under ``perfbench/base`` are the sf0.001 star schema plus
the document corpus and its embeddings. ``generate`` replicates them by a
factor with the construction of ``tools/make_sf1.py``:

* key columns get a ``replica * 10_000_000`` offset, so join fan-outs and
  group cardinalities grow with the factor while nation/region stay fixed;
* text columns of every replica after the first are rewritten through a
  per-replica vocabulary permutation, so duplicate structure inside a
  replica is kept and cross-replica matches occur at chance rates;
* embeddings of every replica after the first get a circular component
  shift (norm-preserving);
* timestamps and measures are untouched; replica 0 is the base data.

The seed picks every permutation and shift, and the row order of each
replicated star-schema table, so each seed gives different star-schema
bytes even at factor 1. At factor 1 the corpus is the same for every seed.
Unlike ``tools/make_sf1.py``, the permutation maps a token only to another
of the same length and keeps the quality stopwords fixed, so token-length,
stopword and diversity statistics do not drift with the seed. The same
seed and factor always write byte-identical tables.
"""

from __future__ import annotations

import os
import random
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
KEY_OFFSET = 10_000_000

KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TEXT_COLS = {"documents": ["text"], "part": ["p_name", "p_brand", "p_type"]}
FIXED = ("nation", "region")
STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CORPUS = ("documents", "embeddings")

_TOKEN_RE = re.compile(r"\S+")
# operators.text.QUALITY_STOPWORDS: kept fixed so quality scores do not move
STOPWORDS = frozenset(("the", "a", "of", "and", "is"))


def _permuter(vocab: list[str], rng: random.Random):
    """A seeded bijection on ``vocab`` within each token length, with the
    quality stopwords fixed points."""
    mapping = {w: w for w in vocab if w in STOPWORDS}
    by_len: dict[int, list[str]] = {}
    for w in vocab:
        if w not in STOPWORDS:
            by_len.setdefault(len(w), []).append(w)
    for group in by_len.values():
        shuffled = list(group)
        rng.shuffle(shuffled)
        mapping.update(zip(group, shuffled))
    return lambda s: (
        None if s is None else _TOKEN_RE.sub(lambda m: mapping[m.group(0)], s)
    )


def _set(tab: pa.Table, name: str, values) -> pa.Table:
    i = tab.schema.get_field_index(name)
    field = tab.schema.field(name)
    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        values = pa.array(values, type=field.type)
    return tab.set_column(i, field, values)


def _replica(src: pa.Table, name: str, i: int, seed: int) -> pa.Table:
    tab = src
    for c in KEY_COLS.get(name, ()):
        tab = _set(tab, c, pc.add(tab.column(c), pa.scalar(i * KEY_OFFSET, tab.schema.field(c).type)))
    if i == 0:
        return tab
    rng = random.Random(seed * 1_000_003 + i)
    if name in TEXT_COLS:
        cols = TEXT_COLS[name]
        vocab = sorted({t for c in cols for s in src.column(c).to_pylist() if s for t in _TOKEN_RE.findall(s)})
        perm = _permuter(vocab, rng)
        for c in cols:
            tab = _set(tab, c, [perm(s) for s in tab.column(c).to_pylist()])
        if name == "documents":
            tab = _set(tab, "n_chars", [None if s is None else len(s) for s in tab.column("text").to_pylist()])
    if name == "embeddings":
        dim = len(src.column("embedding")[0])
        k = rng.randrange(1, dim)
        tab = _set(
            tab, "embedding",
            [None if v is None else v[k:] + v[:k] for v in tab.column("embedding").to_pylist()],
        )
    return tab


def generate(out_dir: str, seed: int, factor: int, tables: tuple[str, ...]) -> dict[str, dict[str, int]]:
    """Write ``tables`` replicated ``factor`` times into ``out_dir`` as
    ``<name>.parquet``; returns ``{name: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    info: dict[str, dict[str, int]] = {}
    for name in tables:
        src = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        if name in FIXED:
            out = src
        else:
            out = pa.concat_tables([_replica(src, name, i, seed) for i in range(factor)])
            if name not in CORPUS:
                # the corpus keeps its order: with it shuffled, the curation
                # DAG's bytes written per input byte split into two modes
                # (7.0 or 8.4) by seed
                order = list(range(out.num_rows))
                random.Random(seed).shuffle(order)
                out = out.take(order)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(out, path)
        info[name] = {"rows": out.num_rows, "bytes": os.path.getsize(path)}
    return info
