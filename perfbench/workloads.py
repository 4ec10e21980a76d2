"""The benchmark's workloads: what each stages in set-up, what one op is,
and how every op's output is checked.

A workload's ``script`` is the seeded op sequence one pass runs; the
runner repeats the pass as often as the nominal pass time fits in the
measuring time. ``op`` returns an ``OpResult``; ``check`` returns a list of
problems (empty means correct).
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import duckdb
import pyarrow.parquet as pq

from . import inputs
from .measure import tree_bytes


@dataclass
class OpResult:
    rows: int  # input rows the op processed
    timings: dict[str, float] = field(default_factory=dict)  # pipeline task walls
    plan_s: float = 0.0  # retrieval: time inside serve_hybrid()
    exec_s: float = 0.0  # retrieval: time inside collect()
    answer: object = None


class Ctx:
    """Per-run state shared by set-up, ops and checks."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.info: dict[str, dict[str, int]] = {}
        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        self.duck.execute("SET threads=2")

    def close(self) -> None:
        self.duck.close()


def _read_tier(ctx: Ctx, path: str, where: str = "") -> tuple[list[str], list[tuple]]:
    """Column names and rows of a Hive-partitioned parquet tier."""
    cur = ctx.duck.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true) {where}"
    )
    return [d[0] for d in cur.description], cur.fetchall()


# ------------------------------------------------------------ medallion

MARTS = {
    # mart dir -> group-key columns (values: total_purchase_amount, count_of_purchase)
    "mart_salesbybrandtype": ("purchase_year", "purchase_month", "l_returnflag", "p_brand", "p_type"),
    "mart_salesbysupplier": ("l_suppkey", "purchase_year", "purchase_month"),
    "mart_salesbydatetime": ("purchase_year", "purchase_month", "purchase_day", "day_of_week", "day_num"),
    "mart_salesbyregion": ("purchase_year", "purchase_month", "r_name", "n_name"),
}
_INT_KEYS = {"purchase_year", "purchase_month", "purchase_day", "day_num", "l_suppkey"}


def _oracle_mart_sql() -> dict[str, str]:
    """DuckDB SQL for each pipeline mart, over the generated inputs. The
    datetime and region marts are the registered oracles verbatim; the
    brand/type and supplier marts reuse the oracles' silver join."""
    from aws_glue_etl_sample_hist_spark.oracles import _SILVER_FROM, ORACLE_SQL

    ym = "strftime(l.l_shipdate, '%Y') AS purchase_year, strftime(l.l_shipdate, '%m') AS purchase_month"
    agg = "SUM(l.l_extendedprice) AS total_purchase_amount, COUNT(l.l_extendedprice) AS count_of_purchase"
    return {
        "mart_salesbybrandtype": f"SELECT {ym}, l.l_returnflag, p.p_brand, p.p_type, {agg} "
        f"{_SILVER_FROM} GROUP BY ALL",
        "mart_salesbysupplier": f"SELECT l.l_suppkey, {ym}, {agg} FROM lineitem l GROUP BY ALL",
        "mart_salesbydatetime": ORACLE_SQL["mart_sales_by_datetime"],
        "mart_salesbyregion": ORACLE_SQL["mart_sales_by_region"],
    }


def _keyed(cols: list[str], rows: list[tuple], keys: tuple[str, ...]) -> dict[tuple, tuple[float, int]]:
    idx = {c: i for i, c in enumerate(cols)}
    out = {}
    for r in rows:
        key = tuple(
            int(r[idx[k]]) if k in _INT_KEYS and r[idx[k]] is not None else r[idx[k]] for k in keys
        )
        out[key] = (float(r[idx["total_purchase_amount"]]), int(r[idx["count_of_purchase"]]))
    return out


def _diff_marts(name: str, got: dict, want: dict, tol: float) -> list[str]:
    if got.keys() != want.keys():
        return [f"{name}: {len(got.keys() ^ want.keys())} group keys differ"]
    bad = [
        k for k, (s, c) in got.items()
        if c != want[k][1] or abs(s - want[k][0]) > tol + 1e-9 * abs(s)
    ]
    return [f"{name}: {len(bad)} groups differ, e.g. {bad[0]}"] if bad else []


class MedallionMonthly:
    """The reference's monthly load: standing tiers, then single-month
    refreshes through dynamic partition overwrite."""

    name = "medallion_monthly"
    tables = inputs.STAR
    factor = 4
    months_per_pass = 2

    def setup(self, ctx: Ctx) -> None:
        from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion

        run_medallion(ctx.spark, ctx.inputs, ctx.out)

    def prepare(self, ctx: Ctx) -> list[str]:
        """Check the standing full build against DuckDB, snapshot its marts
        and order the months to refresh."""
        for t in inputs.STAR:
            ctx.duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(ctx.inputs, t)}.parquet')"
            )
        problems = []
        self.snapshot = {}
        for mart, sql in _oracle_mart_sql().items():
            cur = ctx.duck.execute(sql)
            want = _keyed([d[0] for d in cur.description], cur.fetchall(), MARTS[mart])
            path = os.path.join(ctx.out, "gold", mart)
            got = _keyed(*_read_tier(ctx, path), MARTS[mart])
            problems += _diff_marts(mart, got, want, tol=0.006)
            self.snapshot[mart] = got
        counts = dict(
            ctx.duck.execute(
                "SELECT strftime(l_shipdate, '%Y%m'), COUNT(*) FROM lineitem GROUP BY 1"
            ).fetchall()
        )
        self.month_rows = counts
        # the months nearest the median size, refreshed in seeded order:
        # rows and bytes per op are the same for every seed
        mid = sorted(counts.values())[len(counts) // 2]
        self.months = sorted(counts, key=lambda m: (abs(counts[m] - mid), m))[: self.months_per_pass]
        random.Random(ctx.seed).shuffle(self.months)
        return problems

    def script(self, ctx: Ctx) -> list[str]:
        return list(self.months)

    def input_bytes(self, ctx: Ctx) -> int:
        return sum(ctx.info[t]["bytes"] for t in inputs.STAR)

    def op(self, ctx: Ctx, month: str) -> OpResult:
        from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion

        timings = run_medallion(ctx.spark, ctx.inputs, ctx.out, months=[month])
        return OpResult(rows=self.month_rows[month], timings=timings)

    def _marts_match(self, ctx: Ctx, month: str | None) -> list[str]:
        problems = []
        for mart, snap in self.snapshot.items():
            path = os.path.join(ctx.out, "gold", mart)
            where = ""
            if month is not None:
                where = f"WHERE purchase_year = {int(month[:4])} AND purchase_month = {int(month[4:])}"
                snap = {k: v for k, v in snap.items() if _ym(k, MARTS[mart]) == month}
            got = _keyed(*_read_tier(ctx, path, where), MARTS[mart])
            problems += _diff_marts(mart, got, snap, tol=1e-6)
        return problems

    def check(self, ctx: Ctx, month: str, res: OpResult) -> list[str]:
        silver = ctx.duck.execute(
            f"SELECT COUNT(*) FROM read_parquet('{ctx.out}/silver/purchase_all_info/**/*.parquet', "
            f"hive_partitioning=true) WHERE purchase_year = {int(month[:4])} "
            f"AND purchase_month = {int(month[4:])}"
        ).fetchone()[0]
        problems = [] if silver == self.month_rows[month] else [f"silver {month}: {silver} rows"]
        return problems + self._marts_match(ctx, month)

    def final_check(self, ctx: Ctx) -> list[str]:
        """After the refresh loop the tiers still equal the full build."""
        return self._marts_match(ctx, None)


def _ym(key: tuple, keys: tuple[str, ...]) -> str:
    d = dict(zip(keys, key))
    return f"{d['purchase_year']:04d}{d['purchase_month']:02d}"


# ------------------------------------------------------------ curation

class CorpusCuration:
    """The LLM-data DAG: stats, near-dup clustering, decontamination,
    sharding, manifest."""

    name = "corpus_curation"
    tables = ("documents",)
    factor = 1

    def setup(self, ctx: Ctx) -> None:
        """Nothing to stage: each op runs the whole DAG from the documents."""

    def prepare(self, ctx: Ctx) -> list[str]:
        """The release as the in-memory composition of the same operators
        (the rule tests/test_curation.py pins). Running those operators
        here also warms the JVM before the first timed op."""
        from pyspark.sql import functions as F

        from aws_glue_etl_sample_hist_spark.catalog import load_table
        from aws_glue_etl_sample_hist_spark.operators.dedup import cluster_best_keeper, contamination_flags
        from aws_glue_etl_sample_hist_spark.plans.curation import BENCH_MAX_DOC_ID
        from aws_glue_etl_sample_hist_spark.queries import q_text_stats

        spark = ctx.spark
        docs = load_table(spark, ctx.inputs, "documents")
        stats = q_text_stats(spark, ctx.inputs).select("doc_id", "quality_score")
        keepers = cluster_best_keeper(docs, n=3, threshold=0.2, max_df=100).select(
            F.col("keeper_doc_id").alias("doc_id")
        )
        cleaned = (
            docs.join(keepers, "doc_id")
            .join(stats, "doc_id")
            .filter((F.col("quality_score") >= 0.5) & (F.col("doc_id") >= BENCH_MAX_DOC_ID))
        )
        bench = docs.filter(F.col("doc_id") < BENCH_MAX_DOC_ID)
        contaminated = contamination_flags(cleaned, bench, n=5).filter(
            F.col("is_contaminated") == 1
        ).select("doc_id")
        self.want = {r.doc_id for r in cleaned.join(contaminated, "doc_id", "left_anti").collect()}
        return [] if self.want else ["expected release is empty"]

    def script(self, ctx: Ctx) -> list[str]:
        return ["dag"]

    def input_bytes(self, ctx: Ctx) -> int:
        return ctx.info["documents"]["bytes"]

    def op(self, ctx: Ctx, _: str) -> OpResult:
        from aws_glue_etl_sample_hist_spark.plans.curation import run_curation

        timings = run_curation(ctx.spark, ctx.inputs, ctx.out)
        return OpResult(rows=ctx.info["documents"]["rows"], timings=timings)

    def check(self, ctx: Ctx, _: str, res: OpResult) -> list[str]:
        p = os.path.join
        released = [r[0] for r in ctx.duck.execute(
            f"SELECT doc_id FROM read_parquet('{p(ctx.out, 'c2', 'released')}/**/*.parquet')"
        ).fetchall()]
        training = [r[0] for r in ctx.duck.execute(
            f"SELECT doc_id FROM read_parquet('{p(ctx.out, 'c3', 'training')}/**/*.parquet')"
        ).fetchall()]
        manifest_docs = ctx.duck.execute(
            f"SELECT SUM(n_docs) FROM read_parquet('{p(ctx.out, 'c3', 'manifest')}/**/*.parquet')"
        ).fetchone()[0]
        problems = []
        if len(released) != len(set(released)) or set(released) != self.want:
            problems.append(f"release: {len(released)} rows, want {len(self.want)} distinct docs")
        if sorted(training) != sorted(released):
            problems.append("training shards do not hold each released doc exactly once")
        if manifest_docs != len(released):
            problems.append(f"manifest counts {manifest_docs} docs, release has {len(released)}")
        return problems

    def final_check(self, ctx: Ctx) -> list[str]:
        return []


# ------------------------------------------------------------ retrieval

RRF_K = 60.0
QUERIES_PER_PASS = 4


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _cosine(a: list[float], b: list[float]) -> float:
    """operators.similarity.cosine term for term: left-to-right double sums."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot / max(math.sqrt(na) * math.sqrt(nb), 1e-12)


class RetrievalServe:
    """Indexes at rest, then an interactive session of related hybrid
    (BM25 + vector, RRF-fused) top-k queries, each collected to the driver."""

    name = "retrieval_serve"
    tables = inputs.CORPUS
    factor = 1

    def setup(self, ctx: Ctx) -> None:
        from aws_glue_etl_sample_hist_spark.plans.retrieval import run_retrieval

        run_retrieval(ctx.spark, ctx.inputs, ctx.out)

    def prepare(self, ctx: Ctx) -> list[str]:
        """Seed the session's queries and compute each expected answer once,
        in plan: BM25 from the operator over the cleaned corpus (not the
        postings), cosine by brute force over the cleaned corpus's vectors
        (not the IVF cells), fused by the serving rule."""
        from pyspark.sql import DataFrame, functions as F

        from aws_glue_etl_sample_hist_spark.operators.ranking import bm25_topk

        # the r0 tier is the corpus every index was built from; the
        # expected answers read it, never the indexes
        cleaned = ctx.spark.read.parquet(os.path.join(ctx.out, "cleaned"))
        ids = set(pq.read_table(os.path.join(ctx.out, "cleaned"), columns=["doc_id"]).column(0).to_pylist())
        vectors = pq.read_table(os.path.join(ctx.inputs, "embeddings.parquet"), columns=["vec_id", "embedding"])
        emb = {
            vid: [float(x) for x in v]
            for vid, v in zip(vectors.column(0).to_pylist(), vectors.column(1).to_pylist())
            if vid in ids
        }
        self.n_docs = len(ids)
        rng = random.Random(ctx.seed)
        vocab = sorted(
            {t for s in pq.read_table(os.path.join(inputs.BASE_DIR, "documents.parquet"))
             .column("text").to_pylist() for t in s.lower().split()}
        )
        topic = rng.sample([t for t in vocab if len(t) > 3], 4)  # the session's shared terms
        self.queries = []
        for j in range(QUERIES_PER_PASS):
            terms = sorted(rng.sample(topic, 1 + j % 3))
            qid = rng.choice(sorted(emb))
            self.queries.append((tuple(terms), qid))
        self.vectors = {qid: emb[qid] for _, qid in self.queries}
        # every query's BM25 top-20 in one action
        lexical = reduce(DataFrame.unionByName, [
            bm25_topk(cleaned, list(terms), k=20).withColumn("q", F.lit(j))
            for j, (terms, _) in enumerate(self.queries)
        ]).collect()
        self.want = {}
        for j, (terms, qid) in enumerate(self.queries):
            lex = sorted(((r.score, r.doc_id) for r in lexical if r.q == j), key=lambda t: (-t[0], t[1]))
            qv = self.vectors[qid]
            sem = sorted(
                ((_cosine(qv, v), vid) for vid, v in emb.items() if vid != qid),
                key=lambda t: (-t[0], t[1]),
            )[:20]
            score: dict[int, float] = {}
            lex_rank = {d: i + 1 for i, (_, d) in enumerate(lex)}
            sem_rank = {d: i + 1 for i, (_, d) in enumerate(sem)}
            for d in lex_rank.keys() | sem_rank.keys():
                a = 1.0 / (RRF_K + lex_rank[d]) if d in lex_rank else 0.0
                b = 1.0 / (RRF_K + sem_rank[d]) if d in sem_rank else 0.0
                score[d] = _round6(a + b)
            top = sorted(score.items(), key=lambda t: (-t[1], t[0]))[:10]
            self.want[(terms, qid)] = [(i + 1, d, s) for i, (d, s) in enumerate(top)]
        self.index_bytes = sum(
            tree_bytes(os.path.join(ctx.out, d)) for d in ("postings", "lengths", "stats", "ivf")
        )
        self.index_write_amp = tree_bytes(ctx.out) / self.input_bytes(ctx)
        return []

    def script(self, ctx: Ctx) -> list[tuple]:
        return list(self.queries)

    def input_bytes(self, ctx: Ctx) -> int:
        return sum(ctx.info[t]["bytes"] for t in inputs.CORPUS)

    def op(self, ctx: Ctx, query: tuple) -> OpResult:
        from aws_glue_etl_sample_hist_spark.plans.retrieval import serve_hybrid

        terms, qid = query
        t0 = time.perf_counter()
        df = serve_hybrid(ctx.spark, ctx.out, list(terms), (qid, self.vectors[qid]))
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        return OpResult(rows=self.n_docs, plan_s=t1 - t0, exec_s=t2 - t1,
                        answer=[(r["rank"], r.doc_id, r.rrf_score) for r in rows])

    def check(self, ctx: Ctx, query: tuple, res: OpResult) -> list[str]:
        want = self.want[query]
        got = sorted(res.answer)
        ok = len(got) == len(want) and all(
            g[:2] == w[:2] and abs(g[2] - w[2]) <= 2e-6 for g, w in zip(got, want)
        )
        return [] if ok else [f"query {query}: answer differs from the in-plan answer"]

    def final_check(self, ctx: Ctx) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (MedallionMonthly, CorpusCuration, RetrievalServe)}
