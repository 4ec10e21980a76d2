"""sf1 core-scaling probe for the composed pipelines (VERDICT r14 item 6).

The three pipeline rows read ~1.0 at 8-vs-32 cores on sf0.1, where their
walls are job-scheduling floor; this probe re-measures the SAME ratio at
the measurement-only sf1 set (tools/make_sf1.py, 10x data), where the
data-bound stages must parallelize or name their serial stage. One
pipeline run per INVOCATION (master is fixed at session creation), so a
wrapper alternates core counts across processes:

    for i in 1 2 3; do
      SPARK_GRAFT_CPUS=32 python tools/scaling_pipes_sf1.py <name>
      SPARK_GRAFT_CPUS=8  python tools/scaling_pipes_sf1.py <name>
    done

Appends one JSON line per run to scratch/scaling_pipes_sf1.jsonl:
{"name": ..., "cpus": N, "wall": W, "sentinel": S, "stages": {...}}.
The frozen bench sentinel rides along so a drift window on one arm is
visible in the record instead of silently skewing the ratio.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import _sentinel_trial  # noqa: E402

from aws_glue_etl_sample_hist_spark.operators._cache import (  # noqa: E402
    release_operator_caches,
)
from aws_glue_etl_sample_hist_spark.session import get_spark  # noqa: E402

SF1 = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "scratch", "testdata", "sf1")
)
OUT = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "scratch", "scaling_pipes_sf1.jsonl"
    )
)


def main() -> None:
    name = sys.argv[1]
    spark = get_spark(f"scaling_sf1_{name}")
    from aws_glue_etl_sample_hist_spark.plans.refresh import run_corpus_refresh
    from aws_glue_etl_sample_hist_spark.plans.retrieval import run_retrieval

    runners = {
        "retrieval_pipeline": run_retrieval,
        "corpus_refresh_pipeline": run_corpus_refresh,
    }
    fn = runners[name]
    # warm codegen/scan paths so the ratio is not JIT-bound
    spark.read.parquet(os.path.join(SF1, "lineitem.parquet")).count()
    s0 = _sentinel_trial(spark, SF1)
    with tempfile.TemporaryDirectory(prefix="scaling_sf1_") as tmp:
        t0 = time.perf_counter()
        stages = fn(spark, SF1, tmp)
        wall = round(time.perf_counter() - t0, 3)
    release_operator_caches()
    spark.catalog.clearCache()
    s1 = _sentinel_trial(spark, SF1)
    rec = {
        "name": name,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "wall": wall,
        "sentinel": [round(s0, 3), round(s1, 3)],
        "stages": {k: round(v, 3) for k, v in (stages or {}).items()},
    }
    with open(OUT, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
