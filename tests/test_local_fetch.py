"""The one bounded driver-local fetch (`operators/_local.py::fetch_bounded`)
and the rule that no other package module hand-rolls its own probe; and
the rule that the pipelines and the persisted ANN indexes read their tiers
through `io.sources.read_tier`, never through a schema-inferring
`.read.parquet(`."""

from __future__ import annotations

import os
import re

import pytest

from aws_glue_etl_sample_hist_spark.operators._local import fetch_bounded

PKG = os.path.join(
    os.path.dirname(__file__), "..", "aws_glue_etl_sample_hist_spark"
)


def test_fetch_bounded_cap_is_inclusive(spark):
    df = spark.range(5)
    got = fetch_bounded(df, 5)
    assert sorted(got["id"].tolist()) == [0, 1, 2, 3, 4]
    assert fetch_bounded(df, 4) is None


def test_fetch_bounded_refuses_null_ids_and_non_finite_values(spark):
    schema = "src long, dst long, weight double"
    null_id = spark.createDataFrame([(1, None, 1.0)], schema)
    with pytest.raises(ValueError, match="'dst'"):
        fetch_bounded(null_id, 10, ids=("src", "dst"))
    for bad in (float("nan"), float("inf"), None):
        df = spark.createDataFrame([(1, 2, 1.0), (2, 1, bad)], schema)
        with pytest.raises(ValueError, match="'weight'"):
            fetch_bounded(df, 10, ids=("src", "dst"), finite=("weight",))
    ok = spark.createDataFrame([(1, 2, 1.0)], schema)
    assert len(fetch_bounded(ok, 10, ids=("src", "dst"), finite=("weight",))) == 1


def test_fetch_bounded_keeps_spark_types_and_handles_zero_rows(spark):
    df = spark.createDataFrame(
        [("a", "b", 2), ("0007", "b", 3)], "src string, dst string, n long"
    )
    got = fetch_bounded(df, 10, ids=("src", "dst"))
    assert sorted(got["src"].tolist()) == ["0007", "a"]
    assert sorted(got["n"].tolist()) == [2, 3]
    assert all(type(v) is int for v in got["n"].tolist())
    empty = fetch_bounded(df.limit(0), 0, ids=("src",))
    assert empty is not None and len(empty) == 0
    assert list(empty.columns) == ["src", "dst", "n"]


# `.limit(<expr>)` followed (across whitespace or a line break) by
# `.toPandas(` -- one level of nested parentheses covers `limit(cap + 1)`
# and `limit(int(n) + 1)`
_PROBE = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\)\s*\.toPandas\(")


def test_no_hand_rolled_limit_topandas_probe_outside_local():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if rel == os.path.join("operators", "_local.py"):
                continue
            with open(path) as f:
                if _PROBE.search(f.read()):
                    offenders.append(rel)
    assert offenders == [], (
        f"{offenders} fetch with .limit(...).toPandas(); "
        "use operators._local.fetch_bounded under LOCAL_CAP"
    )
    # the pattern itself must catch the shapes it is meant to forbid
    assert _PROBE.search("pdf = df.limit(cap + 1).toPandas()")
    assert _PROBE.search("x = (\n    df.select('a')\n    .limit(int(n) + 1)\n    .toPandas()\n)")


# `.read.parquet(` infers the schema with a Spark job; the plans and the
# persisted ANN indexes read engine-written tiers, whose footer carries it
_INFERRING_READ = re.compile(r"\.read\s*\.parquet\(")


def test_tier_reads_go_through_read_tier():
    plans = os.path.join(PKG, "plans")
    paths = [
        os.path.join(plans, n) for n in sorted(os.listdir(plans)) if n.endswith(".py")
    ] + [os.path.join(PKG, "operators", "ann_index.py")]
    offenders = []
    for path in paths:
        with open(path) as f:
            src = f.read()
        offenders += [
            f"{os.path.relpath(path, PKG)}:{src.count(chr(10), 0, m.start()) + 1}"
            for m in _INFERRING_READ.finditer(src)
        ]
    assert offenders == [], (
        f"{offenders} read a tier with .read.parquet(; use io.sources.read_tier"
    )
    assert _INFERRING_READ.search("df = spark.read.parquet(os.path.join(d, 'x'))")
    assert _INFERRING_READ.search("df = (\n    spark.read\n    .parquet(p)\n)")
    assert not _INFERRING_READ.search("df = read_tier(spark, os.path.join(d, 'x'))")
