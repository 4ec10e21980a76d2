"""Remaining coverage: writer file-count policies and the one LSH recall property that is a theorem rather than a probability --
exact duplicates (identical shingle sets => identical MinHash signatures =>
every band collides) MUST appear as candidate pairs."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.catalog import load_table
from aws_glue_etl_sample_hist_spark.io.sinks import WriterPolicy, write_partitioned


def _parquet_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]


def test_writer_policy_max_files_cap(spark, sf_small, tmp_path):
    out = str(tmp_path / "one_file")
    df = load_table(spark, sf_small, "customer").repartition(8)
    write_partitioned(df, out, policy=WriterPolicy(max_files=1))
    assert len(_parquet_files(out)) == 1


def test_writer_policy_target_rows_splits_files(spark, sf_small, tmp_path):
    out = str(tmp_path / "split_files")
    df = load_table(spark, sf_small, "lineitem").coalesce(1)
    n = df.count()
    target = max(n // 4, 1)
    write_partitioned(df, out, policy=WriterPolicy(target_file_rows=target))
    files = _parquet_files(out)
    # one task, maxRecordsPerFile=target -> ceil(n/target) files, no shuffle
    assert len(files) == -(-n // target)


def test_exact_duplicates_always_lsh_candidates(spark, sf_oracle):
    """Identical texts have identical shingle sets, hence identical MinHash
    signatures, hence collide in EVERY band: each exact-dup pair must be a
    candidate with all 4 shared bands. (General near-dup recall is
    probabilistic; this subset is guaranteed.)"""
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )

    base = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    subset = base.filter(F.col("doc_id") < 20)  # deterministic, unlike limit()
    clones = subset.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    docs = base.union(clones)
    dup_pairs = {(i, i + 100_000) for i in range(20)}
    # sanity: the constructed corpus really has 20 exact-dup groups
    assert exact_dedup(docs).filter(F.col("n_copies") > 1).count() == 20

    cand = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in minhash_lsh_pairs(docs, num_hashes=12, band_size=3).collect()
    }
    for pair in dup_pairs:
        assert pair in cand and cand[pair] == 4, (pair, cand.get(pair))


def test_minhash_lsh_cross_checks_spark_ml(spark, sf_oracle):
    """Cross-validation against pyspark.ml.feature.MinHashLSH on the same
    shingle sets: both probabilistic candidate generators, exact-filtered to
    the true Jaccard>=0.2 pairs, must each recover >=85% of the exact
    inverted-index answer -- two independent implementations agreeing pins
    the operator's semantics, not just its self-consistency. (Spark-ML's
    approxSimilarityJoin exact-filters internally; ours filters via the
    ngram_jaccard truth set.)"""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from aws_glue_etl_sample_hist_spark.operators.text import tokens, word_shingles

    docs = load_table(spark, sf_oracle, "documents")
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    mine = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, num_hashes=12, band_size=3).collect()}
    sh = docs.select("doc_id", F.array_distinct(word_shingles(tokens(F.col("text")), 3)).alias("sh"))
    feat = CountVectorizer(inputCol="sh", outputCol="features", binary=True).fit(sh).transform(sh)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42).fit(feat)
    ml = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in mh.approxSimilarityJoin(feat, feat, 0.8, distCol="dist").collect()
        if r["datasetA"]["doc_id"] < r["datasetB"]["doc_id"]
    }
    assert len(mine & truth) / len(truth) >= 0.85
    assert len(ml & truth) / len(truth) >= 0.85


def test_manifest_publish_atomic_and_orphan_proof(spark, tmp_path):
    """Manifest publish: (1) readers see exactly the committed file list
    -- an orphan parquet dropped into the data dir is invisible; (2) a
    failed publish (no manifest rename) leaves the previous version
    intact; (3) versions are pinnable."""
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.io.manifest import (
        latest_version,
        publish_tables,
        read_published,
    )

    root = str(tmp_path / "lake")
    a1 = spark.range(10).withColumnRenamed("id", "k")
    b1 = spark.range(5).withColumnRenamed("id", "k")
    v1 = publish_tables({"a": a1, "b": b1}, root)
    assert v1 == 1 and latest_version(root) == 1
    assert read_published(spark, root, "a").count() == 10
    assert read_published(spark, root, "b").count() == 5

    # orphan file in the published dir: invisible (manifest is the table)
    orphan_src = str(tmp_path / "orphan")
    spark.range(99).withColumnRenamed("id", "k").coalesce(1).write.parquet(
        orphan_src
    )
    import glob as _glob
    import shutil

    orphan_file = _glob.glob(orphan_src + "/*.parquet")[0]
    import os as _os

    # data stages under a publisher-unique v1-<run_id> dir; locate it
    [dst_dir] = _glob.glob(_os.path.join(root, "data", "v1-*", "a"))
    shutil.copy(orphan_file, _os.path.join(dst_dir, "zz-orphan.parquet"))
    assert read_published(spark, root, "a").count() == 10  # still 10

    # failed publish: second table's write errors mid-publish -> NO new
    # manifest, previous version untouched
    from pyspark.sql import functions as _F

    pre = latest_version(root)
    b_fail = spark.range(1).select(_F.assert_true(_F.col("id") < 0).alias("k"))
    with _pytest.raises(Exception):
        publish_tables({"a": a1, "b": b_fail}, root)
    assert latest_version(root) == pre  # previous version untouched
    assert read_published(spark, root, "a").count() == 10

    # successful v_next WITHOUT any cleanup: the failed publisher's staged
    # data sits in its own uuid-unique directory, so the retry never
    # collides with it (the ADVICE r8 shared-data-dir race fix)
    a2 = spark.range(20).withColumnRenamed("id", "k")
    v2 = publish_tables({"a": a2, "b": b1}, root)
    assert read_published(spark, root, "a").count() == 20
    assert read_published(spark, root, "a", version=1).count() == 10
    assert v2 == pre + 1

    # and the two publishes of "a" live in DISJOINT data directories
    dirs_a = _glob.glob(_os.path.join(root, "data", "v*", "a"))
    assert len(dirs_a) >= 3  # v1 winner, failed v2 stage, v2 winner


def test_manifest_concurrent_publish_never_clobbers(spark, tmp_path, monkeypatch):
    """Two publishers that both read the same latest_version must not
    clobber each other's committed manifest: the commit primitive is an
    exclusive-create link, so the loser raises and the winner's version
    (and every already-committed version) stays byte-identical."""
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.io import manifest as M

    root = str(tmp_path / "lake")
    a1 = spark.range(10).withColumnRenamed("id", "k")
    assert M.publish_tables({"a": a1}, root) == 1

    # simulate the race: this publisher read latest_version() BEFORE v1
    # was committed (stale read), so it stages v1 again under a different
    # table name (no data-dir collision to save it)
    monkeypatch.setattr(M, "latest_version", lambda r: 0)
    b = spark.range(3).withColumnRenamed("id", "k")
    with _pytest.raises(RuntimeError, match="concurrent publish"):
        M.publish_tables({"b": b}, root)

    monkeypatch.undo()
    # the committed v1 is intact: still table "a", still 10 rows, and no
    # leftover staging files
    assert M.latest_version(root) == 1
    assert M.read_published(spark, root, "a").count() == 10
    with _pytest.raises(KeyError):
        M.read_published(spark, root, "b")
    leftovers = [
        f for f in os.listdir(os.path.join(root, "_manifests")) if "staged" in f
    ]
    assert leftovers == []


def test_manifest_empty_table_roundtrip(spark, tmp_path):
    """A 0-row table (possibly 0 part files) publishes and reads back as
    an empty DataFrame with its recorded schema, not a TypeError."""
    from aws_glue_etl_sample_hist_spark.io.manifest import (
        publish_tables,
        read_published,
    )

    root = str(tmp_path / "lake")
    empty = (
        spark.range(10)
        .withColumnRenamed("id", "k")
        .withColumn("tag", F.lit("x"))
        .filter(F.col("k") < 0)
        .repartition(1)
    )
    v = publish_tables({"void": empty}, root)
    got = read_published(spark, root, "void", version=v)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "tag"]


def test_manifest_counts_and_schema_equal_spark_inference(spark, tmp_path):
    """publish_tables takes n_rows from the staged footers and
    read_published reads with the recorded schema: both equal what a
    Spark count and schema inference over the same files give, and the
    read starts no job."""
    import json

    from aws_glue_etl_sample_hist_spark.io.manifest import (
        publish_tables,
        read_published,
    )

    root = str(tmp_path / "lake")
    df = (
        spark.range(0, 1000, 1, 3)
        .withColumn("tag", F.when(F.col("id") % 3 == 0, None).otherwise(F.lit("x")))
        .withColumn("score", F.col("id") / 7)
        .withColumn("day", F.to_date(F.lit("2024-01-31")))
        .filter(F.col("id") % 5 != 0)
    )
    v = publish_tables({"t": df}, root)
    with open(os.path.join(root, "_manifests", f"v{v}.json")) as f:
        entry = json.load(f)["tables"]["t"]
    inferred = spark.read.parquet(*entry["files"])
    assert len(entry["files"]) > 1
    assert entry["n_rows"] == inferred.count() == 800

    sc = spark.sparkContext
    sc.setJobGroup("manifest-read-probe", "job count probe")
    try:
        got = read_published(spark, root, "t")
        jobs = sc.statusTracker().getJobIdsForGroup("manifest-read-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, inferred.collect()))


def test_manifest_read_without_commit_names_the_root(spark, tmp_path):
    """A root with no committed manifest raises FileNotFoundError naming
    the root, not an open() error on a v0 manifest that never exists."""
    import pytest as _pytest

    from aws_glue_etl_sample_hist_spark.io.manifest import read_published

    root = str(tmp_path / "never_published")
    with _pytest.raises(FileNotFoundError, match="no committed manifest") as exc:
        read_published(spark, root, "a")
    assert root in str(exc.value)
