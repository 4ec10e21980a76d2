"""Streaming-specific behavior not covered by the oracle gate: output-mode
semantics, micro-batch staging and the streaming merge's dispatch paths."""

from __future__ import annotations

import os


def test_append_mode_emits_only_watermark_closed_windows(spark, sf_small):
    """Append output mode with a watermark: the availableNow run emits only
    windows the watermark has closed -- a strict subset of the batch answer,
    and exactly the windows whose end precedes (max event time - delay)."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.streaming.jobs import (
        _read_events_stream,
        _run_to_memory,
    )

    ev = _read_events_stream(spark, sf_small).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n_events")
    )
    appended = _run_to_memory(agg, "append")

    from aws_glue_etl_sample_hist_spark.catalog import load_table

    batch = load_table(spark, sf_small, "events")
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    full = {
        (r.ws, r.we): r.n_events
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n_events")
        .collect()
    }
    got = {(r.ws, r.we): r.n_events for r in appended.collect()}

    assert got  # something was closed and emitted
    assert set(got) < set(full)  # strict subset: the tail window is still open
    for k, v in got.items():
        assert full[k] == v  # closed windows carry exact batch counts
    # every emitted window is closed by the final watermark (1h behind max ts)
    import datetime

    wm = max_ts - datetime.timedelta(hours=1)
    assert all(we <= wm for (_, we) in got)
    # and every batch window fully before the watermark WAS emitted
    assert all((ws, we) in got for (ws, we) in full if we <= wm)


def test_stream_dedup_collapses_doubled_source_to_batch_answer(spark, sf_small):
    """The dedup job reads the source twice (every event duplicated); its
    aggregate must equal the single-copy batch aggregate -- state kept one
    copy per event_id and dropped exactly the duplicates."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.streaming.jobs import stream_events_dedup_agg

    got = stream_events_dedup_agg(spark, sf_small)
    want = (
        load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_quality_quantiles_replay_idempotent(spark, sf_small):
    """The quantile monitor's replay contract: additive histogram state is
    keyed by batch id and written with OVERWRITE, so re-delivering a batch
    rewrites its state in place instead of double-counting. Simulate the
    redelivery by running the job, then re-running a batch fold into the
    same state layout and checking the merged histogram is unchanged."""
    import os

    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.operators.text import token_count
    from aws_glue_etl_sample_hist_spark.streaming.jobs import (
        stream_quality_quantiles,
    )

    out = {r.q: r for r in stream_quality_quantiles(spark, sf_small).collect()}
    assert set(out) == {0.25, 0.5, 0.75, 0.9}
    n = {r.n_docs for r in out.values()}
    # every quantile row sees the same (full) doc count = no double counts
    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    assert n == {docs.count()}
    for r in out.values():
        assert r.within_bound, r
        assert r.abs_err <= 32.0
    # quantiles are monotone in q
    assert out[0.25].est <= out[0.5].est <= out[0.75].est <= out[0.9].est

    # direct state-layout replay: folding the SAME batch twice with
    # overwrite-by-batch-id leaves the merged histogram unchanged
    import tempfile

    state = tempfile.mkdtemp(prefix="qq_replay_")
    b = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.least(
            F.floor(token_count(F.col("text")) / 16), F.lit(63)
        ).cast("long").alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    for _ in range(2):  # deliver batch 0 twice
        b.write.mode("overwrite").parquet(os.path.join(state, "batch_0"))
    merged = (
        spark.read.parquet(os.path.join(state, "batch_*"))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    assert merged == docs.filter(F.col("doc_id") % 3 == 0).count()


def test_stream_dedup_local_merge_paths_agree(spark, sf_small, monkeypatch):
    """The r15 driver-local streaming merge, its distributed fallback, and
    a mid-stream cap trip (local batch 0, distributed afterwards -- the
    disable-and-never-resume transition) all produce the SAME labels as
    the batch dedup_clusters fixpoint."""
    import aws_glue_etl_sample_hist_spark.streaming.jobs as sj
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_small, "documents")
    want = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(docs, n=3, threshold=0.2).collect()
    }
    real = sj._local_cluster_merge

    def run():
        return {
            (r.doc_id, r.cluster_id)
            for r in sj.stream_dedup_clusters(spark, sf_small).collect()
        }

    # 1. local path (the default)
    assert run() == want

    # 2. full distributed fallback (every merge refuses the local path;
    #    state rows then carry NULL labels and must still compose)
    monkeypatch.setattr(sj, "_local_cluster_merge", lambda *a, **k: None)
    assert run() == want

    # 3. mid-stream disable: batch 0 merges locally (labeled state rows),
    #    later batches run distributed over that mixed state
    calls = {"n": 0}

    def trip_after_first(*a, **k):
        calls["n"] += 1
        return real(*a, **k) if calls["n"] == 1 else None

    monkeypatch.setattr(sj, "_local_cluster_merge", trip_after_first)
    assert run() == want
    assert calls["n"] == 2  # batch 1 tripped; batch 2 never re-probed


def test_stage_slices_stages_an_empty_slice(spark, tmp_path):
    """A slice value with no rows still gets its s{i} dir, holding a
    zero-row file with the input schema, so a one-file-per-trigger drain
    sees exactly n micro-batches."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.streaming.jobs import _stage_slices

    df = spark.range(12).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    src = str(tmp_path / "src")
    # slice value 1 never occurs
    _stage_slices(df, F.when(F.col("doc_id") % 2 == 0, 0).otherwise(2), src)
    counts = []
    for s in range(3):
        part = spark.read.parquet(os.path.join(src, f"s{s}"))
        assert part.schema.fieldNames() == ["doc_id", "text"]
        counts.append(part.count())
    assert counts == [6, 0, 6]

    batches = []
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/s*")
        .writeStream.foreachBatch(lambda b, i: batches.append(b.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(batches) == [0, 6, 6]
