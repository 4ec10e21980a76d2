"""Structured Streaming surface of the engine.

The reference has no true streaming (SURVEY.md §2.9) -- its analog is a
monthly EventBridge-cron micro-batch with dynamic partition overwrite.
Spark-first, that pattern IS `readStream` + `Trigger.AvailableNow`: process
everything available, then stop -- identical semantics to the reference's
scheduled incremental load, but with exactly-once checkpointing for free.

Both jobs here run availableNow into a named in-memory sink and return the
result as a plain DataFrame, so the driver's dual-engine oracle can check the
streaming path against the same DuckDB SQL as the batch twins
(queries.q_events_windowed_agg / q_events_sessionize). On a real cluster the
sink would be partitioned parquet (io.sinks) and the trigger a processing-time
interval; nothing else changes.

Scale notes:
  - windowed agg: watermark bounds state; shuffle on (window, event_type)
    with partial aggregation map-side -- same plan shape as the batch query.
  - sessionization: applyInPandasWithState keeps ONE state row per user
    (open-session accumulator), so state size is O(active users), not
    O(events). Arrow-batched, grouped on the same user_id shuffle as batch.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..catalog import table_path

# streaming reads need an explicit schema; ts is parquet timestamp[us] with
# isAdjustedToUTC=false on disk, which Spark surfaces as TIMESTAMP_NTZ
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("session_value", DoubleType()),
    ]
)



def _mkscratch(prefix: str) -> str:
    """Streaming scratch allocator (VERDICT r11 item 6): every state-store
    checkpoint / file-stream staging dir in this module comes through here.
    By default it is plain tempfile (usually /tmp, disk-backed); pointing
    SPARK_GRAFT_STREAM_SCRATCH at a tmpfs (e.g. /dev/shm/stream_scratch)
    moves ALL streaming state I/O to memory -- the dial that separates
    disk-bound state-store writes from compute in the bench's streaming
    rows (PERF.md records the disk-vs-tmpfs wall split; the HDFS-backed
    state store fsyncs its delta files per micro-batch, so a loaded /tmp
    disk shows up as stream wall time that no engine change can move)."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if root:
        os.makedirs(root, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    return tempfile.mkdtemp(prefix=prefix)


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def _stream_state_partitions(spark: SparkSession) -> str:
    """Shuffle/state partitions for one streaming drain.

    A stateful streaming query pins its state-partition count to
    ``spark.sql.shuffle.partitions`` at FIRST start, and the HDFS-backed
    provider then writes (and fsyncs) one delta file PER STATE PARTITION
    PER STATEFUL OPERATOR PER MICRO-BATCH -- a fixed I/O cost that has
    nothing to do with data volume. The engine's batch-oriented session
    default (2x cores: 64 on a 32-core session) makes every availableNow drain pay ~64
    tiny fsyncs per operator per batch while each partition holds a few
    thousand state rows; the measured r12 split put ~50% of
    stream_events_dedup's wall in exactly this I/O. Drains therefore size
    their shuffle/state partitions at max(8, cores // 4) -- still
    parallel enough to saturate the box's state I/O, 8x fewer per-batch
    file creations."""
    return str(max(8, spark.sparkContext.defaultParallelism // 4))


def _state_provider_override() -> str | None:
    """SPARK_GRAFT_STREAM_STATE_PROVIDER dial (VERDICT r13 item 5):
    'rocksdb' drains every stream in this module under the RocksDB
    state-store provider -- off-heap state with background compaction
    instead of the default HDFS-backed provider's heap-resident maps +
    per-micro-batch delta fsyncs. The default (unset) keeps the
    HDFS-backed provider for round-over-round bench comparability;
    RocksDB is the provider a 100 TB-state deployment would run, so PERF.md
    records the dedup drain's wall under both. Any other value is passed
    through as a provider class name."""
    v = os.environ.get("SPARK_GRAFT_STREAM_STATE_PROVIDER")
    if not v:
        return None
    return _ROCKSDB_PROVIDER if v.strip().lower() == "rocksdb" else v


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FileStreamSource wants a directory or glob (a bare file path fails with
    # "Option 'basePath' must be a directory") -- glob the single file.
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(table_path(sf_dir, "events") + "*")
    )
    # NTZ -> LTZ under the pinned UTC session: same wall clock, same instant,
    # and every epoch function (unix_micros & co.) accepts it
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(result: DataFrame, output_mode: str, drain_timeout: float = 600.0) -> DataFrame:
    """Drain an availableNow stream into a uniquely-named memory sink and
    return the sink's contents as a batch DataFrame.

    Quirk handled: with ProcessingTimeTimeout state, availableNow never
    self-terminates -- after the data is consumed it loops "no new data but
    cleaning up state" batches forever (it cannot prove no future timeout
    will fire). We detect the fully-drained condition ourselves: a completed
    no-data batch whose state store holds zero rows, then stop() the query.

    Resource hygiene (r11, found via the interleaved bench sentinel): a
    100-row bench ran ~36 stream trials whose memory-sink tables (some
    holding full event-scale results) and state-store checkpoint dirs
    accumulated for the life of the session -- by the last third of the
    run, new streaming queries paid for the pile in heap pressure and
    /tmp page-cache churn (stream_events_dedup read 60 s mid-bench vs
    14 s isolated, flat sentinels beside it). The drained result is
    therefore COPIED out of the sink (localCheckpoint -- blocks are
    evictable/spillable, unlike the sink's retained rows), the sink
    table dropped, and the checkpoint dir deleted before returning.
    """
    import shutil
    import time

    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    ckpt_root = _mkscratch(prefix="stream_ckpt_")
    ckpt = os.path.join(ckpt_root, "ckpt")
    # provider dial: the providerClass conf is read at query START, so
    # setting it here scopes it to this drain; restored after .start()
    # returns (the running query keeps the provider it started with)
    spark_sess = result.sparkSession
    override = _state_provider_override()
    prev_provider = spark_sess.conf.get(_PROVIDER_KEY, None) if override else None
    if override:
        spark_sess.conf.set(_PROVIDER_KEY, override)
    # state-partition sizing, same scoped set/restore pattern as the
    # provider dial: a streaming query snapshots the session confs at
    # .start(), so the running drain keeps the override while the session
    # conf is restored immediately (no leak into batch plans)
    prev_shuffle = spark_sess.conf.get(_SHUFFLE_KEY, None)
    spark_sess.conf.set(_SHUFFLE_KEY, _stream_state_partitions(spark_sess))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if override:
            if prev_provider is None:
                spark_sess.conf.unset(_PROVIDER_KEY)
            else:
                spark_sess.conf.set(_PROVIDER_KEY, prev_provider)
        if prev_shuffle is None:
            spark_sess.conf.unset(_SHUFFLE_KEY)
        else:
            spark_sess.conf.set(_SHUFFLE_KEY, prev_shuffle)
    deadline = time.monotonic() + drain_timeout
    while time.monotonic() < deadline:
        # sub-second poll: the drained condition shows up ~2 micro-batches in,
        # and every second spent here counts against the driver's run budget
        if q.awaitTermination(0.2):
            break  # natural availableNow termination (stateless / agg jobs)
        p = q.lastProgress
        if not p:
            continue
        state_rows = sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
        if p.get("numInputRows", 0) == 0 and state_rows == 0:
            q.stop()
            q.awaitTermination()
            break
    else:
        q.stop()
        shutil.rmtree(ckpt_root, ignore_errors=True)
        raise TimeoutError(f"stream {name} did not drain within {drain_timeout}s")
    spark = result.sparkSession
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt_root, ignore_errors=True)
    return out


def stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window x event_type over the event stream; watermark
    bounds state at 1 hour of lateness. Complete output mode so the final
    (unclosed-by-watermark) windows are emitted too -- availableNow therefore
    produces exactly the batch answer."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            # exact countDistinct is unsupported in streaming aggs; the batch
            # twin carries n_users, this one stays exactly oracle-comparable
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_events_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the source is read TWICE and unioned
    (every event arrives as a duplicate), dropDuplicates on event_id keeps
    one copy per key in watermark-bounded state, and the downstream agg must
    equal the single-copy batch answer -- which is exactly what the oracle
    checks. This is the at-least-once-delivery repair stage of a real
    ingest: state is O(events within the watermark), not O(stream)."""
    ev = _read_events_stream(spark, sf_dir).unionByName(_read_events_stream(spark, sf_dir))
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


def stream_events_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark twin of stream_events_dedup_agg (the
    Spark 3.5+ API this surface lacked): state for a key is EVICTED once
    its event time ages past the watermark, so dedup is only guaranteed for
    duplicates arriving within the watermark delay of each other -- the
    right contract for at-least-once sources, whose retries come seconds
    apart, and the only one whose state is bounded by delay x rate rather
    than by distinct keys. Here every duplicate arrives in the same replay,
    well inside the 1 h delay, so the answer must still equal the
    single-copy batch oracle -- while plain dropDuplicates keeps one state
    row per event_id FOREVER (unbounded at 100 TB)."""
    ev = _read_events_stream(spark, sf_dir).unionByName(_read_events_stream(spark, sf_dir))
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


def stream_events_purchase_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval join: purchases joined to the SAME user's
    clicks in the preceding 30 minutes -- the attribution join, as two live
    streams. Watermarks on both sides bound the join state (clicks are held
    only until no purchase can reach back to them); the join condition is an
    equi-key plus a time range, which Spark executes as a state-store
    lookup, never a nested loop. Aggregated per event_type pair so the
    oracle compare stays small."""
    clicks = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("c_id").alias("click_event_id"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("p_value", 4).alias("purchase_value"),
    )
    # inner stream-stream joins emit each match as soon as both sides have
    # arrived (only the STATE cleanup waits for the watermark), so the
    # availableNow drain equals the batch join row-for-row
    return _run_to_memory(joined, "append")


def stream_events_cdc_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into the parquet lake via foreachBatch -- the pattern
    for sinks Structured Streaming can't express declaratively (MERGE):
    each micro-batch becomes one idempotent `upsert_partitioned` call, so
    the checkpoint's exactly-once batch ids + the by-key merge give a lake
    that converges even under batch replays.

    Two availableNow runs against ONE lake prove both merge paths:
      run 1  every event lands as version 1 (the insert path);
      run 2  a correction stream -- every purchase re-arrives with value
             doubled, version 2 -- replaces exactly those keys in place
             (the update path); all other rows survive untouched.
    The oracle is the final lake state: purchases at 2x/v2, the rest at
    1x/v1. IO per batch is proportional to the TOUCHED partitions, never
    the lake (upsert_partitioned prunes by the updates' partition values)."""
    lake = _mkscratch(prefix="cdc_lake_") + "/events"

    def _upsert(batch: DataFrame, _batch_id: int) -> None:
        latest = (
            batch.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("version", F.col("version").cast("long"))
        )
        if os.path.isdir(lake):
            from ..io.sinks import upsert_partitioned

            upsert_partitioned(
                spark, lake, latest,
                key_cols=["event_id"], partition_cols=["event_date"],
            )
        else:
            from ..io.sinks import write_partitioned

            write_partitioned(latest, lake, partition_by=["event_date"])

    def _run(source: DataFrame) -> None:
        ckpt = os.path.join(_mkscratch(prefix="cdc_ckpt_"), "ckpt")
        q = (
            source.writeStream.foreachBatch(_upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run(_read_events_stream(spark, sf_dir).withColumn("version", F.lit(1)))
    _run(
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withColumn("value", F.col("value") * 2)
        .withColumn("version", F.lit(2))
    )
    return spark.read.parquet(lake).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "version",
    )


def _session_emit(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful session assembler: state = (next_seq, open session accum).

    Within a micro-batch, closed sessions are emitted immediately; the still
    open trailing session is kept in state and emitted on timeout (here: on
    the availableNow stream end, which closes all state). O(1) state per user.
    """
    (user_id,) = key
    gap_us = 1_800_000_000

    if state.hasTimedOut:
        seq, n, start_us, end_us, val = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_seq": [seq],
                "n_events": [n],
                "session_start_us": [start_us],
                "session_end_us": [end_us],
                "session_value": [round(val, 4)],
            }
        )
        return

    if state.exists:
        seq, n, start_us, end_us, val = state.get
    else:
        seq, n, start_us, end_us, val = 0, 0, 0, 0, 0.0

    out: list[tuple] = []
    for pdf in batches:
        pdf = pdf.sort_values(["us", "event_id"])
        for us, v in zip(pdf["us"].to_numpy(), pdf["value"].to_numpy()):
            us = int(us)
            if n == 0:
                seq, n, start_us, end_us, val = seq + 1, 1, us, us, float(v)
            elif us - end_us > gap_us:
                out.append((user_id, seq, n, start_us, end_us, round(val, 4)))
                seq, n, start_us, end_us, val = seq + 1, 1, us, us, float(v)
            else:
                # us <= end_us (an out-of-order arrival from a later
                # micro-batch) folds into the open session WITHOUT regressing
                # end_us -- the accumulator stays monotone, so cross-batch
                # disorder within the gap can't mis-split sessions. (With the
                # availableNow single-batch source, events are already sorted;
                # this guard matters for genuinely unbounded input.)
                n += 1
                end_us = max(end_us, us)
                val += float(v)

    state.update((seq, n, start_us, end_us, val))
    state.setTimeoutDuration(1)  # close the open session at stream end
    if out:
        yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])


def stream_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState) -- the unbounded-input twin of
    operators.sessionize.sessionize; oracle-checked against the same SQL."""
    ev = _read_events_stream(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id", "value"
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _session_emit,
        outputStructType=SESSION_SCHEMA,
        stateStructType="seq LONG, n LONG, start_us LONG, end_us LONG, val DOUBLE",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return _run_to_memory(sessions, "append")


def stream_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched with the static
    customer dimension (market segment), aggregated per (segment, type).
    The static side is a plain batch DataFrame -- Spark re-resolves it per
    micro-batch and BROADCASTS it into the stream, so the join holds no
    streaming state at all (contrast stream_events_purchase_follow, where
    both sides are live and state is watermark-bounded). This is the
    dimension-enrichment stage every event pipeline runs before sinking."""
    from ..catalog import load_table

    ev = _read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id", "left")
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


def stream_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window twin of the batch events_hopping_window
    query: 1-hour windows every 15 minutes over the event stream -- each
    event updates 4 windows' state; the watermark bounds state to windows
    whose END is older than (max event time - 1 hour). Complete output so
    availableNow drains to exactly the batch/oracle answer."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_pca_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model maintenance: the PCA sufficient statistics
    (operators.similarity.pca_moments -- associative (n, sum, X^T X))
    accumulate per micro-batch via foreachBatch, so the fitted model
    refreshes as embedding batches ARRIVE instead of refitting the corpus.

    Restart-safe by construction: each micro-batch OVERWRITES its own
    moment file keyed by batch id (idempotent under checkpoint replays --
    the same trick as the CDC lake's exactly-once merge), and the final
    model is the merge of all batch files. The embeddings table is split
    into 3 files and streamed with maxFilesPerTrigger=1 so the drain
    genuinely exercises multi-batch accumulation.

    Returns the same witnesses as the batch incremental contract: the
    streamed-moments fit must equal the full-corpus fit (eigenvalues to
    1e-9 relative, components aligned, exact n)."""
    import json

    import numpy as np

    from ..operators.similarity import pca_from_moments, pca_moments

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    src_dir = _mkscratch(prefix="pca_stream_src_")
    emb.repartition(3).write.mode("overwrite").parquet(src_dir)
    state_dir = _mkscratch(prefix="pca_stream_state_")

    def _accumulate(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch can receive EMPTY batches on checkpoint replay /
        # restart; pca_moments on zero rows is undefined (no d probe), so
        # skip -- zero moments contribute nothing to the merge anyway
        if batch.isEmpty():
            return
        n, s, ss = pca_moments(batch)
        with open(os.path.join(state_dir, f"batch_{batch_id}.json"), "w") as f:
            json.dump({"n": n, "s": list(s), "ss": list(ss.ravel())}, f)

    ckpt = os.path.join(_mkscratch(prefix="pca_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
        .writeStream.foreachBatch(_accumulate)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    states = sorted(os.listdir(state_dir))
    n_total, s_total, ss_total = 0, None, None
    d = None
    for name in states:
        with open(os.path.join(state_dir, name)) as f:
            st = json.load(f)
        d = d or int(round(len(st["ss"]) ** 0.5))
        n_total += st["n"]
        s_total = (s_total if s_total is not None else 0) + np.asarray(st["s"])
        ss_total = (ss_total if ss_total is not None else 0) + np.asarray(
            st["ss"]
        ).reshape(d, d)
    ci, ei, _mi, ni = pca_from_moments(n_total, s_total, ss_total, k=4)
    cf, ef, _mf, nf = pca_from_moments(*pca_moments(emb), k=4)
    rows = [
        (
            i,
            ni,
            len(states),
            bool(abs(ei[i] - ef[i]) <= max(abs(ef[i]), 1e-12) * 1e-9),
            bool(abs(float(np.dot(ci[i], cf[i]))) >= 1.0 - 1e-9),
        )
        for i in range(4)
    ]
    from ..operators._local import arrow_local_frame

    return arrow_local_frame(
        spark,
        rows,
        "component long, n_vectors long, n_batches long,"
        " eig_matches boolean, component_aligned boolean",
    ).filter(F.lit(ni == nf and len(states) >= 2))


def stream_events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows: the BUILT-IN F.session_window in a
    streaming aggregation -- Spark merges overlapping per-event candidate
    sessions in state, evicting sessions once the watermark passes their
    close (state is O(open sessions), the shape that survives an unbounded
    stream). Complete-mode availableNow drain produces exactly the batch
    F.session_window answer, so this shares events_session_window's oracle
    verbatim -- the declarative twin of the applyInPandasWithState
    sessionizer (stream_events_sessionize), zero custom state code."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: per micro-batch PSI of the
    events `value` distribution against the full-corpus reference -- the
    model-monitoring loop (operators.audit.psi_drift's semantics) run AS
    data arrives, so a skewed producer is flagged on its first batch, not
    at the next nightly audit.

    Determinism scaffold: the corpus is split into exactly three files
    keyed by user_id % 3 (one file per split, written separately), so the
    maxFilesPerTrigger=1 availableNow drain yields exactly one micro-batch
    per split and the (split, psi) answer is batch-order-invariant --
    which is what makes the streaming answer oracle-checkable in SQL.
    Per batch, only the 16-row bucket histogram is collected; the
    reference histogram is computed once up front (16 smoothed probs on
    the driver). At scale the same foreachBatch ships the histogram to a
    metrics store instead of a local list.

    Returns (split, n_events, psi, drifted) -- PSI over fixed-width value
    buckets (width 32, cap 15; /32 is a power-of-two divide so the float
    binning is engine-exact), add-one smoothed, alert at 0.2."""
    import math

    n_buckets, width, thr = 16, 32.0, 0.2
    ev = spark.read.parquet(table_path(sf_dir, "events")).withColumn(
        "split", F.pmod("user_id", F.lit(3)).cast("int")
    )
    bucket = F.least(
        F.floor(F.col("value") / width), F.lit(n_buckets - 1)
    ).cast("int")
    ref_rows = (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # bounded: <= 16 rows
    ref_n = {r.bucket: r.n for r in ref_rows}
    ref_tot = sum(ref_n.values())
    ref_p = [
        (ref_n.get(b, 0) + 1) / (ref_tot + n_buckets) for b in range(n_buckets)
    ]

    src_dir = _mkscratch(prefix="drift_stream_src_")
    _stage_slices(ev, F.col("split"), src_dir)

    results: list[tuple[int, int, float, bool]] = []

    def _audit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        hist = (
            batch.select(
                F.col("split"),
                F.least(
                    F.floor(F.col("value") / width), F.lit(n_buckets - 1)
                ).cast("int").alias("bucket"),
            )
            .groupBy("split", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )  # bounded: <= 16 rows (one split per batch by construction)
        split = int(hist[0].split)
        n_b = {r.bucket: r.n for r in hist}
        tot = sum(n_b.values())
        psi = 0.0
        for b in range(n_buckets):  # fixed bucket order: deterministic sum
            p = (n_b.get(b, 0) + 1) / (tot + n_buckets)
            psi += (p - ref_p[b]) * (math.log(p) - math.log(ref_p[b]))
        psi = round(psi, 6)
        results.append((split, tot, psi, psi > thr))

    ckpt = os.path.join(_mkscratch(prefix="drift_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/s*")
        .writeStream.foreachBatch(_audit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from ..operators._local import arrow_local_frame

    return arrow_local_frame(
        spark,
        sorted(results),
        "split int, n_events long, psi double, drifted boolean",
    )


def _stage_slices(df: DataFrame, slice_col, src_dir: str, n: int = 3) -> None:
    """Stage a drain's n deterministic source slices in ONE pass (r15,
    guide §2.4/§6): the old shape ran one filtered coalesce(1) write per
    slice -- n full scans of the source. partitionBy splits rows by slice
    value regardless of task layout, and the n-way repartition keeps it to
    one file per slice dir so a 1-file-per-trigger source still sees
    exactly n micro-batches; the k=v partition dirs are renamed to the
    readers' s0..s{n-1} layout (a filesystem move, no data pass). The
    partition column is synthetic and dropped by partitionBy, so the
    staged files carry exactly the input schema. A slice value with no
    rows gets no partition dir; it is staged as one zero-row file with the
    input schema, so a drain still sees exactly n micro-batches."""
    (
        df.withColumn("_slice", slice_col.cast("int"))
        .repartition(n, "_slice")
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(src_dir)
    )
    for s in range(n):
        part = os.path.join(src_dir, f"_slice={s}")
        dest = os.path.join(src_dir, f"s{s}")
        if os.path.isdir(part):
            os.rename(part, dest)
        else:
            df.limit(0).coalesce(1).write.parquet(dest)


def _local_cluster_merge(
    spark: SparkSession,
    cluster_ids: set,
    chase: dict,
    old_labels: DataFrame | None,
    pairs: DataFrame,
    arr: DataFrame,
):
    """Bounded driver-local twin of ``connected_components_incremental``
    for the streaming merge (r15, guide §5/§2.3): the distinct standing
    cluster ids and the stale-label chase map already live ON the driver
    (maintained by the previous merge), and every fetched pair carries
    its endpoints' merge sources (the batch doc id, or the index doc's
    written label) -- so the contracted-graph fixpoint needs exactly two
    bounded fetches (the pairs, and the batch's doc ids off the persisted
    shingle-array frame) and ZERO joins against the standing labels for
    edge mapping; the labels parquet is read once, for the remap rewrite.
    Endpoint mapping is exact: a written label chased through every later
    remap equals the doc's current cluster label (labels only shrink),
    so the union-find runs over the identical contracted graph the
    distributed merge builds, and the composed output frame is
    value-identical by the same contraction argument. The registered
    row's from-scratch-recompute oracle re-checks the equality end to
    end.

    Caps: ``LOCAL_CAP`` nodes plus ``4 * LOCAL_CAP`` un-symmetrized edges
    (union-find needs no orientation, so half the distributed dispatch's
    symmetrized fetch). Returns (label_frame, new_cluster_ids, remap,
    new_final) or None when any bound trips -- the caller then runs the
    distributed merge unchanged and retires both driver mirrors."""
    from ..operators import _local
    from ..operators._local import arrow_local_frame, fetch_bounded
    from ..operators.dedup import _cc_local_rows

    edge_pdf = fetch_bounded(
        pairs.select("src_a", "src_b"),
        4 * _local.LOCAL_CAP,
        ids=("src_a", "src_b"),
    )
    if edge_pdf is None:
        return None
    bid_pdf = fetch_bounded(
        arr.select("doc_id"), _local.LOCAL_CAP, ids=("doc_id",)
    )
    if bid_pdf is None:
        return None
    batch_ids = bid_pdf["doc_id"].tolist()
    seeds = set(cluster_ids) | set(batch_ids)
    if len(seeds) > _local.LOCAL_CAP:
        return None
    rows = _cc_local_rows(
        sorted(seeds),
        [
            (chase.get(u, u), chase.get(v, v))
            for u, v in edge_pdf.itertuples(index=False, name=None)
        ],
    )
    lbl = dict(rows)
    new_final = arrow_local_frame(
        spark,
        [(d, lbl[d]) for d in batch_ids],
        "doc_id long, cluster_id long",
    )
    remap = {c: lbl[c] for c in cluster_ids if lbl[c] != c}
    if old_labels is None:
        frame = new_final
    elif remap:
        rm = arrow_local_frame(
            spark, list(remap.items()), "_l long, _nl long"
        )
        frame = old_labels.join(
            F.broadcast(rm), old_labels["cluster_id"] == F.col("_l"), "left"
        ).select(
            "doc_id", F.coalesce("_nl", "cluster_id").alias("cluster_id")
        ).unionByName(new_final)
    else:
        frame = old_labels.select("doc_id", "cluster_id").unionByName(
            new_final
        )
    return frame, {label for _, label in rows}, remap, new_final


def stream_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup cluster maintenance: documents arrive in three
    deterministic micro-batches (doc_id % 3, one file each), and every
    batch is merged into the standing labeling INCREMENTALLY
    (operators.dedup.connected_components_incremental) -- per batch, only
    candidate pairs touching the batch are generated (batch shingles
    joined against the accumulated shingle index; Jaccard is doc-local so
    the union of per-batch edges is EXACTLY the full corpus's pair set,
    no max_df so the claim is order-independent), and only the contracted
    graph goes through the iterative loop. The final labels must equal a
    from-scratch run over the whole corpus -- which is what the oracle
    (the dedup_clusters recursive CTE, sans df guard) checks row for row.

    Replay safety: merging the same batch's edges again is a no-op (CC is
    idempotent), and the shingle index state is OVERWRITE-BY-BATCH-ID
    (state/batch_N per batch, the quantile monitor's additive-state rule)
    with the CURRENT batch's directory excluded on read -- so neither a
    partial-append crash nor an at-least-once re-delivery can leave
    duplicate index rows for any batch, past or present, and no per-batch
    full-index distinct() is needed. Per-batch label frames are written
    to fresh dirs (never read-and-overwrite the same path). Index rows
    carry (doc_id, shingle, n_sh, lbl): the per-doc shingle-set size AND
    the doc's label at write time ride every row as metadata (guide
    §2.3), so the Jaccard filter reads both set sizes off the candidate
    join itself (no separate size state, no size joins per merge) and
    the driver-local merge reads each endpoint's merge source off the
    pair aggregate (no standing-labels joins per merge; staleness is
    resolved by the driver's chase map -- labels only shrink, so a
    written label composed through every later remap IS the current
    label)."""
    from ..operators import _local
    from ..operators.dedup import connected_components_incremental

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    src_dir = _mkscratch(prefix="cc_stream_src_")
    from concurrent.futures import ThreadPoolExecutor

    _stage_slices(docs, F.col("doc_id") % 3, src_dir)
    _state_root = _mkscratch(prefix="cc_stream_state_")
    sh_dir = os.path.join(_state_root, "sh")
    labels_root = _mkscratch(prefix="cc_stream_labels_")
    # cluster_ids: driver-side mirror of the CURRENT distinct cluster ids,
    # maintained by the bounded local merge below (r15, guide §5 -- the CC
    # local-dispatch pattern extended to the whole merge). It exists so a
    # merge under the caps needs NO distributed distinct over the standing
    # labels (formerly a shuffle + bounded fetch per batch). None = mirror
    # not derivable (a merge exceeded the caps and ran distributed); every
    # later merge then takes the distributed path unchanged. The mirror is
    # bounded by the SAME local-dispatch cap the distributed merge already
    # uses for its contracted-graph fetch, so driver memory honesty is
    # unchanged; at 100 TB the caps trip on batch 0 and nothing is held.
    # chase: stale-label resolution map -- state rows carry the label
    # their doc had AT WRITE TIME; chase.get(s, s) is that label's CURRENT
    # value (labels only shrink, so the composition below is exact). Both
    # mirrors die together when a merge exceeds the caps.
    state = {"labels_path": None, "cluster_ids": set(), "chase": {}}

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # no isEmpty() guard (r15): it cost one Spark job per micro-batch
        # and this file source never delivers empty batches; if one ever
        # arrives, the merge below is a correct (if wasteful) no-op --
        # zero pairs, zero batch nodes, labels rewritten unchanged.
        from ..operators.text import tokens, word_shingles

        # (doc_id, shingle, n_sh) with NO extra shuffle: per-doc distinct
        # shingles via array_distinct (same rows as _distinct_shingles
        # with max_df=None) and the shingle-SET SIZE attached to every
        # row. Carrying the size as row metadata (guide §2.3 "shuffle keys
        # and metadata") lets the Jaccard filter read both set sizes
        # straight off the candidate join's own rows -- the old shape
        # aggregated sizes separately, joined them back on twice (more
        # exchanges and AQE stage-jobs per merge: 12 -> 6 measured) and
        # wrote a second per-batch state dir for them. n_sh is per-doc-
        # bounded, so the index stays O(total shingles) at any corpus
        # size. Two shape details that matter: the ARRAY frame is what
        # gets persisted (tokenize+shingle runs once; the cheap explode
        # re-runs per consumer from the cache), and size() is computed
        # BELOW the explode so the Generate does not retain _shs --
        # UnsafeRow stores arrays inline, so a retained array is copied
        # into every exploded output row (measured +0.8 s/batch).
        arr = batch.select(
            F.col("doc_id"),
            F.array_distinct(
                word_shingles(tokens(F.col("text")), 3)
            ).alias("_shs"),
        ).persist()
        bsh = arr.select(
            "doc_id", F.size("_shs").alias("n_sh"), "_shs"
        ).select("doc_id", "n_sh", F.explode("_shs").alias("shingle"))

        def _prev_dirs(root: str) -> list[str]:
            # every COMMITTED earlier batch's state dir; the current
            # batch's own dir is excluded so a re-delivery (whose failed
            # attempt may have left a stale copy -- about to be
            # overwritten below) never double-counts itself
            if not os.path.isdir(root):
                return []
            return sorted(
                os.path.join(root, d)
                for d in os.listdir(root)
                if d.startswith("batch_") and d != f"batch_{batch_id}"
            )

        prev_sh = _prev_dirs(sh_dir)
        # batch rows carry no label yet (they get one in THIS merge);
        # index rows carry the label their doc had when its batch was
        # merged (possibly stale -- the driver's chase map below resolves
        # staleness, guide §2.3: 8 B of metadata per row replaces two
        # standing-labels joins per merge)
        bshu = bsh.withColumn("_new", F.lit(True)).withColumn(
            "lbl", F.lit(None).cast("long")
        )
        if prev_sh:
            seen = spark.read.parquet(*prev_sh)
            all_sh = seen.withColumn("_new", F.lit(False)).unionByName(bshu)
        else:
            all_sh = bshu
        a = bsh.alias("a")
        b = all_sh.alias("b")
        # n_common = plain count (each common shingle seen once via the
        # a<b orientation rule); both set sizes come off the joined rows
        # themselves -- per (doc_a, doc_b) group the a/b doc identities
        # are constant, so a max(when(...)) picks each side's n_sh without
        # any size join. The Jaccard expression is arithmetic-identical to
        # the old two-join form (same ints, same round), so the pair set
        # -- and therefore the CC labels -- cannot move.
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") != F.col("b.doc_id"))
                # batch-batch pairs are seen from both sides of the A
                # join; keeping only the a<b orientation against _new rows
                # counts each common shingle ONCE, so a plain count
                # replaces the heavier count_distinct
                & (~F.col("b._new") | (F.col("a.doc_id") < F.col("b.doc_id"))),
            )
            .groupBy(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.max(
                    F.when(
                        F.col("a.doc_id") <= F.col("b.doc_id"), F.col("a.n_sh")
                    ).otherwise(F.col("b.n_sh"))
                ).alias("size_a"),
                F.max(
                    F.when(
                        F.col("a.doc_id") <= F.col("b.doc_id"), F.col("b.n_sh")
                    ).otherwise(F.col("a.n_sh"))
                ).alias("size_b"),
                # each endpoint's MERGE SOURCE for the driver-local path
                # (r15): the b-side doc's carried (possibly stale) label
                # when that endpoint is an index doc, else NULL -- per
                # group the side identities are constant, the same
                # max(when(...)) trick as the sizes. The a-side row is
                # always a batch doc (no label).
                F.max(
                    F.when(
                        F.col("a.doc_id") > F.col("b.doc_id"), F.col("b.lbl")
                    )
                ).alias("_lbl_a"),
                F.max(
                    F.when(
                        F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.lbl")
                    )
                ).alias("_lbl_b"),
            )
            .filter(
                F.round(
                    F.col("n_common")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                    4,
                )
                >= 0.2
            )
            .select(
                "doc_a",
                "doc_b",
                # NULL label = a batch doc: its merge source is itself
                F.coalesce("_lbl_a", F.col("doc_a")).alias("src_a"),
                F.coalesce("_lbl_b", F.col("doc_b")).alias("src_b"),
            )
        )
        # persist the candidate pairs (r14, guide §1.2): the
        # CC merge consumes them through the two-orientation edge union,
        # whose branches do not share a physical subtree -- unpersisted,
        # the batch-vs-index candidate join ran twice per merge (~3 s/batch
        # of pure recompute at sf0.1).
        pairs = pairs.persist()
        old_labels = (
            spark.read.parquet(state["labels_path"])
            if state["labels_path"] is not None
            else None
        )
        out = os.path.join(labels_root, f"v{batch_id}")
        # bounded driver-local merge (r15, guide §5/§2.3/§2.6 -- VERDICT
        # r14 item 1): when the driver mirrors are alive and the
        # contracted graph fits the caps, the whole merge needs THREE
        # bounded actions (the pair fetch -- whose endpoint merge sources
        # ride the aggregate itself, so the standing labels are never
        # joined for mapping -- a batch-id fetch off the cached array
        # frame, and one labels write) instead of the distributed merge's
        # per-batch distinct + seed fetch + edge fetch + two label-map
        # joins (~19 driver-coordinated jobs -> ~8 per batch measured;
        # the fixpoint is the same _cc_local_rows union-find the
        # distributed path's local dispatch already runs, so the labels
        # are identical by construction and the registered row's
        # full-recompute oracle re-checks them every round).
        merged_local = None
        if state["cluster_ids"] is not None:
            merged_local = _local_cluster_merge(
                spark, state["cluster_ids"], state["chase"], old_labels,
                pairs, arr,
            )
        if merged_local is not None:
            label_frame, new_clusters, remap, new_final = merged_local
            # fold this merge's remap into the stale-label chase map:
            # current(s) = remap(chase(s)) for every label value any
            # state row may still carry
            new_chase = {}
            for s in set(state["chase"]) | set(remap):
                v = state["chase"].get(s, s)
                v = remap.get(v, v)
                if v != s:
                    new_chase[s] = v
            state["chase"] = new_chase
            state["cluster_ids"] = new_clusters
            if len(new_chase) > 4 * _local.LOCAL_CAP:
                # chase-map memory cap (same honesty rule as the fetch
                # caps): labels already written stay valid -- later
                # merges just run distributed and ignore row labels
                state["chase"] = None
                state["cluster_ids"] = None
            # label rows for THIS batch ride its state rows (broadcast of
            # the batch-bounded local label frame -- never a corpus join)
            state_rows = bsh.join(
                F.broadcast(
                    new_final.withColumnRenamed("cluster_id", "lbl")
                ),
                "doc_id",
                "left",
            )
        else:
            # mirror no longer derivable -- every later merge runs the
            # distributed path, and state rows carry no label (consistent:
            # the local path never resumes once disabled)
            state["cluster_ids"] = None
            state["chase"] = None
            if old_labels is None:
                old_labels = spark.createDataFrame(
                    [], "doc_id long, cluster_id long"
                )
            label_frame = connected_components_incremental(
                old_labels,
                batch.select("doc_id"),
                pairs.select("doc_a", "doc_b"),
            )
            state_rows = bsh.withColumn("lbl", F.lit(None).cast("long"))
        # the labels write and the shingle-index state write are
        # independent terminal jobs -- overlap them from a 2-thread pool
        # (guide §2.6) so the second write back-fills the first's task
        # tail instead of queueing behind it
        def _write_labels() -> None:
            label_frame.write.mode("overwrite").parquet(out)

        def _write_state() -> None:
            state_rows.write.mode("overwrite").parquet(
                os.path.join(sh_dir, f"batch_{batch_id}")
            )

        with ThreadPoolExecutor(max_workers=2) as wpool:
            wf = [wpool.submit(_write_labels), wpool.submit(_write_state)]
            for f in wf:
                f.result()
        pairs.unpersist()
        arr.unpersist()
        state["labels_path"] = out

    ckpt = os.path.join(_mkscratch(prefix="cc_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/s*")
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    labels = spark.read.parquet(state["labels_path"])
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_keeper"),
    )


def stream_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters by MERGED Misra-Gries summaries: each
    micro-batch contributes its per-partition MG partials (<= k counters
    each -- the only thing collected), the driver merges them into ONE
    standing summary with the mergeable-summaries compress rule, and the
    final answer is an exact re-count of the summary's candidate keys --
    the fourth stream-maintained-state exemplar beside the PCA moments,
    the PSI histograms, and the CC labels. The merged undercount stays
    <= N/k across any number of merges (Agarwal et al. 2013), so with
    k = 2/phi the standing summary is a guaranteed superset of every
    phi-heavy hitter and the re-count answer EQUALS the batch
    heavy_hitters_exact output -- the shared oracle's claim."""
    from ..operators.frequency import merge_mg_summary, misra_gries_partials

    phi = 0.0075
    k = int(2.0 / phi)
    ev = spark.read.parquet(table_path(sf_dir, "events"))
    src_dir = _mkscratch(prefix="hh_stream_src_")
    _stage_slices(ev, F.col("event_id") % 3, src_dir)
    state: dict[int, int] = {}

    def _merge(batch: DataFrame, batch_id: int) -> None:
        nonlocal state
        if batch.isEmpty():
            return
        rows = misra_gries_partials(batch, "user_id", k).collect()
        state = merge_mg_summary(state, [(r.user_id, r.cnt) for r in rows], k)

    ckpt = os.path.join(_mkscratch(prefix="hh_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/s*")
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from ..operators._local import arrow_local_frame

    cand = arrow_local_frame(
        spark, [(int(u),) for u in sorted(state)], "user_id long"
    )
    total = ev.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    return (
        ev.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") >= F.ceil(F.col("_n") * phi))
        .select("user_id", F.col("freq").cast("long").alias("freq"))
    )


def stream_events_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B monitor -- the fifth stream-maintained-state
    exemplar (beside PCA moments, PSI histograms, CC labels, MG
    counters): a user's conversion is a MAX over their events, which can
    arrive in ANY micro-batch, so per-batch (user, converted) partials
    accumulate in a parquet state dir (state at rest, never driver
    memory -- user cardinality is unbounded) and the readout folds them
    with one more per-user MAX before the shared z-test math
    (operators.analytics.ab_ztest_readout). MAX is associative and
    idempotent, so the fold is batch-order-invariant and replay-safe,
    and the final readout EQUALS the batch events_ab_test answer -- the
    shared exact oracle's claim."""
    from ..operators.analytics import ab_ztest_readout

    ev = spark.read.parquet(table_path(sf_dir, "events"))
    src_dir = _mkscratch(prefix="ab_stream_src_")
    _stage_slices(ev, F.col("event_id") % 3, src_dir)
    state_dir = _mkscratch(prefix="ab_stream_state_")

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 150)
                    ).cast("int")
                ).alias("converted")
            )
            .write.mode("append")
            .parquet(os.path.join(state_dir, "per_user"))
        )

    ckpt = os.path.join(_mkscratch(prefix="ab_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/s*")
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_user = (
        spark.read.parquet(os.path.join(state_dir, "per_user"))
        .groupBy("user_id")
        .agg(F.max("converted").alias("converted"))
    )
    return ab_ztest_readout(per_user)


def stream_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitor -- the SIXTH stream-maintained-state
    exemplar (PCA moments, PSI histograms, CC labels, MG counters, A/B
    stats, and now a binned CDF): per micro-batch, the documents' token
    counts fold into a FIXED 64-bin width-16 histogram written to a
    batch-keyed state dir. Counts are additive, so the A/B monitor's
    MAX-idempotence trick does not apply; replay safety comes from
    OVERWRITE-BY-BATCH-ID instead -- an at-least-once re-delivery of
    batch N rewrites state/batch_N in place, never double-counts. State
    is <= 64 rows per batch regardless of corpus size.

    The readout merges the per-batch histograms (one sum over
    n_batches x 64 rows), interpolates p25/p50/p75/p90 from the CDF
    (est = bin_lo + width * (target - cum_before)/cnt at the 0-based
    continuous rank target = q*(n-1) -- Spark/DuckDB's shared
    percentile convention), and emits the exact batch-side percentile
    beside it with an |est - exact| <= 2*width witness. The witness is
    MEASURED data, not a theorem: it holds when the quantile's rank
    neighborhood spans at most adjacent bins and sits below the top
    bin; a quantile falling in the clipped bin 63 (token count >= 1024)
    or across a multi-bin empty gap can exceed it -- on such a corpus
    within_bound=false IS the correct monitor readout (both engines
    compute the identical boolean, so the oracle row stays green either
    way). Every value is deterministic arithmetic over the histogram,
    so the oracle is EXACT, not a contract.

    Returns (q, n_docs, est, exact, abs_err, within_bound)."""
    from ..operators.text import token_count

    WIDTH, NBINS = 16, 64
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    src_dir = _mkscratch(prefix="qq_stream_src_")
    _stage_slices(docs, F.col("doc_id") % 3, src_dir)
    state_dir = _mkscratch(prefix="qq_stream_state_")

    bin_col = F.least(
        F.floor(token_count(F.col("text")) / WIDTH), F.lit(NBINS - 1)
    ).cast("long")

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # overwrite-by-batch-id = idempotent under re-delivery
            .write.mode("overwrite")
            .parquet(os.path.join(state_dir, f"batch_{batch_id}"))
        )

    ckpt = os.path.join(_mkscratch(prefix="qq_stream_ckpt_"), "ckpt")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/s*")
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql.window import Window

    hist = (
        spark.read.parquet(os.path.join(state_dir, "batch_*"))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.orderBy("bin")
    h = hist.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    # exact percentile over the SAME token counts the bins were built on
    exact_arr = docs.select(
        token_count(F.col("text")).alias("_nt")
    ).agg(
        F.expr("percentile(_nt, array(0.25, 0.5, 0.75, 0.9))").alias("_ex")
    )
    from ..operators._local import arrow_local_frame

    qs = arrow_local_frame(
        spark, [(1, 0.25), (2, 0.5), (3, 0.75), (4, 0.9)], "idx int, q double"
    )
    j = (
        qs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(exact_arr))
        .withColumn("target", F.col("q") * (F.col("n") - 1))
    )
    sel = j.join(
        F.broadcast(h),
        (F.col("cum_before") <= F.floor(F.col("target")))
        & (F.floor(F.col("target")) < F.col("cum_before") + F.col("cnt")),
    )
    est = F.col("bin") * WIDTH + WIDTH * (
        F.col("target") - F.col("cum_before")
    ) / F.col("cnt")
    exact = F.element_at(F.col("_ex"), F.col("idx"))
    return sel.select(
        "q",
        F.col("n").alias("n_docs"),
        F.round(est, 4).alias("est"),
        F.round(exact, 4).alias("exact"),
        F.round(F.abs(F.round(est, 4) - F.round(exact, 4)), 4).alias(
            "abs_err"
        ),
        (
            F.abs(F.round(est, 4) - F.round(exact, 4)) <= 2 * WIDTH
        ).alias("within_bound"),
    )
