"""Structured Streaming surface over the events table.

The reference predates Structured Streaming entirely (Spark 1.6, no
DStreams either — SURVEY.md §2.1); this is north-star surface. Design:
every streaming job is the SAME logical aggregation as its batch twin in
``operators/windows.py`` — batch results are the oracle for the streaming
results (asserted in tests/test_streaming.py), which is exactly how
Structured Streaming's unified model is meant to be used.

Scale notes: watermark bounds state (late events beyond 1h are dropped);
tumbling windows shard state by (window, type) — no per-key skew beyond
the hottest hour; session windows use Spark's native session_window state
merging. On a real cluster the source is Kafka/files-on-object-store; the
parquet file source here exercises identical operators.
"""

from __future__ import annotations

import threading
import time

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import scratch_dir

# every stream the package starts is drained through drain(); a drain
# that makes no headway for this many seconds (no micro-batch commits
# and no Spark task finishes) is stopped and reported. It bounds a
# stall, not the drain: a large backlog keeps finishing tasks, so it is
# never cut short however long it runs. On local[4] with a 6 GB heap
# the longest stretch without headway in any streaming catalog query
# at sf10 was 36 s (streaming_stateful_user_totals: its 8 state
# partitions make each task grow linearly with the data, so ~360 s at
# sf100, under a third of this limit).
_DRAIN_STALL_S = 1200


def _headway(q, tracker):
    """A value that changes whenever ``q`` makes headway: its last
    committed batch, and the finished tasks of every active stage (one
    large availableNow batch commits only at its end, but its tasks
    keep finishing). Stages of other work on the same context count
    too, so a busy context can only delay a stall report, never cause
    one. ``tracker`` is the context's ``StatusTracker``."""
    stages = []
    for sid in tracker.getActiveStageIds():
        info = tracker.getStageInfo(sid)
        if info is not None:
            stages.append((sid, info.numCompletedTasks))
    p = q.lastProgress
    return p["batchId"] if p else None, sorted(stages)


def drain(q) -> None:
    """Process everything available to the started query ``q``, then
    stop it. ``processAllAvailable`` returns once every available offset
    is committed, or once an availableNow query terminates, so one path
    serves availableNow and processingTime triggers alike; it waits on
    the stream's progress lock and issues no Spark job of its own (a
    ``count()`` poll of the sink would race the micro-batches).

    Bounded by headway, not by total time: a watcher thread samples
    :func:`_headway` once a second and, once it has not changed for
    ``_DRAIN_STALL_S`` seconds, stops the query; the drain then raises
    ``TimeoutError`` naming it (chained to the query's own error, if
    stopping it raised one). Whether the drain finished or stalled is
    decided once, under a lock: a drain that has returned is never
    reported as stalled. A query that died on its own raises its
    ``StreamingQueryException``. A source that always has another batch
    (e.g. ``rate``) never stalls, so its drain never returns."""
    tracker = SparkSession.active().sparkContext.statusTracker()
    lock, done = threading.Lock(), threading.Event()
    stalled = False

    def watch():
        nonlocal stalled
        seen, since = None, time.monotonic()
        while not done.wait(1.0):
            now = _headway(q, tracker)
            if now != seen:
                seen, since = now, time.monotonic()
            elif time.monotonic() - since >= _DRAIN_STALL_S:
                with lock:
                    if done.is_set():
                        return
                    stalled = True
                q.stop()
                return

    threading.Thread(target=watch, daemon=True).start()
    cause = None
    try:
        q.processAllAvailable()
    except StreamingQueryException as exc:
        cause = exc
    finally:
        with lock:
            done.set()
        q.stop()
    if stalled:
        raise TimeoutError(
            f"stream {q.name or q.id} made no headway for "
            f"{_DRAIN_STALL_S}s; stopped"
        ) from cause
    if cause is not None:
        raise cause
    q.awaitTermination()


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_TS_TYPE_BY_LAYOUT = {
    "nanos": T.LongType(),  # TIMESTAMP(NANOS) read as long
    "ntz": T.TimestampNTZType(),
    "ltz": T.TimestampType(),
}

# historical name, kept for tests/back-compat: the nanos-layout schema
EVENTS_SCHEMA = _events_schema(T.LongType())


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture, ``ts`` normalised to a
    plain TIMESTAMP exactly like the batch reader (footer-probed layout:
    nanos-as-long / TIMESTAMP_NTZ / TIMESTAMP — see
    ``sources.readers.events_ts_layout``)."""
    from ..sources.readers import events_ts_layout, normalize_events_ts

    layout = events_ts_layout(f"{sf_dir}/events.parquet")
    if layout == "nanos":
        # SESSION INVARIANT (see sources/readers.py::load_table): stays set —
        # it must be live whenever this lazy stream executes.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # file source needs a directory basePath; select just events.parquet via glob
    raw = (
        spark.readStream.schema(_events_schema(_TS_TYPE_BY_LAYOUT[layout]))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def run_available_now(result: DataFrame, query_name: str, mode: str = "complete",
                      state_partitions: int = 8) -> None:
    """Drain the stream with the available-now trigger into a memory sink
    (read back via ``spark.table(query_name)``) through :func:`drain`, so
    a run that commits no batch for ``_DRAIN_STALL_S`` seconds is stopped
    and raises ``TimeoutError``. Fresh checkpoint per run so re-invocations
    are reproducible.

    ``state_partitions`` pins the stateful-operator partition count for THIS
    query (streaming state partitioning is fixed by ``spark.sql.shuffle.
    partitions`` at first start and is per-query state, so the session conf
    is restored afterwards). Every state partition costs a state-store
    instance + per-micro-batch commit; size it to the real key cardinality /
    executor count in deployment — the batch-side 32 is 4× too many for the
    local bench and made state-store commits dominate wall time."""
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = scratch_dir(f"ckpt-{query_name}")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            result.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str,
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``operators.windows.tumbling_agg``: 1h tumbling
    window per event_type with a watermark for late data. Returns the
    drained result as a batch DataFrame."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value_raw"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n_events",
            (F.floor(F.col("sum_value_raw") * 1e4 + 0.5) / 1e4).alias("sum_value"),
        )
    )
    run_available_now(agg, "stream_tumbling_counts", mode="complete")
    return spark.table("stream_tumbling_counts")


def stream_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals maintained in explicit state across micro-batches —
    the escape hatch for stateful semantics the built-in windows can't
    express (reference had nothing comparable; this is the Structured
    Streaming replacement for hand-rolled per-key state).

    State = (n_events, sum_value) per user; emits one row per user per
    micro-batch. Drained with availableNow; batch twin = groupBy(user)
    count/sum (asserted in tests).
    """
    ev = events_stream(spark, sf_dir).select("user_id", "value")
    agg = user_totals_stateful_transform(ev)
    run_available_now(agg, "stream_user_totals_stateful", mode="update")
    # update-mode memory sink appends every emission; keep each user's last
    return latest_user_totals(spark.table("stream_user_totals_stateful"))


def user_totals_stateful_transform(ev: DataFrame) -> DataFrame:
    """The applyInPandasWithState stage alone, source- and sink-agnostic:
    ``ev`` is any (streaming) DataFrame with ``user_id``/``value`` columns.
    Extracted so the live multi-micro-batch tests (file-split source, rate
    source, RocksDB state store — tests/test_streaming_live.py) drive the
    SAME operator the availableNow catalog job drains."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    return ev.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def user_totals_tws_transform(ev: DataFrame) -> DataFrame:
    """Spark-4-native arbitrary-state operator
    (``transformWithStateInPandas`` + ``StatefulProcessor``): the same
    per-user running totals as :func:`user_totals_stateful_transform`,
    built on the API that SUPERSEDES applyInPandasWithState — named,
    typed state variables fetched from a handle (ValueState here;
    ListState/MapState for larger shapes), an init/close lifecycle, and
    timer support for timeout semantics. State is keyed by the grouping
    key and lives in the state store; the operator REQUIRES the RocksDB
    provider (the store every real 100 TB deployment runs anyway —
    state spills to disk instead of the executor heap), so callers set
    ``spark.sql.streaming.stateStore.providerClass`` before draining
    (see :func:`stream_user_totals_tws`).

    Runtime dependency boundary: the transform itself plans without
    extras, but DRAINING it needs the ``protobuf`` Python package (the
    state-server protocol between the JVM and the Python
    StatefulProcessor runner). Where protobuf is absent the query fails
    loudly at start (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE);
    :func:`user_totals_stateful_transform` is the
    applyInPandasWithState equivalent with no extra dependency — the
    oracle-gated catalog path."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, s double")

        def handleInputRows(self, key, rows, timer_values):
            n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _RunningTotals(),
            outputStructType="user_id long, n_events long, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain :func:`user_totals_tws_transform` with availableNow under the
    RocksDB state store provider (transformWithState requires it),
    restoring the session's prior provider after — the driver hands this
    query a vanilla session."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        ev = events_stream(spark, sf_dir).select("user_id", "value")
        agg = user_totals_tws_transform(ev)
        run_available_now(agg, "stream_user_totals_tws", mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return latest_user_totals(spark.table("stream_user_totals_tws"))


def latest_user_totals(emissions: DataFrame) -> DataFrame:
    """Collapse an update-mode emission log to each user's final state
    (n_events is monotone per user, so max-n wins)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emissions.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .select(
            "user_id",
            "n_events",
            (F.floor(F.col("sum_value") * 1e4 + 0.5) / 1e4).alias("sum_value"),
        )
    )


def stream_session_window(spark: SparkSession, sf_dir: str,
                          gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Native session windows (F.session_window) — the streaming-stateful
    twin of ``operators.windows.sessionize``'s lag+cumsum construction."""
    ev = events_stream(spark, sf_dir)
    agg = session_window_transform(ev, gap=gap, watermark=watermark)
    run_available_now(agg, "stream_session_window", mode="complete")
    return spark.table("stream_session_window")


def session_window_transform(ev: DataFrame, gap: str = "30 minutes",
                             watermark: str = "2 hours") -> DataFrame:
    """The session-window stage alone (``ev`` = any streaming DataFrame
    with ``ts``/``user_id``); shared by the availableNow catalog job and
    the live multi-micro-batch tests, so cross-batch session-state merging
    is exercised against the single-batch result."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start_s"),
            F.col("w.end").cast("long").alias("session_end_s"),
            "n_events",
        )
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str,
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of the batch ``sliding_window_agg``: hopping 1h/30m
    windows with a watermark — each event contributes to two overlapping
    windows, maintained incrementally in the window state store."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    run_available_now(agg, "stream_sliding_counts", mode="complete")
    return spark.table("stream_sliding_counts")


def stream_click_attribution(spark: SparkSession, sf_dir: str,
                             watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join: purchases attributed to a same-user click
    within the preceding hour. Both sides are watermarked and the join has
    an event-time range constraint — the two requirements that let the
    state store evict matched/expired rows instead of buffering either
    stream forever (the scale condition for stream-stream joins).

    Batch twin: catalog ``click_purchase_attribution`` (exact oracle);
    equality asserted in tests/test_streaming.py.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("gap_s"),
    )
    run_available_now(joined, "stream_click_attribution", mode="append")
    return spark.table("stream_click_attribution")


def stream_dedup_keys(spark: SparkSession, sf_dir: str,
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``: first
    occurrence per (user_id, event_type) key is kept; later duplicates
    arriving within the watermark delay are dropped, and — the scale
    condition — key state older than the watermark is EVICTED, so state
    stays bounded on an infinite stream (plain ``dropDuplicates`` state
    grows forever). The streaming twin of the batch exact-dedup family
    (operators/dedup.py::exact_dedup_groups).

    Output is projected to the key columns, making the result set
    deterministic (= batch DISTINCT over the same keys) regardless of
    which physical row was first within a micro-batch — which is what
    gives this streaming query an exact SQL oracle.
    """
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    run_available_now(deduped, "stream_dedup_keys", mode="append")
    return spark.table("stream_dedup_keys")


def stream_incremental_rollup(spark: SparkSession, source_dir: str,
                              state_dir: str,
                              glob: str = "*.parquet",
                              raw_nanos: bool | None = None) -> DataFrame:
    """Streaming materialized-view maintenance: each micro-batch's per-user
    PARTIAL aggregate (count / DECIMAL value sum / max epoch) is merged
    into a persistent rollup via the same commutative-monoid combine that
    ``incremental_agg_merge`` hash-proves against full recompute — the
    foreachBatch MERGE pattern used when the sink is a warehouse table.

    State lives in versioned parquet dirs (``state_dir/v{k}``, read-latest
    then write-next, never overwrite-in-place — overwriting a directory
    you are reading is undefined); each batch does one bounded merge join
    against the current rollup, never re-reading historical events. At
    100 TB the rollup is keyed-partitioned and the merge join co-locates.

    Returns the final rollup DataFrame.
    """
    from ..sources.readers import events_ts_layout, normalize_events_ts

    # footer-probe the ts layout (raw_nanos kept for signature back-compat;
    # the probe supersedes it — nanos / TIMESTAMP_NTZ / TIMESTAMP all work)
    import glob as _g

    matches = _g.glob(f"{source_dir}/{glob}") or _g.glob(
        f"{source_dir}/**/{glob}", recursive=True
    )
    layout = events_ts_layout(sorted(matches)[0])
    if layout == "nanos":
        # SESSION INVARIANT (see sources/readers.py::load_table): the conf
        # stays set — it must be live whenever this lazy stream executes.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_events_schema(_TS_TYPE_BY_LAYOUT[layout]))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(source_dir)
    )
    ev = normalize_events_ts(raw)

    def merge_batch(batch_df, batch_id):
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("tot"),
            F.max(F.col("ts").cast("long")).alias("last_epoch_s"),
        )
        b_spark = batch_df.sparkSession
        import glob as _g

        versions = sorted(_g.glob(f"{state_dir}/v*"))
        if versions:
            cur = b_spark.read.parquet(versions[-1]).alias("b")
            d = part.alias("d")
            merged = cur.join(
                d, F.col("b.user_id") == F.col("d.user_id"), "full_outer"
            ).select(
                F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
                (
                    F.coalesce(F.col("b.n_events"), F.lit(0))
                    + F.coalesce(F.col("d.n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("b.tot"), F.lit(0).cast("decimal(18,6)"))
                    + F.coalesce(F.col("d.tot"), F.lit(0).cast("decimal(18,6)"))
                ).alias("tot"),
                F.greatest(F.col("b.last_epoch_s"), F.col("d.last_epoch_s")).alias(
                    "last_epoch_s"
                ),
            )
        else:
            merged = part
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id:06d}")

    ckpt = scratch_dir("ckpt-incr-rollup")
    drain(
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import glob as _g

    versions = sorted(_g.glob(f"{state_dir}/v*"))
    return spark.read.parquet(versions[-1])
