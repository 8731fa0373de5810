"""Streaming jobs must agree with their batch twins — the unified-model
correctness gate for the streaming surface."""


def test_stream_tumbling_equals_batch(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.catalog import REGISTRY
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_tumbling_counts,
    )

    batch = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value)
        for r in REGISTRY["event_tumbling_agg"].builder(spark, sf_dir).collect()
    }
    stream = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value)
        for r in stream_tumbling_counts(spark, sf_dir).collect()
    }
    assert stream == batch


def test_stateful_user_totals_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_user_totals_stateful,
    )

    ev = load_table(spark, sf_dir, "events")
    batch = {
        r.user_id: (r.n, r.s)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.sum("value") * 1e4 + 0.5) / 1e4).alias("s"),
        )
        .collect()
    }
    stream = {
        r.user_id: (r.n_events, r.sum_value)
        for r in stream_user_totals_stateful(spark, sf_dir).collect()
    }
    assert set(stream) == set(batch)
    mismatches = {
        u: (stream[u], batch[u])
        for u in batch
        if stream[u][0] != batch[u][0] or abs(stream[u][1] - batch[u][1]) > 1e-6
    }
    assert not mismatches, list(mismatches.items())[:5]


def test_stream_sessions_match_batch_session_count(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.windows import sessionize
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_session_window,
    )

    ev = load_table(spark, sf_dir, "events")
    batch_sessions = sessionize(ev, gap_minutes=30).count()
    stream_sessions = stream_session_window(spark, sf_dir).count()
    assert stream_sessions == batch_sessions


def test_sliding_stream_equals_batch_twin(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.catalog import REGISTRY
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_sliding_counts,
    )

    streamed = {
        (r.window_start, r.event_type): r.n_events
        for r in stream_sliding_counts(spark, sf_dir).collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in REGISTRY["sliding_window_agg"].builder(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_stream_join_equals_batch_twin(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.catalog import REGISTRY
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_click_attribution,
    )

    streamed = {
        (r.user_id, r.click_id, r.purchase_id, r.gap_s)
        for r in stream_click_attribution(spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.click_id, r.purchase_id, r.gap_s)
        for r in REGISTRY["click_purchase_attribution"].builder(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_foreach_batch_parquet_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch custom sink: micro-batches land in a parquet target via
    arbitrary batch logic (the deploy path for sinks Structured Streaming
    lacks natively — JDBC upserts, MERGEs). Row totals must match the
    batch read."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        drain,
        events_stream,
    )

    target = str(tmp_path / "events_sink")
    ckpt = str(tmp_path / "ckpt")

    def sink_batch(batch_df, batch_id):
        (batch_df.withColumn("__batch", F.lit(batch_id))
         .write.mode("append").parquet(target))

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    written = spark.read.parquet(target)
    expected = load_table(spark, sf_dir, "events").count()
    assert written.count() == expected
    assert "__batch" in written.columns


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark, key-projected, must equal batch
    DISTINCT over the same keys — and state must be watermark-bounded
    (the operator itself enforces the watermark requirement)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import stream_dedup_keys

    got = {
        (r.user_id, r.event_type)
        for r in stream_dedup_keys(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_incremental_rollup_equals_batch_recompute(spark, sf_dir, tmp_path):
    """The foreachBatch MERGE rollup, fed the events split across TWO files
    (two micro-batches, so the combine path genuinely runs against prior
    state), must equal the one-shot batch aggregate: streaming view
    maintenance is the same monoid as incremental_agg_merge."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        stream_incremental_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = "1997-07-01 00:00:00"
    src = str(tmp_path / "src")
    ev.where(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/part=a")
    ev.where(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/part=b")

    final = stream_incremental_rollup(
        spark, src, str(tmp_path / "state"), glob="*.parquet", raw_nanos=False
    )
    got = {
        r.user_id: (r.n_events, float(r.tot), r.last_epoch_s)
        for r in final.collect()
    }
    exp = {
        r.user_id: (r.n_events, float(r.tot), r.last_epoch_s)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("tot"),
            F.max(F.col("ts").cast("long")).alias("last_epoch_s"),
        )
        .collect()
    }
    assert got == exp


def test_transform_with_state_plan_and_parity(spark, sf_dir):
    """Spark-4 transformWithStateInPandas twin of the stateful totals:
    the transform must PLAN against a streaming source with the
    TransformWithState operator and the declared output schema in every
    environment; full drain parity with the batch groupBy twin runs
    where the protobuf state-server dependency exists (documented
    boundary in streaming/jobs.py — absent here, the drain fails loudly
    at query start, which is also asserted)."""
    import pytest
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.streaming.jobs import (
        events_stream,
        latest_user_totals,
        stream_user_totals_tws,
        user_totals_tws_transform,
    )

    ev = events_stream(spark, sf_dir).select("user_id", "value")
    agg = user_totals_tws_transform(ev)
    assert agg.isStreaming
    assert [f.name for f in agg.schema.fields] == [
        "user_id", "n_events", "sum_value",
    ]
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "TransformWithState" in plan

    try:
        import google.protobuf  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False

    if not have_protobuf:
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException):
            stream_user_totals_tws(spark, sf_dir)
        return

    got = {
        (r.user_id, r.n_events, r.sum_value)
        for r in stream_user_totals_tws(spark, sf_dir).collect()
    }
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    exact = {
        (r.user_id, r.n_events, r.sum_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 1e4 + 0.5) / 1e4).alias("sum_value"),
        )
        .collect()
    }
    assert got == exact


def test_drain_stops_a_stalled_stream(spark, tmp_path, monkeypatch):
    """A batch whose tasks never finish makes no headway; drain must
    stop the query once the stall limit passes and raise TimeoutError
    instead of hanging."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.streaming import jobs

    @F.udf("long")
    def hang(v):
        time.sleep(600)
        return v

    monkeypatch.setattr(jobs, "_DRAIN_STALL_S", 3)
    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .load()
        .select(hang("value").alias("value"))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="no headway for 3s"):
        jobs.drain(q)
    assert time.monotonic() - t0 < 30
    assert not q.isActive


def test_drain_outlasts_the_stall_limit_while_batches_commit(
    spark, tmp_path, monkeypatch
):
    """The limit bounds a stall, not the drain: a backlog whose batches
    each commit within it drains in full even when the whole drain
    takes longer than the limit."""
    import time

    from svdmovie_lens_parallel_apache_spark_spark.catalog_pipeline import (
        _file_replay,
    )
    from svdmovie_lens_parallel_apache_spark_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_DRAIN_STALL_S", 5)
    seen = []

    def slow(batch_df, batch_id):
        time.sleep(1.5)
        seen.append(batch_id)

    frames = [spark.range(10 * i, 10 * i + 10) for i in range(7)]
    q = (
        _file_replay(spark, frames, "drain-slow")
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.monotonic()
    jobs.drain(q)
    assert time.monotonic() - t0 > jobs._DRAIN_STALL_S
    assert seen == list(range(7))
    assert not q.isActive


def test_drain_outlasts_the_stall_limit_in_one_batch_while_tasks_finish(
    spark, tmp_path, monkeypatch
):
    """One availableNow batch commits only at its end; its finishing
    tasks are headway, so a single batch longer than the limit still
    drains."""
    import time

    from svdmovie_lens_parallel_apache_spark_spark.catalog_pipeline import (
        _file_replay,
    )
    from svdmovie_lens_parallel_apache_spark_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_DRAIN_STALL_S", 5)
    seen = []

    def tick(_row):
        time.sleep(0.5)

    def long_batch(batch_df, batch_id):
        # 64 half-second tasks on 4 slots: about 8 s, tasks finishing
        # twice a second once the Python workers are up
        batch_df.sparkSession.range(0, 64, 1, 64).foreach(tick)
        seen.append(batch_id)

    q = (
        _file_replay(spark, [spark.range(10)], "drain-one")
        .writeStream.foreachBatch(long_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.monotonic()
    jobs.drain(q)
    assert time.monotonic() - t0 > jobs._DRAIN_STALL_S
    assert seen == [0]
    assert not q.isActive


def test_drain_surfaces_the_query_own_failure(spark, tmp_path, monkeypatch):
    """A query that dies on its own raises its StreamingQueryException
    out of drain, not a TimeoutError."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from svdmovie_lens_parallel_apache_spark_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_DRAIN_STALL_S", 60)

    def boom(batch_df, batch_id):
        raise ValueError("batch sink refused")

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .load()
        .writeStream.foreachBatch(boom)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    with pytest.raises(StreamingQueryException, match="batch sink refused"):
        jobs.drain(q)
    assert not q.isActive
