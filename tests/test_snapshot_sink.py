"""Snapshot table as an OFFICIAL streaming sink
(sources/snapshot_sink.py — Spark 4 DataSourceStreamArrowWriter):
end-to-end ingestion, restart idempotence on a real checkpoint,
constraint rejection before anything becomes visible, complete-mode
refusal, and the full source+sink round trip through official APIs."""

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_sink import (
    register_snapshot_sink,
)
from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
    latest_version,
    read_snapshot,
    snapshot_history,
)

_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def _add_file(docs, src_dir, i):
    part = docs.where(F.col("doc_id") % 3 == i).coalesce(1)
    staging = f"{src_dir}/__stage{i}"
    part.write.parquet(staging)
    [p] = glob.glob(f"{staging}/part-*.parquet")
    os.replace(p, f"{src_dir}/in{i}.parquet")
    shutil.rmtree(staging)
    time.sleep(0.05)  # distinct mtimes -> deterministic batch order


def _run(spark, src_dir, table, ckpt, app_id):
    q = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.format("snapshot_sink")
        .option("path", table)
        .option("app_id", app_id)
        .option("stats_cols", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_sink_ingest_and_restart_idempotence(spark, sf_dir, tmp_path):
    """Phase 1 drains two files as two batch-id-stamped snapshots; the
    RESTARTED query on the same checkpoint must commit only the new
    file's batch — exactly once across the restart boundary — and the
    Arrow-side per-shard doc_id stats must be recorded for pruning."""
    register_snapshot_sink(spark)
    docs = _docs(spark, sf_dir)
    src, table, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    os.makedirs(src)
    _add_file(docs, src, 0)
    _add_file(docs, src, 1)
    _run(spark, src, table, ckpt, "restart-test")
    assert latest_version(table) == 2
    _add_file(docs, src, 2)
    _run(spark, src, table, ckpt, "restart-test")
    assert latest_version(table) == 3
    assert _canon(read_snapshot(spark, table)) == _canon(docs)
    hist = snapshot_history(table)
    assert [
        s["properties"]["streaming_batch_id"] for s in hist
    ] == [0, 1, 2]
    assert all(
        s["properties"]["sink"] == "snapshot_sink" for s in hist
    )
    # executor-computed stats landed on every shard (pruning works on
    # streamed tables without a second metadata scan)
    assert all(
        "doc_id" in sh.get("stats", {})
        for s in hist for sh in s["shards"]
        if sh["n_rows"] > 0
    )
    # the stage dir holds no leftovers after clean commits
    assert glob.glob(os.path.join(table, "_tmp", "stream", "*")) == []


def test_sink_round_trip_source_and_sink(spark, sf_dir, tmp_path):
    """Official APIs both directions: stream INTO the table via
    snapshot_sink, stream OUT via the snapshot_changes source — the
    drained output must equal the original batch rows."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_stream import (
        register_snapshot_changes,
    )

    register_snapshot_sink(spark)
    register_snapshot_changes(spark)
    docs = _docs(spark, sf_dir)
    src, table, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    os.makedirs(src)
    for i in range(3):
        _add_file(docs, src, i)
    _run(spark, src, table, ckpt, "round-trip")
    out = (
        spark.readStream.format("snapshot_changes")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName("sink_round_trip")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(180)
    assert _canon(spark.table("sink_round_trip")) == _canon(docs)
    spark.catalog.dropTempView("sink_round_trip")


def test_sink_rejects_constraint_violations_before_visibility(
    spark, sf_dir, tmp_path
):
    """A constrained table takes streamed appends: a valid micro-batch
    commits (its CHECK validation runs in the sink's commit, where
    there is no Spark session). A micro-batch violating the constraint
    must fail the query BEFORE publishing: no new snapshot, no rows
    visible, and no staged files left behind."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_constraint,
        write_snapshot,
    )

    register_snapshot_sink(spark)
    docs = _docs(spark, sf_dir)
    src, table, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    os.makedirs(src)
    write_snapshot(docs.limit(5), table, mode="append")
    add_constraint(spark, table, "id_in_range", "doc_id < 1000000")

    def _drop(df, name):
        staging = f"{src}/__stage"
        df.coalesce(1).write.parquet(staging)
        [p] = glob.glob(f"{staging}/part-*.parquet")
        os.replace(p, f"{src}/{name}.parquet")
        shutil.rmtree(staging)
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order

    def _stream():
        return (
            spark.readStream.schema(_SCHEMA)
            .parquet(src)
            .writeStream.format("snapshot_sink")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    v_before = latest_version(table)
    _drop(docs.limit(4), "good")
    _stream().awaitTermination(180)
    assert latest_version(table) == v_before + 1
    assert read_snapshot(spark, table).count() == 9
    v_before = latest_version(table)
    _drop(docs.limit(4).withColumn("doc_id", F.col("doc_id") + 10**7), "bad")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(
        StreamingQueryException, match="CHECK constraint 'id_in_range'"
    ):
        _stream().awaitTermination(180)
    assert latest_version(table) == v_before
    assert read_snapshot(spark, table).count() == 9
    assert glob.glob(os.path.join(table, "_tmp", "stream", "*")) == []


def test_sink_refuses_complete_mode(spark, sf_dir, tmp_path):
    register_snapshot_sink(spark)
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    _add_file(docs, src, 0)
    agg = (
        spark.readStream.schema(_SCHEMA)
        .parquet(src)
        .groupBy("lang")
        .count()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((ValueError, StreamingQueryException), match="append"):
        q = (
            agg.writeStream.format("snapshot_sink")
            .outputMode("complete")
            .option("path", str(tmp_path / "t"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_sink_records_bloom_filters_for_point_skipping(spark, sf_dir, tmp_path):
    """bloom_cols on the stream sink: per-shard bloom filters are
    computed from the Arrow batches and recorded in each micro-batch's
    snapshot — point lookups on a streamed table prune WITHOUT waiting
    for a compaction; type gates reject float columns up front."""
    import pytest

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _bloom_may_contain, read_snapshot, snapshot_history,
    )

    register_snapshot_sink(spark)
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        _add_file(docs, src, i)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("snapshot_sink")
        .option("path", table)
        .option("app_id", "bloomtest")
        .option("bloom_cols", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    snap = snapshot_history(table)[-1]
    assert all("bloom" in s for s in snap["shards"])
    # a key from batch 0 (doc_id % 3 == 0): its shard says maybe, at
    # least one other shard provably excludes it
    key = int(
        docs.where(F.col("doc_id") % 3 == 0).agg(F.max("doc_id"))
        .collect()[0][0]
    )
    hits = [_bloom_may_contain(s, "doc_id", key) for s in snap["shards"]]
    assert any(hits) and not all(hits)
    got = read_snapshot(spark, table, bloom_point=("doc_id", key)).where(
        F.col("doc_id") == key
    )
    assert got.count() == 1
    # float bloom column: the query dies with the type-gate error
    # before anything becomes visible (writer init is deferred to
    # stream startup, so it surfaces as the terminal exception)
    bad_table = str(tmp_path / "t2")
    q2 = (
        spark.readStream.schema(_SCHEMA)
        .parquet(src)
        .selectExpr("doc_id", "lang", "n_chars / 2.0 AS score")
        .writeStream.format("snapshot_sink")
        .option("path", bad_table)
        .option("bloom_cols", "score")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="bloom_cols supports"):
        q2.awaitTermination()
    assert not os.path.exists(os.path.join(bad_table, "_snapshots"))
