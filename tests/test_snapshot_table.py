"""Snapshot-log table format (sources/snapshot_table.py): commit
atomicity, time travel, append/overwrite semantics, concurrent-commit
loser rebase, schema evolution, and retention — the invariants a
corpus pipeline's table layer lives or dies by."""

import json
import os

import pytest
from pyspark.sql import functions as F

from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st
from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
    expire_snapshots,
    latest_version,
    read_snapshot,
    snapshot_history,
    streaming_snapshot_sink,
    write_snapshot,
)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def docs(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_append_and_time_travel(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    v1 = write_snapshot(en, table, mode="append")
    v2 = write_snapshot(de, table, mode="append")
    assert (v1, v2) == (1, 2)
    assert latest_version(table) == 2
    # v1 pinned read is byte-identical after the append (isolation)
    assert _canon(read_snapshot(spark, table, 1)) == _canon(en)
    # latest is exactly old-plus-new (append atomicity)
    assert _canon(read_snapshot(spark, table)) == _canon(en.unionByName(de))
    # every shard named by every live snapshot exists on disk
    for snap in snapshot_history(table):
        for s in snap["shards"]:
            assert os.path.exists(os.path.join(table, "data", s["file"]))
        assert snap["n_rows"] == sum(s["n_rows"] for s in snap["shards"])


def test_as_of_timestamp_time_travel(spark, docs, tmp_path):
    """AS OF <timestamp>: commit stamps are strictly monotonic even for
    back-to-back commits in one clock tick, resolution picks the LAST
    snapshot at-or-before ts, and as_of= reads equal their version-
    pinned twins."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    for part in (en, de, fr):
        write_snapshot(part, table, mode="append")
    stamps = [s["committed_at"] for s in snapshot_history(table)]
    assert all(a < b for a, b in zip(stamps, stamps[1:])), stamps
    # each version's own stamp resolves to that version, not a later one
    for v, ts in enumerate(stamps, start=1):
        assert st.version_as_of(table, ts) == v
        assert _canon(read_snapshot(spark, table, as_of=ts)) == _canon(
            read_snapshot(spark, table, v)
        )
    # between-commit instants round DOWN; far future resolves to latest
    assert st.version_as_of(table, (stamps[0] + stamps[1]) / 2) == 1
    assert st.version_as_of(table, stamps[-1] + 3600) == 3
    # before the table existed: loud error, not version 0 or latest
    with pytest.raises(FileNotFoundError):
        st.version_as_of(table, stamps[0] - 1.0)
    with pytest.raises(ValueError):
        read_snapshot(spark, table, version=1, as_of=stamps[0])


def test_as_of_unstamped_legacy_snapshot_names_cause(spark, docs, tmp_path):
    """A snapshot written before timestamp support (no committed_at)
    cannot be timestamp-resolved — the error must name the missing
    stamp, not misdiagnose it as retention/predating."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    p = st._snap_path(table, 1)
    snap = json.load(open(p))
    del snap["committed_at"]
    with open(p, "w") as f:
        json.dump(snap, f)
    with pytest.raises(ValueError, match="no committed_at stamp"):
        st.version_as_of(table, 1e18)
    # version-pinned travel still works
    assert read_snapshot(spark, table, 1).count() > 0


def test_as_of_monotonic_against_clock_skew(spark, docs, tmp_path, monkeypatch):
    """A wall clock stepping BACKWARDS between commits (NTP) must not
    produce out-of-order stamps — the parent+1µs clamp keeps AS OF
    well-defined."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    t1 = snapshot_history(table)[0]["committed_at"]
    real_time = st.time.time
    monkeypatch.setattr(st.time, "time", lambda: t1 - 60.0)
    try:
        write_snapshot(en, table, mode="append")
    finally:
        monkeypatch.setattr(st.time, "time", real_time)
    stamps = [s["committed_at"] for s in snapshot_history(table)]
    assert stamps[1] > stamps[0]
    assert st.version_as_of(table, stamps[1]) == 2


def test_expire_snapshots_older_than_keeps_young_history(spark, docs, tmp_path):
    """Time-based retention: older_than expires only snapshots
    committed before the cutoff; everything younger survives even
    beyond keep_last, and AS OF still resolves within retention."""
    table = str(tmp_path / "t")
    for lang in ("en", "de", "fr", "es"):
        write_snapshot(docs.where(F.col("lang") == lang), table, mode="append")
    stamps = [s["committed_at"] for s in snapshot_history(table)]
    # cutoff between v2 and v3: v1..v2 expire, v3..v4 stay (keep_last=1
    # alone would have expired v3 as well)
    out = expire_snapshots(
        table, keep_last=1, older_than=(stamps[1] + stamps[2]) / 2
    )
    assert out["snapshots_removed"] == 2
    assert [s["version"] for s in snapshot_history(table)] == [3, 4]
    assert st.version_as_of(table, stamps[2]) == 3
    with pytest.raises(FileNotFoundError):
        st.version_as_of(table, stamps[0])  # beyond retention: loud
    # a cutoff younger than every snapshot expires per keep_last only
    table2 = str(tmp_path / "t2")
    for lang in ("en", "de", "fr"):
        write_snapshot(docs.where(F.col("lang") == lang), table2, mode="append")
    out2 = expire_snapshots(table2, keep_last=1, older_than=0.0)
    assert out2["snapshots_removed"] == 0
    assert len(snapshot_history(table2)) == 3


def test_merge_upsert_loser_rebases_onto_concurrent_append(
    spark, docs, tmp_path, monkeypatch
):
    """A rival append lands between the merge's base read and its
    version claim: the merge must lose the claim, retry against the
    NEW base, and its anti-join must cover the appended rows too (the
    conservative conflict rule) — matched keys from the rival's shards
    are replaced, not duplicated."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")

    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and "_snapshots" in dst:
            state["raced"] = True
            write_snapshot(de, table, mode="append")  # rival wins v2
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    de_key = de.select("doc_id").limit(1).collect()[0]["doc_id"]
    upd = spark.createDataFrame(
        [(de_key, "de", 4242)], "doc_id long, lang string, n_chars long"
    )
    st.merge_upsert(upd, table, key_cols=["doc_id"])
    assert state["raced"]
    assert latest_version(table) == 3
    final = read_snapshot(spark, table)
    assert final.count() == en.count() + de.count()  # no duplicate key
    got = final.where(F.col("doc_id") == de_key).collect()
    assert len(got) == 1 and got[0]["n_chars"] == 4242


def test_merge_upsert_delete_condition(spark, docs, tmp_path):
    """MERGE WHEN MATCHED [AND cond] THEN DELETE: an updates row
    matching delete_condition removes its key; a non-matching row
    updates; an unmatched-key row matching the condition inserts
    nothing. One commit, recorded in the snapshot properties."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    ids = sorted(r["doc_id"] for r in en.select("doc_id").collect())
    kill, bump, ghost = ids[0], ids[1], max(ids) + 10_000
    upd = spark.createDataFrame(
        [(kill, "en", -1), (bump, "en", 7777), (ghost, "en", -1)],
        "doc_id long, lang string, n_chars long",
    )
    v = st.merge_upsert(
        upd, table, key_cols=["doc_id"], delete_condition="n_chars < 0"
    )
    got = {
        r["doc_id"]: r["n_chars"]
        for r in read_snapshot(spark, table, v).collect()
    }
    assert kill not in got          # matched + condition -> deleted
    assert ghost not in got         # unmatched + condition -> no insert
    assert got[bump] == 7777        # matched, no condition -> updated
    assert len(got) == len(ids) - 1
    props = snapshot_history(table)[-1]["properties"]
    assert props["delete_condition"] == "n_chars < 0"


def test_read_cdc_matches_full_snapshot_diff(spark, docs, tmp_path):
    """The CDC contract, checked against its definition: for EVERY
    commit — append, CoW delete, merge, lazy tombstone, tombstone-
    materialising compaction, rollback — the emitted (insert, delete)
    multisets equal the visible-row diff of the adjacent snapshots.
    read_cdc computes the same thing from changed shards only; this
    test recomputes it the expensive way (full snapshots) and demands
    equality."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")                      # v1
    write_snapshot(de, table, mode="append")                      # v2
    st.delete_where(spark, table, "n_chars < 300")                # v3
    upd = (
        read_snapshot(spark, table)
        .where((F.col("doc_id") % 7 == 0) & (F.col("lang") == "en"))
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    assert upd.count() > 0
    st.merge_upsert(upd, table, key_cols=["doc_id"])              # v4
    st.delete_where(spark, table, "n_chars > 2000", lazy=True)    # v5
    st.compact_table(spark, table, target_shards=2)               # v6 (materialises)
    st.rollback(table, 3)                                         # v7
    end = latest_version(table)
    assert end == 7

    cdc = st.read_cdc(spark, table, 0, end).collect()
    data_cols = [c for c in read_snapshot(spark, table).columns]

    def vis(v):
        if v == 0:
            return []
        return sorted(
            tuple(r[c] for c in data_cols)
            for r in read_snapshot(spark, table, v).collect()
        )

    def multiset_diff(a, b):
        from collections import Counter

        d = Counter(a) - Counter(b)
        return sorted(d.elements())

    for v in range(1, end + 1):
        got_ins = sorted(
            tuple(r[c] for c in data_cols)
            for r in cdc
            if r["_commit_version"] == v and r["_change_type"] == "insert"
        )
        got_del = sorted(
            tuple(r[c] for c in data_cols)
            for r in cdc
            if r["_commit_version"] == v and r["_change_type"] == "delete"
        )
        assert got_ins == multiset_diff(vis(v), vis(v - 1)), f"v{v} inserts"
        assert got_del == multiset_diff(vis(v - 1), vis(v)), f"v{v} deletes"
    # replaying the feed over the start snapshot reconstructs the end
    assert multiset_diff(vis(0) + [
        tuple(r[c] for c in data_cols)
        for r in cdc if r["_change_type"] == "insert"
    ], [
        tuple(r[c] for c in data_cols)
        for r in cdc if r["_change_type"] == "delete"
    ]) == vis(end)


def test_read_cdc_partial_rewrite_reads_only_matched_files(spark, docs, tmp_path):
    """A pruned CoW delete rewrites only overlapping shards; the CDC
    diff for that commit must scan only those files — carried-over
    shards have unchanged visibility and stay out of the plan."""
    table = str(tmp_path / "t")
    write_snapshot(
        docs.orderBy("n_chars").repartitionByRange(4, "n_chars"),
        table, mode="append", stats_cols=["n_chars"],
    )
    v1 = snapshot_history(table)[-1]
    st.delete_where(
        spark, table, "n_chars < 100", prune=("n_chars", 0, 99)
    )
    v2 = snapshot_history(table)[-1]
    assert v2["properties"]["shards_skipped"] > 0
    carried = {s["file"] for s in v1["shards"]} & {
        s["file"] for s in v2["shards"]
    }
    assert carried  # some shards really were carried over
    cdc = st.read_cdc(spark, table, 1, 2)
    plan = cdc._jdf.queryExecution().executedPlan().toString()
    for name in carried:
        assert name not in plan, f"carried shard {name} scanned by CDC"
    got = sorted(r["doc_id"] for r in cdc.collect())
    want = sorted(
        r["doc_id"]
        for r in read_snapshot(spark, table, 1)
        .where(F.col("n_chars") < 100)
        .collect()
    )
    assert got == want
    assert {r["_change_type"] for r in cdc.collect()} == {"delete"}


def test_read_cdc_append_only_matches_read_changes(spark, docs, tmp_path):
    """On an append-only range CDC degenerates to read_changes plus the
    'insert' tag — and its plan contains no exceptAll join."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")
    write_snapshot(de, table, mode="append")
    cdc = st.read_cdc(spark, table, 1, 2)
    assert _canon(cdc.drop("_change_type", "_commit_version")) == _canon(
        st.read_changes(spark, table, 1, 2)
    )
    assert "Except" not in cdc._jdf.queryExecution().executedPlan().toString()


def test_read_cdc_across_schema_evolution(spark, docs, tmp_path):
    """A column added mid-range: changes from commits that predate it
    carry NULL for it (the end-schema contract, same as time travel),
    and the evolved commit's inserts carry real values."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de").withColumn(
        "score", F.col("n_chars").cast("double") / 10
    )
    write_snapshot(en, table, mode="append")
    write_snapshot(de, table, mode="append")
    cdc = st.read_cdc(spark, table, 0, 2)
    assert "score" in cdc.columns
    v1 = cdc.where(F.col("_commit_version") == 1)
    v2 = cdc.where(F.col("_commit_version") == 2)
    assert v1.where(F.col("score").isNotNull()).count() == 0
    assert v2.where(F.col("score").isNull()).count() == 0
    assert v1.count() == en.count() and v2.count() == de.count()


def test_overwrite_keeps_history(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table, mode="append")
    v2 = write_snapshot(fr, table, mode="overwrite")
    assert v2 == 2
    assert _canon(read_snapshot(spark, table)) == _canon(fr)
    # overwrite retires nothing physically: v1 still time-travels
    assert _canon(read_snapshot(spark, table, 1)) == _canon(en)
    ops = [s["operation"] for s in snapshot_history(table)]
    assert ops == ["append", "overwrite"]


def test_concurrent_commit_loser_rebases(spark, docs, tmp_path, monkeypatch):
    """Simulate a rival committer winning version 2 between our snapshot
    build and our link: the loser must rebase onto the rival's snapshot
    and commit version 3 with BOTH writers' shards live."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table, mode="append")

    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            # rival commits v2 first (a real independent writer)
            write_snapshot(de, table, mode="append")
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    v = write_snapshot(fr, table, mode="append")
    assert state["raced"]
    assert v == 3  # lost v2, rebased, claimed v3
    assert _canon(read_snapshot(spark, table)) == _canon(
        en.unionByName(de).unionByName(fr)
    )
    # the rival's v2 is intact and fr-free
    assert _canon(read_snapshot(spark, table, 2)) == _canon(en.unionByName(de))


def test_schema_evolution_union_by_name(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    base = docs.where(F.col("lang") == "en")
    write_snapshot(base, table, mode="append")
    widened = docs.where(F.col("lang") == "de").withColumn(
        "quality", (F.col("n_chars") > 500).cast("double")
    )
    write_snapshot(widened, table, mode="append")
    out = read_snapshot(spark, table)
    assert out.columns == ["doc_id", "lang", "n_chars", "quality"]
    # pre-evolution rows read the new column as NULL
    assert out.where(F.col("lang") == "en").where(
        F.col("quality").isNotNull()
    ).count() == 0
    assert out.where(F.col("lang") == "de").where(
        F.col("quality").isNull()
    ).count() == 0
    # v1 pinned read keeps the ORIGINAL schema
    assert read_snapshot(spark, table, 1).columns == ["doc_id", "lang", "n_chars"]
    # type changes are rejected loudly, and the failed commit leaves no
    # new snapshot behind
    bad = base.withColumn("n_chars", F.col("n_chars").cast("string"))
    with pytest.raises(ValueError, match="type change"):
        write_snapshot(bad, table, mode="append")
    assert latest_version(table) == 2


def test_expire_snapshots_removes_orphans(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table, mode="append")
    write_snapshot(fr, table, mode="overwrite")
    before = set(os.listdir(os.path.join(table, "data")))
    stats = expire_snapshots(table, keep_last=1)
    assert stats["snapshots_removed"] == 1
    assert stats["shards_removed"] >= 1
    after = set(os.listdir(os.path.join(table, "data")))
    assert after < before
    # the survivor still reads exactly, and names only existing files
    assert _canon(read_snapshot(spark, table)) == _canon(fr)
    with pytest.raises(FileNotFoundError):
        st._load_snapshot(table, 1)


def test_snapshot_is_the_commit_record(spark, docs, tmp_path):
    """A staged-but-uncommitted write (crash before the link) must be
    invisible: readers see only what a committed snapshot names."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    # simulate the crash: publish orphan data files with no snapshot
    orphan = os.path.join(table, "data", "part-orphan.parquet")
    docs.where(F.col("lang") == "zh").limit(5).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage"))
    import glob as g
    import shutil

    shutil.copy(
        sorted(g.glob(str(tmp_path / "stage" / "part-*.parquet")))[0], orphan
    )
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    snap = json.load(open(os.path.join(table, "_snapshots", "00000001.json")))
    assert all(s["file"] != "part-orphan.parquet" for s in snap["shards"])


def test_streaming_snapshot_sink_exactly_once(spark, docs, tmp_path):
    """Streaming micro-batches land as atomic batch-id-stamped APPEND
    snapshots; a stop/restart on the same checkpoint and an at-least-once
    foreachBatch replay must both leave each row exactly once."""

    from pyspark.sql import types as T

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    # three time-split source files -> three deterministic micro-batches
    stage = str(tmp_path / "stage")
    docs.orderBy("doc_id").coalesce(1).write.parquet(stage)
    rows = spark.read.parquet(stage).orderBy("doc_id").collect()
    thirds = [rows[i::3] for i in range(3)]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def add_file(i):
        spark.createDataFrame(thirds[i], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(streaming_snapshot_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: two files, two micro-batch snapshots; then STOP
    add_file(0)
    add_file(1)
    run()
    assert latest_version(table) == 2
    # phase 2: restart on the same checkpoint with one more file
    add_file(2)
    run()
    assert latest_version(table) == 3
    ids = [r.doc_id for r in read_snapshot(spark, table).collect()]
    assert sorted(ids) == sorted(r.doc_id for r in rows)  # exactly once

    # at-least-once replay: re-invoking the sink with a COMMITTED batch
    # id must be a no-op (no new snapshot, no duplicate rows)
    sink = streaming_snapshot_sink(table)
    sink(spark.createDataFrame(thirds[0], schema), 0)
    assert latest_version(table) == 3
    assert read_snapshot(spark, table).count() == len(rows)
    # each snapshot carries its batch id in commit metadata
    got = [
        s["properties"].get("streaming_batch_id") for s in snapshot_history(table)
    ]
    assert got == [0, 1, 2]


def test_merge_upsert_updates_and_inserts(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    # updates: every third en doc gets doubled n_chars; all de docs insert
    upd = en.where(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.col("n_chars") * 2
    ).unionByName(docs.where(F.col("lang") == "de"))
    v = merge_upsert(upd, table, key_cols=["doc_id"])
    assert v == 2
    expected = (
        en.where(F.col("doc_id") % 3 != 0)
        .unionByName(upd)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # pre-merge version still reads the original rows (time travel)
    assert _canon(read_snapshot(spark, table, 1)) == _canon(en)
    assert snapshot_history(table)[-1]["properties"]["merge_keys"] == ["doc_id"]
    with pytest.raises(ValueError, match="merge keys"):
        merge_upsert(upd.withColumnRenamed("doc_id", "k"), table, ["k"])


def test_stats_pruning_skips_shards(spark, docs, tmp_path):
    """Per-shard min/max recorded at commit time must let a key-range
    read skip non-overlapping shards entirely — and return exactly the
    rows a full-scan filter returns."""
    table = str(tmp_path / "t")
    ordered = docs.orderBy("doc_id")
    ids = [r.doc_id for r in ordered.select("doc_id").collect()]
    third = len(ids) // 3
    bounds = [ids[0], ids[third], ids[2 * third], ids[-1] + 1]
    for i in range(3):  # three appends of DISJOINT doc_id ranges
        chunk = ordered.where(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        ).coalesce(1)
        write_snapshot(chunk, table, mode="append", stats_cols=["doc_id"])
    snap = snapshot_history(table)[-1]
    assert all("stats" in s and "doc_id" in s["stats"] for s in snap["shards"])

    lo, hi = bounds[1], bounds[2] - 1  # exactly the middle shard's range
    pruned = read_snapshot(spark, table, prune=("doc_id", lo, hi))
    full = read_snapshot(spark, table)
    # fewer files scanned: the pruned plan reads a strict subset
    n_pruned = len(pruned.inputFiles())
    n_full = len(full.inputFiles())
    assert n_pruned < n_full, (n_pruned, n_full)
    # same answer as filtering the full scan
    cond = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    assert _canon(pruned.where(cond)) == _canon(full.where(cond))
    # shards with no stats are conservatively kept
    extra = docs.where(F.col("lang") == "zh").limit(3)
    write_snapshot(extra, table, mode="append")  # no stats_cols
    kept = read_snapshot(spark, table, prune=("doc_id", lo, hi))
    assert len(kept.inputFiles()) == n_pruned + 1


def test_compact_table_rewrites_layout_not_rows(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    for lang in ("en", "de", "fr"):  # 3 appends -> many small shards
        write_snapshot(
            docs.where(F.col("lang") == lang).repartition(4), table, "append"
        )
    before = read_snapshot(spark, table)
    n_before = len(before.inputFiles())
    rows_before = _canon(before)
    v = compact_table(spark, table, target_shards=2, stats_cols=["doc_id"])
    after = read_snapshot(spark, table)
    assert len(after.inputFiles()) <= 2 < n_before
    assert _canon(after) == rows_before  # layout-only change
    # compaction is a normal snapshot: history intact, stats recorded
    hist = snapshot_history(table)
    assert hist[-1]["version"] == v and hist[-1]["properties"]["compaction"]
    assert all("stats" in s for s in hist[-1]["shards"])
    assert _canon(read_snapshot(spark, table, 1)) == _canon(
        docs.where(F.col("lang") == "en")
    )
    # retention after compaction reclaims the small files
    stats = expire_snapshots(table, keep_last=1)
    assert stats["shards_removed"] >= n_before
    assert _canon(read_snapshot(spark, table)) == rows_before


def test_concurrent_appenders_all_land(spark, docs, tmp_path):
    """REAL concurrency (not the monkeypatched race): four threads each
    commit two append snapshots to one table through the put-if-absent
    protocol. Every commit must land under a unique version, no rows
    lost or duplicated — N appenders serialize on version claims with no
    external coordination."""
    import threading

    table = str(tmp_path / "t")
    langs = ["en", "de", "fr", "zh"]
    parts = {
        lang: docs.where(F.col("lang") == lang).collect() for lang in langs
    }
    errors = []

    def appender(lang):
        try:
            rows = parts[lang]
            half = len(rows) // 2
            sub = docs.sparkSession.createDataFrame(rows[:half], docs.schema)
            write_snapshot(sub, table, mode="append")
            sub = docs.sparkSession.createDataFrame(rows[half:], docs.schema)
            write_snapshot(sub, table, mode="append")
        except Exception as e:  # surface thread failures in the assert
            errors.append((lang, repr(e)))

    threads = [threading.Thread(target=appender, args=(lang,)) for lang in langs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert latest_version(table) == 8  # 4 writers x 2 commits, none lost
    expected = docs.where(F.col("lang").isin(langs))
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # monotone history: each snapshot's row count strictly grows
    counts = [s["n_rows"] for s in snapshot_history(table)]
    assert counts == sorted(counts) and len(set(counts)) == 8


def test_merge_upsert_rejects_duplicate_update_keys(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    dup = en.limit(1).unionByName(en.limit(1))  # same doc_id twice
    with pytest.raises(ValueError, match="duplicate merge key"):
        merge_upsert(dup, table, key_cols=["doc_id"])
    assert latest_version(table) == 1  # failed merge commits nothing


def test_clustered_compaction_makes_pruning_selective(spark, docs, tmp_path):
    """Arrival-order ingest leaves every shard spanning the full key
    range (stats pruning keeps everything); a range-clustered rewrite
    must turn the same key-range read into a near-single-shard scan."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    # 4 appends striped by doc_id % 4 = arrival order, NOT key order:
    # every shard spans the whole doc_id range
    for i in range(4):
        write_snapshot(
            docs.where(F.col("doc_id") % 4 == i).coalesce(1),
            table, "append", stats_cols=["doc_id"],
        )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    lo, hi = ids[0], ids[len(ids) // 8]  # a narrow bottom-of-range slice
    before = read_snapshot(spark, table, prune=("doc_id", lo, hi))
    assert len(before.inputFiles()) == 4  # stats exist but select nothing

    v = compact_table(spark, table, target_shards=4, cluster_by=["doc_id"])
    after = read_snapshot(spark, table, prune=("doc_id", lo, hi))
    assert len(after.inputFiles()) == 1, after.inputFiles()
    # clustered shards are near-disjoint on the key
    snap = snapshot_history(table)[-1]
    assert snap["version"] == v and snap["properties"]["cluster_by"] == ["doc_id"]
    spans = sorted(tuple(s["stats"]["doc_id"]) for s in snap["shards"])
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # range partitioner: no overlap
    # and the rewrite changed layout only
    cond = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    assert _canon(after.where(cond)) == _canon(docs.where(cond))


# ---------------------------------------------------------------------------
# Model-based property test: random op sequences vs a pure-Python model
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402

_op = hst.sampled_from(
    ["append", "overwrite", "merge", "compact", "expire",
     "delete_cow", "delete_lazy", "rollback", "constrain", "unconstrain",
     "update", "rename"]
)
_batch = hst.lists(
    hst.tuples(hst.integers(0, 19), hst.integers(0, 99)), min_size=1, max_size=6,
    unique_by=lambda kv: kv[0],
)


@given(ops=hst.lists(hst.tuples(_op, _batch), min_size=1, max_size=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_snapshot_table_matches_model(spark, tmp_path_factory, ops):
    """Any interleaving of append / overwrite / merge / compact / expire
    / copy-on-write delete / lazy delete / rollback / constraint
    add+drop must leave the table equal to a trivially-correct row-list
    model — the format's semantics hold under composition, not just in
    the per-op tests. ``update`` is copy-on-write UPDATE (post-image
    CHECK validation on the PRE-image-matched rows; refuses over
    tombstones); ``rename`` toggles the value column between v and w
    (metadata-only), so every LATER op — append/merge/delete/update/
    compact/rollback — must read and rewrite through shard column maps
    against the renamed table, and it must refuse while a CHECK
    references the column or tombstones are pending. (Appends may
    repeat a key — a table is a multiset
    — while merge replaces by key; batches are unique-keyed WITHIN
    themselves, matching merge_upsert's ambiguity rule. CoW delete/merge
    over pending tombstones must raise and change NOTHING; lazy deletes
    filter only rows present at delete time; rollback restores an old
    version's rows AND tombstones but keeps the CURRENT constraints;
    a write violating an active CHECK must raise and change nothing;
    adding a CHECK the live rows violate must refuse to commit.)"""
    from pyspark.sql import types as T

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        merge_upsert,
    )

    table = str(tmp_path_factory.mktemp("snapmodel") / "t")
    model: list[tuple[int, int]] = []
    pending = 0  # tombstones in the live snapshot
    version = 0
    cv = "v"  # current name of the value column (rename toggles v<->w)
    hist: dict[int, tuple[list, int, str]] = {}  # version -> (rows, pending, cv)
    committed = False
    constraints: dict[str, int] = {}  # name -> max allowed value (cv <= thr)
    c_seq = 0

    def schema():
        return T.StructType(
            [
                T.StructField("k", T.IntegerType()),
                T.StructField(cv, T.IntegerType()),
            ]
        )

    def snap():
        hist[version] = (list(model), pending, cv)

    def batch_violates(rows):
        return any(v > t for _, v in rows for t in constraints.values())

    for op, batch in ops:
        df = spark.createDataFrame(batch, schema()).coalesce(1)
        thr = batch[0][1]
        if op == "append":
            if committed and batch_violates(batch):
                with pytest.raises(ValueError, match="CHECK constraint"):
                    write_snapshot(df, table, mode="append")
                continue  # rejected before staging: nothing changed
            write_snapshot(df, table, mode="append")
            model += batch
            version += 1
            committed = True
            snap()
        elif op == "overwrite":
            if committed and batch_violates(batch):
                with pytest.raises(ValueError, match="CHECK constraint"):
                    write_snapshot(df, table, mode="overwrite")
                continue  # invariants persist through overwrite
            write_snapshot(df, table, mode="overwrite")
            model = list(batch)
            pending = 0
            version += 1
            committed = True
            snap()
        elif not committed:
            continue  # other ops need an existing table
        elif op == "constrain":
            name = f"c{c_seq}"
            if any(v > thr for _, v in model):
                with pytest.raises(ValueError, match="CHECK constraint"):
                    st.add_constraint(spark, table, name, f"{cv} <= {thr}")
                continue  # live rows violate: refused, no commit
            st.add_constraint(spark, table, name, f"{cv} <= {thr}")
            constraints[name] = thr
            c_seq += 1
            version += 1
            snap()
        elif op == "unconstrain":
            if not constraints:
                continue
            name = sorted(constraints)[-1]
            st.drop_constraint(table, name)
            del constraints[name]
            version += 1
            snap()
        elif op == "merge":
            if pending:
                with pytest.raises(ValueError, match="lazy"):
                    merge_upsert(df, table, key_cols=["k"])
                continue  # refused: nothing changed, no version
            if batch_violates(batch):
                with pytest.raises(ValueError, match="CHECK constraint"):
                    merge_upsert(df, table, key_cols=["k"])
                continue
            merge_upsert(df, table, key_cols=["k"])
            keys = {k for k, _ in batch}
            model = [r for r in model if r[0] not in keys] + list(batch)
            version += 1
            snap()
        elif op == "delete_cow":
            if pending:
                with pytest.raises(ValueError, match="lazy"):
                    st.delete_where(spark, table, f"{cv} > {thr}")
                continue
            st.delete_where(spark, table, f"{cv} > {thr}")
            model = [r for r in model if not (r[1] > thr)]
            version += 1
            snap()
        elif op == "delete_lazy":
            # engine no-op rule: a tombstone covering ZERO live shards
            # (e.g. right after a delete-everything CoW) commits
            # nothing — no pending tombstone, no version
            had_shards = bool(snapshot_history(table)[-1]["shards"])
            st.delete_where(spark, table, f"{cv} > {thr}", lazy=True)
            # covers only rows present NOW; later appends are unaffected
            model = [r for r in model if not (r[1] > thr)]
            if had_shards:
                pending += 1
                version += 1
                snap()
        elif op == "update":
            sets = {cv: f"{cv} + 1"}
            if pending:
                with pytest.raises(ValueError, match="lazy"):
                    st.update_where(spark, table, sets, f"{cv} > {thr}")
                continue
            post = [(k, v + 1) for k, v in model if v is not None and v > thr]
            if any(vv > t for _, vv in post for t in constraints.values()):
                with pytest.raises(ValueError, match="CHECK constraint"):
                    st.update_where(spark, table, sets, f"{cv} > {thr}")
                continue  # post-image violates: refused, nothing changed
            st.update_where(spark, table, sets, f"{cv} > {thr}")
            model = [
                (k, v + 1) if (v is not None and v > thr) else (k, v)
                for k, v in model
            ]
            version += 1
            snap()
        elif op == "rename":
            other = "w" if cv == "v" else "v"
            if pending:
                with pytest.raises(ValueError, match="pending lazy"):
                    st.rename_column(spark, table, cv, other)
                continue
            if constraints:  # every model constraint references cv
                with pytest.raises(ValueError, match="drop the constraint"):
                    st.rename_column(spark, table, cv, other)
                continue
            st.rename_column(spark, table, cv, other)
            cv = other  # rows unchanged; later ops go through the maps
            version += 1
            snap()
        elif op == "rollback":
            target = min(hist)  # oldest still-known version
            if constraints and hist[target][2] != cv:
                # restoring a pre-rename schema would strand the kept
                # constraints on a vanished column: refused loudly
                with pytest.raises(ValueError, match="drop the constraints"):
                    st.rollback(table, target)
                continue
            st.rollback(table, target)
            model, pending, cv = (
                list(hist[target][0]), hist[target][1], hist[target][2]
            )
            version += 1
            snap()
        elif op == "compact":
            compact_table(spark, table, target_shards=2)
            pending = 0
            version += 1
            snap()
        elif op == "expire":
            expire_snapshots(table, keep_last=1)
            for vv in [vv for vv in hist if vv < version]:
                del hist[vv]
    if not committed:
        return
    final = read_snapshot(spark, table)
    assert final.columns == ["k", cv]  # renames survived composition
    got = sorted((r[0], r[1]) for r in final.collect())
    assert got == sorted(model)


def test_delete_where_sql_semantics(spark, docs, tmp_path):
    """DELETE removes rows where the condition is TRUE; FALSE and NULL
    rows are kept (SQL DELETE semantics)."""
    table = str(tmp_path / "t")
    base = docs.where(F.col("lang") == "en").withColumn(
        "flag", F.when(F.col("doc_id") % 5 != 0, F.col("n_chars"))
    )  # every 5th row has flag NULL
    write_snapshot(base, table, mode="append")
    v = st.delete_where(spark, table, "flag > 300")
    assert v == 2
    expect = base.where(~F.coalesce(F.col("flag") > 300, F.lit(False)))
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # NULL-flag rows survived
    assert read_snapshot(spark, table).where(F.col("flag").isNull()).count() > 0
    # v1 still time-travels to the pre-delete state
    assert _canon(read_snapshot(spark, table, 1)) == _canon(base)
    snap = st._load_snapshot(table, 2)
    assert snap["operation"] == "delete"
    assert snap["properties"]["delete_condition"] == "flag > 300"


def test_delete_where_skips_disjoint_shards(spark, docs, tmp_path):
    """With a clustered layout and a prune bound, shards whose stats are
    disjoint from the deleted range are carried over VERBATIM (same
    file names, zero rewrite)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=6, cluster_by=["doc_id"])
    before = st._load_snapshot(table, latest_version(table))
    lo, hi = 0, 99
    v = st.delete_where(
        spark, table, f"doc_id BETWEEN {lo} AND {hi}", prune=("doc_id", lo, hi)
    )
    snap = st._load_snapshot(table, v)
    assert snap["properties"]["shards_skipped"] > 0
    assert snap["properties"]["shards_rewritten"] < len(before["shards"])
    # carried shards kept their exact file identity
    before_files = {s["file"] for s in before["shards"]}
    carried = [s for s in snap["shards"] if s["file"] in before_files]
    assert len(carried) == snap["properties"]["shards_skipped"]
    # and the rows are exactly the complement
    expect = docs.where(~F.col("doc_id").between(lo, hi))
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # rewritten shards re-recorded stats, so pruning still works after
    rewritten = [s for s in snap["shards"] if s["file"] not in before_files]
    assert all("doc_id" in s.get("stats", {}) for s in rewritten)


def test_delete_where_retries_against_concurrent_append(
    spark, docs, tmp_path, monkeypatch
):
    """A delete that loses the commit race must retry against the NEW
    base — the concurrently appended rows are re-scanned, so matching
    rows among them are deleted too (conservative conflict rule)."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")

    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and "00000002" in dst:
            state["raced"] = True
            write_snapshot(de, table, mode="append")  # rival wins v2
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    v = st.delete_where(spark, table, "n_chars > 400")
    assert state["raced"] and v == 3
    expect = en.unionByName(de).where(~(F.col("n_chars") > 400))
    assert _canon(read_snapshot(spark, table)) == _canon(expect)


def test_rollback_restores_and_preserves_history(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table, mode="append")
    write_snapshot(fr, table, mode="overwrite")
    v = st.rollback(table, 1)
    assert v == 3
    # latest == v1 state, byte-identical (same shard files, no rewrite)
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    assert (
        st._load_snapshot(table, 3)["shards"]
        == st._load_snapshot(table, 1)["shards"]
    )
    # the rolled-over v2 stays inspectable (audited, not erased)
    assert _canon(read_snapshot(spark, table, 2)) == _canon(fr)
    ops = [s["operation"] for s in snapshot_history(table)]
    assert ops == ["append", "overwrite", "rollback"]
    assert st._load_snapshot(table, 3)["properties"]["rollback_of"] == 1


def test_read_changes_incremental_append_scan(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    b3 = docs.where(F.col("doc_id") % 3 == 2)
    write_snapshot(b1, table, mode="append")      # v1
    write_snapshot(b2, table, mode="append")      # v2
    compact_table(spark, table, target_shards=2)  # v3: layout only
    write_snapshot(b3, table, mode="append")      # v4
    # changes since v1 = b2 + b3; the compaction contributes nothing
    got = st.read_changes(spark, table, 1)
    assert _canon(got) == _canon(b2.unionByName(b3))
    # bounded range
    assert _canon(st.read_changes(spark, table, 1, 2)) == _canon(b2)
    # empty range (compaction only) -> empty frame, right schema
    empty = st.read_changes(spark, table, 2, 3)
    assert empty.count() == 0 and empty.columns == got.columns
    # a row-changing commit in range raises loudly
    st.delete_where(spark, table, "n_chars > 400")  # v5
    with pytest.raises(ValueError, match="append-only"):
        st.read_changes(spark, table, 1)
    # ranges before the delete still serve
    assert _canon(st.read_changes(spark, table, 3, 4)) == _canon(b3)


def test_merge_upsert_skips_disjoint_shards(spark, docs, tmp_path):
    """With a clustered layout and prune_col, a small upsert rewrites
    only the shards whose key range can intersect the updates; all
    other shards carry over verbatim — O(matched files), not O(table)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        merge_upsert,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=6, cluster_by=["doc_id"])
    before = st._load_snapshot(table, latest_version(table))
    # updates confined to a narrow doc_id range + one brand-new key
    # INSIDE that range (a far-away new key would widen the updates'
    # [min, max] to the whole table and correctly disable skipping)
    new_key = -1
    upd = (
        docs.where(F.col("doc_id") < 50)
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .unionByName(
            docs.limit(1).select(
                F.lit(new_key).cast("long").alias("doc_id"), "lang", "n_chars"
            )
        )
    )
    v = merge_upsert(upd, table, key_cols=["doc_id"], prune_col="doc_id")
    snap = st._load_snapshot(table, v)
    assert snap["operation"] == "merge"
    assert snap["properties"]["shards_skipped"] > 0
    before_files = {s["file"] for s in before["shards"]}
    carried = [s for s in snap["shards"] if s["file"] in before_files]
    assert len(carried) == snap["properties"]["shards_skipped"]
    expect = docs.where(F.col("doc_id") >= 50).unionByName(upd)
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # the new-key insert went into a rewritten shard, not lost
    assert (
        read_snapshot(spark, table).where(F.col("doc_id") == new_key).count()
        == 1
    )
    # full-rewrite path (no prune_col) still works and skips nothing
    v2 = merge_upsert(upd, table, key_cols=["doc_id"])
    assert st._load_snapshot(table, v2)["properties"]["shards_skipped"] == 0
    assert _canon(read_snapshot(spark, table)) == _canon(expect)


def test_snapshot_changes_stream_drains_appends(spark, docs, tmp_path):
    """The snapshot_changes streaming source drains exactly the rows
    appended after start_version; a compaction in the range contributes
    nothing; a schema-evolved range NULL-fills pre-evolution shards."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_stream import (
        register_snapshot_changes,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    b3 = docs.where(F.col("doc_id") % 3 == 2).withColumn(
        "quality", (F.col("n_chars") > 500).cast("double")
    )
    write_snapshot(b1, table, mode="append")      # v1
    write_snapshot(b2, table, mode="append")      # v2
    compact_table(spark, table, target_shards=2)  # v3: layout only
    write_snapshot(b3, table, mode="append")      # v4: widens schema

    register_snapshot_changes(spark)

    def drain(start_version, name):
        src = (
            spark.readStream.format("snapshot_changes")
            .option("path", table)
            .option("start_version", start_version)
            .load()
        )
        q = (
            src.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    # from creation: everything, pre-evolution rows NULL-quality
    all_rows = drain(0, "snapchg_all")
    assert all_rows.columns == ["doc_id", "lang", "n_chars", "quality"]
    expect_all = b1.unionByName(b2, allowMissingColumns=True).unionByName(
        b3, allowMissingColumns=True
    ).select("doc_id", "lang", "n_chars", "quality")
    assert _canon(all_rows) == _canon(expect_all)
    # from v2: only the post-v2 append (compaction contributes nothing)
    after = drain(2, "snapchg_after2")
    assert _canon(after) == _canon(
        b3.select("doc_id", "lang", "n_chars", "quality")
    )


def test_snapshot_changes_stream_fails_on_row_changing_commit(
    spark, docs, tmp_path
):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_stream import (
        register_snapshot_changes,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    st.delete_where(spark, table, "n_chars > 400")  # v2: row-changing
    register_snapshot_changes(spark)
    src = (
        spark.readStream.format("snapshot_changes")
        .option("path", table)
        .option("start_version", 0)
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("snapchg_fail")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="append-only"):
        q.awaitTermination()


def test_zorder_compaction_prunes_both_dimensions(spark, docs, tmp_path):
    """OPTIMIZE ZORDER for the snapshot table: after a Morton-interleaved
    compaction, per-shard min/max stats are selective for a narrow
    predicate on EITHER column — single-key clustering gives that on one
    column only."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    def kept(table, col, hi):
        snap = st._load_snapshot(table, latest_version(table))
        n = len(snap["shards"])
        k = sum(
            1
            for s in snap["shards"]
            if not (s["stats"][col][0] > hi or s["stats"][col][1] < 0)
        )
        return k, n

    hi_id = int(docs.agg(F.max("doc_id")).collect()[0][0]) // 8
    hi_ch = int(docs.agg(F.max("n_chars")).collect()[0][0]) // 8

    zt = str(tmp_path / "z")
    write_snapshot(docs, zt, mode="append")
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_table(
            spark, zt, cluster_by=["doc_id"], zorder_by=("doc_id", "n_chars")
        )
    compact_table(spark, zt, target_shards=8, zorder_by=("doc_id", "n_chars"))
    # both dimensions prune (each rectangle covers a narrow x AND y span)
    for col, hi in [("doc_id", hi_id), ("n_chars", hi_ch)]:
        k, n = kept(zt, col, hi)
        assert k < n, f"zorder stats not selective on {col}: {k}/{n}"
        got = _canon(
            read_snapshot(spark, zt, prune=(col, 0, hi)).where(
                F.col(col).between(0, hi)
            )
        )
        assert got == _canon(docs.where(F.col(col).between(0, hi)))
    # single-key clustering: selective on its key, NOT on the other
    ct = str(tmp_path / "c")
    write_snapshot(docs, ct, mode="append")
    compact_table(
        spark, ct, target_shards=8, cluster_by=["doc_id"],
        stats_cols=["n_chars"],
    )
    k_id, n = kept(ct, "doc_id", hi_id)
    assert k_id < n
    k_ch, n = kept(ct, "n_chars", hi_ch)
    k_ch_z, _ = kept(zt, "n_chars", hi_ch)
    # the comparative claim: zorder is strictly more selective on the
    # second dimension than single-key range clustering (which only
    # prunes it incidentally, if at all)
    assert k_ch_z < k_ch, f"zorder {k_ch_z}/{n} vs cluster {k_ch}/{n}"
    props = st._load_snapshot(zt, latest_version(zt))["properties"]
    assert props["zorder_by"] == ["doc_id", "n_chars"]


def test_lazy_delete_merge_on_read(spark, docs, tmp_path):
    """delete_where(lazy=True) is a metadata-only tombstone applied at
    read time, scoped to the shards live at delete time: later appends
    survive even when they match the condition; compaction materialises
    and clears the tombstones; copy-on-write ops on a table with pending
    tombstones refuse to run."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")  # v1
    data_before = sorted(os.listdir(os.path.join(table, "data")))
    v2 = st.delete_where(spark, table, "n_chars > 400", lazy=True)
    assert v2 == 2
    # metadata only: not a single data file touched
    assert sorted(os.listdir(os.path.join(table, "data"))) == data_before
    en_kept = en.where(~F.coalesce(F.col("n_chars") > 400, F.lit(False)))
    assert _canon(read_snapshot(spark, table)) == _canon(en_kept)
    # time travel to before the tombstone still reads everything
    assert _canon(read_snapshot(spark, table, 1)) == _canon(en)
    # append AFTER the delete: matching rows must SURVIVE (the tombstone
    # covers only the shards that were live when it committed)
    write_snapshot(de, table, mode="append")  # v3
    assert de.where(F.col("n_chars") > 400).count() > 0
    assert _canon(read_snapshot(spark, table)) == _canon(
        en_kept.unionByName(de)
    )
    # stacking: a second tombstone covers BOTH generations of shards
    st.delete_where(spark, table, "n_chars < 100", lazy=True)  # v4
    expect = en_kept.where(~(F.col("n_chars") < 100)).unionByName(
        de.where(~(F.col("n_chars") < 100))
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # copy-on-write ops refuse while tombstones are pending
    with pytest.raises(ValueError, match="lazy"):
        st.delete_where(spark, table, "n_chars > 0")
    with pytest.raises(ValueError, match="lazy"):
        merge_upsert(de.limit(1), table, key_cols=["doc_id"])
    # rollback preserves the tombstones it rolls back to
    st.rollback(table, 2)  # v5: en shards + first tombstone
    assert _canon(read_snapshot(spark, table)) == _canon(en_kept)
    st.rollback(table, 4)  # v6: back to the stacked state
    # compaction materialises: same rows, tombstones cleared, CoW works
    v7 = compact_table(spark, table, target_shards=2)
    snap = st._load_snapshot(table, v7)
    assert "deletes" not in snap
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    st.delete_where(spark, table, "n_chars > 500")  # CoW allowed again
    assert _canon(read_snapshot(spark, table)) == _canon(
        expect.where(~(F.col("n_chars") > 500))
    )


def test_vacuum_removes_only_orphans(spark, docs, tmp_path):
    """vacuum deletes crash/lost-race residue (files no snapshot names)
    and nothing else — history and time travel survive intact."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        vacuum,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table, mode="append")
    write_snapshot(fr, table, mode="overwrite")
    # plant a fake lost-race orphan: published but never claimed
    orphan = os.path.join(table, "data", "part-deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real shard")
    stats = vacuum(table)
    assert stats["orphans_removed"] == 1
    assert not os.path.exists(orphan)
    # every snapshot still reads exactly (v1's shards were NOT orphans)
    assert _canon(read_snapshot(spark, table, 1)) == _canon(en)
    assert _canon(read_snapshot(spark, table)) == _canon(fr)
    assert vacuum(table) == {"orphans_removed": 0}


def test_lazy_delete_rejects_bad_condition_before_commit(spark, docs, tmp_path):
    """An unparseable or misspelled-column lazy condition must fail
    BEFORE the tombstone commits — a committed bad tombstone would brick
    every read and the compact_table remedy with it."""
    from pyspark.errors import AnalysisException

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    with pytest.raises(AnalysisException):
        st.delete_where(spark, table, "n_charss > 400", lazy=True)  # typo
    with pytest.raises(Exception):
        st.delete_where(spark, table, "n_chars >>> ???", lazy=True)
    # no tombstone committed; the table still reads
    assert latest_version(table) == 1
    assert read_snapshot(spark, table).count() > 0


def test_read_changes_rejects_tombstone_materialising_compaction(
    spark, docs, tmp_path
):
    """A compaction whose parent had pending lazy-delete tombstones
    MATERIALISES them — that commit changes rows, not just layout, so an
    incremental range crossing it must fail loudly (the silent-skip
    would hand the consumer a delta missing the deletes)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        delete_where,
        read_changes,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table, mode="append")                       # v1
    delete_where(spark, table, "n_chars > 500", lazy=True)         # v2
    write_snapshot(de, table, mode="append")                       # v3
    compact_table(spark, table, target_shards=2)                   # v4: materialises
    write_snapshot(docs.where(F.col("lang") == "fr"), table)       # v5
    # a consumer positioned at/after the tombstone but before the
    # compaction must NOT be handed "nothing changed at v4"
    for start in (2, 3):
        with pytest.raises(ValueError, match="materialised pending lazy"):
            read_changes(spark, table, start_version=start)
    # ranges that stop before, or start after, the compaction still work
    assert read_changes(spark, table, 2, end_version=3).count() == de.count()
    got = read_changes(spark, table, start_version=4)
    assert _canon(got) == _canon(docs.where(F.col("lang") == "fr"))
    # a PURE layout compaction (no pending tombstones) stays skippable
    compact_table(spark, table, target_shards=1)                   # v6
    assert read_changes(spark, table, start_version=5).count() == 0


def test_overwrite_allows_type_redefinition(spark, docs, tmp_path):
    """mode='overwrite' replaces the table schema outright, so a column
    type change is a legal redefinition there — while append keeps
    rejecting it (evolution never coerces)."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")
    retyped = en.withColumn("n_chars", F.col("n_chars").cast("string"))
    with pytest.raises(ValueError, match="type change"):
        write_snapshot(retyped, table, mode="append")
    v = write_snapshot(retyped, table, mode="overwrite")
    got = read_snapshot(spark, table, v)
    assert dict(got.dtypes)["n_chars"] == "string"
    assert _canon(got) == _canon(retyped)
    # history is intact: v1 still reads with the ORIGINAL type
    assert dict(read_snapshot(spark, table, 1).dtypes)["n_chars"] != "string"


def test_streaming_sink_app_id_namespaces_batch_ids(spark, docs, tmp_path):
    """Two writer lineages into one table (the Delta txnAppId pattern):
    each dedupes replays within ITS OWN app_id, so lineage B's batch 0
    is not skipped as a replay of lineage A's batch 0 — and a legacy
    (app_id=None) sink ignores namespaced commits entirely."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en").limit(5)
    de = docs.where(F.col("lang") == "de").limit(7)
    sink_a = streaming_snapshot_sink(table, app_id="query-a")
    sink_b = streaming_snapshot_sink(table, app_id="query-b")
    sink_a(en, 0)
    sink_a(en, 1)
    assert latest_version(table) == 2
    # lineage B starts its OWN batch ids at 0: must land, not be skipped
    sink_b(de, 0)
    assert latest_version(table) == 3
    # replays within each lineage are still exactly-once
    sink_a(en, 1)
    sink_b(de, 0)
    assert latest_version(table) == 3
    # a legacy un-namespaced sink is a third lineage of its own
    sink_legacy = streaming_snapshot_sink(table)
    sink_legacy(en, 0)
    assert latest_version(table) == 4
    sink_legacy(en, 0)
    assert latest_version(table) == 4
    keys = [
        (
            s["properties"].get("streaming_app_id"),
            s["properties"].get("streaming_batch_id"),
        )
        for s in snapshot_history(table)
    ]
    assert keys == [
        ("query-a", 0), ("query-a", 1), ("query-b", 0), (None, 0)
    ]
    assert read_snapshot(spark, table).count() == 2 * 5 + 7 + 5


def test_bloom_point_skipping(spark, docs, tmp_path):
    """Per-shard Bloom metadata must (a) never produce a false negative
    — every doc_id's point read returns exactly its rows — and (b)
    actually skip: on an 8-way hash layout a point key lives in one
    shard, so most lookups scan far fewer shards than the table holds.
    Shards written WITHOUT blooms are conservatively kept."""
    table = str(tmp_path / "t")
    write_snapshot(
        docs.repartition(8, "doc_id"), table,
        mode="append", bloom_cols=["doc_id"],
    )
    snap = snapshot_history(table)[-1]
    n_shards = len(snap["shards"])
    assert n_shards > 1
    assert all("doc_id" in s.get("bloom", {}) for s in snap["shards"])

    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    kept_counts = []
    for doc_id in ids[:40]:
        kept = [
            s for s in snap["shards"]
            if st._bloom_may_contain(s, "doc_id", doc_id)
        ]
        kept_counts.append(len(kept))
        got = read_snapshot(
            spark, table, bloom_point=("doc_id", doc_id)
        ).where(F.col("doc_id") == doc_id)
        assert _canon(got) == _canon(docs.where(F.col("doc_id") == doc_id))
    # the whole point: most lookups scan ~1 shard, none scan everything
    assert sorted(kept_counts)[len(kept_counts) // 2] <= 2
    assert max(kept_counts) < n_shards or n_shards == 1

    # a key absent from the table usually prunes EVERY shard
    assert read_snapshot(
        spark, table, bloom_point=("doc_id", 10**15)
    ).count() == 0

    # append WITHOUT blooms: the new shard has no filter and must be
    # conservatively kept by every point read (no wrong skips)
    extra = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 10**6)
    write_snapshot(extra, table, mode="append")
    probe = extra.select("doc_id").collect()[0][0]
    got = read_snapshot(
        spark, table, bloom_point=("doc_id", probe)
    ).where(F.col("doc_id") == probe)
    assert got.count() == 1


def test_bloom_string_column_and_type_rejection(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(
        docs.repartition(6, "lang"), table, bloom_cols=["lang"]
    )
    got = read_snapshot(spark, table, bloom_point=("lang", "de"))
    assert _canon(got.where(F.col("lang") == "de")) == _canon(
        docs.where(F.col("lang") == "de")
    )
    # floats don't round-trip a portable string form: reject loudly
    with pytest.raises(ValueError, match="bloom_cols"):
        write_snapshot(
            docs.withColumn("x", F.col("n_chars") * 0.5),
            str(tmp_path / "t2"), bloom_cols=["x"],
        )


def test_check_constraints_enforced_at_commit(spark, docs, tmp_path):
    """Delta-invariant-shaped CHECK constraints: recorded in the
    snapshot log by a metadata-only commit, validated against existing
    data when added, enforced on every subsequent append/merge (FALSE
    rows reject the whole batch BEFORE staging; NULL passes — SQL CHECK
    semantics), carried through overwrite/compaction, and removable."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_constraint,
        compact_table,
        drop_constraint,
        merge_upsert,
        read_changes,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, mode="append")                        # v1
    # adding a constraint the live data violates must NOT commit
    with pytest.raises(ValueError, match="n_chars_positive"):
        add_constraint(spark, table, "n_chars_positive", "n_chars < 0")
    assert latest_version(table) == 1
    v = add_constraint(spark, table, "n_chars_positive", "n_chars >= 0")
    assert v == 2
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, table, "n_chars_positive", "n_chars >= 0")

    # violating append: rejected loudly, nothing committed, no orphans
    bad = en.limit(2).withColumn("n_chars", F.lit(-5).cast("long"))
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_snapshot(bad, table, mode="append")
    assert latest_version(table) == 2
    # NULL passes (SQL CHECK); conforming rows land
    nulls = en.limit(2).withColumn(
        "doc_id", F.col("doc_id") + 10**6
    ).withColumn("n_chars", F.lit(None).cast("long"))
    write_snapshot(nulls, table, mode="append")                     # v3
    assert latest_version(table) == 3

    # merge enforcement: a violating update rejects the whole merge
    upd = en.limit(1).withColumn("n_chars", F.lit(-1).cast("long"))
    with pytest.raises(ValueError, match="CHECK constraint"):
        merge_upsert(upd, table, key_cols=["doc_id"])
    assert latest_version(table) == 3

    # incremental readers skip the metadata commit (row-preserving)
    assert read_changes(spark, table, 1).count() == 2  # just the nulls

    # constraints persist through compaction (an overwrite underneath)
    compact_table(spark, table, target_shards=2)                    # v4
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_snapshot(bad, table, mode="append")

    # drop, then the same batch lands
    drop_constraint(table, "n_chars_positive")                      # v5
    with pytest.raises(ValueError, match="no constraint"):
        drop_constraint(table, "nope")
    write_snapshot(bad, table, mode="append")                       # v6
    assert latest_version(table) == 6
    props = [s["properties"] for s in snapshot_history(table)]
    assert {"constraint_added": "n_chars_positive"} in props
    assert {"constraint_dropped": "n_chars_positive"} in props


def test_update_where_sql_semantics(spark, docs, tmp_path):
    """UPDATE rewrites rows where the condition is TRUE; FALSE and NULL
    rows are untouched, and every SET expression sees the PRE-update
    row (simultaneous assignment, not chained)."""
    table = str(tmp_path / "t")
    base = docs.where(F.col("lang") == "en").withColumn(
        "flag", F.when(F.col("doc_id") % 5 != 0, F.col("n_chars"))
    )  # every 5th row has flag NULL
    write_snapshot(base, table, mode="append")
    v = st.update_where(
        spark, table,
        {"doc_id": "n_chars", "n_chars": "doc_id"},  # swap: pre-update rhs
        "flag > 300",
    )
    assert v == 2
    hit = F.coalesce(F.col("flag") > 300, F.lit(False))
    expect = base.select(
        F.when(hit, F.col("n_chars")).otherwise(F.col("doc_id")).alias("doc_id"),
        "lang",
        F.when(hit, F.col("doc_id")).otherwise(F.col("n_chars")).alias("n_chars"),
        "flag",
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # v1 still time-travels to the pre-update state
    assert _canon(read_snapshot(spark, table, 1)) == _canon(base)
    snap = st._load_snapshot(table, 2)
    assert snap["operation"] == "update"
    assert snap["properties"]["update_condition"] == "flag > 300"
    assert snap["properties"]["set"] == {"doc_id": "n_chars", "n_chars": "doc_id"}


def test_update_where_skips_disjoint_shards(spark, docs, tmp_path):
    """With a clustered layout and a prune bound, shards disjoint from
    the updated key range are carried over VERBATIM."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=6, cluster_by=["doc_id"])
    before = st._load_snapshot(table, latest_version(table))
    lo, hi = 0, 99
    v = st.update_where(
        spark, table, {"n_chars": "n_chars + 1000000"},
        f"doc_id BETWEEN {lo} AND {hi}", prune=("doc_id", lo, hi),
    )
    snap = st._load_snapshot(table, v)
    assert snap["properties"]["shards_skipped"] > 0
    before_files = {s["file"] for s in before["shards"]}
    carried = [s for s in snap["shards"] if s["file"] in before_files]
    assert len(carried) == snap["properties"]["shards_skipped"]
    expect = docs.select(
        "doc_id", "lang",
        F.when(
            F.col("doc_id").between(lo, hi), F.col("n_chars") + 1000000
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # rewritten shards re-recorded stats, so pruning still works after
    rewritten = [s for s in snap["shards"] if s["file"] not in before_files]
    assert all("doc_id" in s.get("stats", {}) for s in rewritten)


def test_update_where_rejects_type_change_and_bad_columns(spark, docs, tmp_path):
    """No silent coercion: a SET expression of the wrong type, or a SET
    on a column the table lacks, is rejected BEFORE any data moves."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    with pytest.raises(ValueError, match="cast explicitly"):
        st.update_where(spark, table, {"n_chars": "'oops'"}, "doc_id = 0")
    with pytest.raises(ValueError, match="not in table"):
        st.update_where(spark, table, {"nope": "1"}, "doc_id = 0")
    with pytest.raises(ValueError, match="at least one SET"):
        st.update_where(spark, table, {}, "doc_id = 0")
    assert latest_version(table) == 1  # nothing committed


def test_update_where_validates_constraints_on_post_image(spark, docs, tmp_path):
    """An update whose post-image violates a CHECK constraint is
    rejected and the table stays at its prior version."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("n_chars") > 0), table, mode="append")
    st.add_constraint(spark, table, "chars_pos", "n_chars > 0")  # v2
    with pytest.raises(ValueError, match="CHECK constraint 'chars_pos'"):
        st.update_where(
            spark, table, {"n_chars": "CAST(-1 AS BIGINT)"}, "doc_id >= 0"
        )
    assert latest_version(table) == 2
    # a compliant update commits fine
    v = st.update_where(
        spark, table, {"n_chars": "n_chars + CAST(1 AS BIGINT)"}, "doc_id % 2 = 0"
    )
    assert v == 3


def test_update_where_rejects_pending_lazy_deletes(spark, docs, tmp_path):
    """CoW update on a table with pending merge-on-read tombstones
    raises (the rewrite would detach them): compact first."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    st.delete_where(spark, table, "n_chars > 400", lazy=True)
    with pytest.raises(ValueError, match="pending lazy"):
        st.update_where(spark, table, {"n_chars": "n_chars"}, "doc_id = 0")


def test_rename_column_no_rewrite(spark, docs, tmp_path):
    """RENAME COLUMN is metadata-only: same data files, readers alias
    the old physical bytes to the new name, stats move with the column
    so pruning on the NEW name still works, and time travel to the
    pre-rename version shows the old name."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=4, cluster_by=["doc_id"])  # v2
    before = st._load_snapshot(table, 2)
    v = rename_column(spark, table, "n_chars", "chars")
    snap = st._load_snapshot(table, v)
    assert snap["operation"] == "rename_column"
    # zero data movement: identical file list
    assert [s["file"] for s in snap["shards"]] == [
        s["file"] for s in before["shards"]
    ]
    # every shard mapped: logical chars -> physical n_chars
    assert all(s["names"]["chars"] == "n_chars" for s in snap["shards"])
    got = read_snapshot(spark, table)
    assert got.columns == ["doc_id", "lang", "chars"]
    assert _canon(got) == _canon(docs)  # values identical, name aside
    # stats moved: pruning on the new name skips shards
    assert all("doc_id" in s["stats"] for s in snap["shards"])
    pruned = read_snapshot(spark, table, prune=("doc_id", 0, 10))
    # scan reducer, not a filter: fewer shards scanned, all matches kept
    assert pruned.count() < docs.count()
    assert (
        pruned.where(F.col("doc_id") <= 10).count()
        == docs.where(F.col("doc_id") <= 10).count()
    )
    # time travel: the old version still reads under the old name
    assert read_snapshot(spark, table, 2).columns == ["doc_id", "lang", "n_chars"]
    # errors are loud
    with pytest.raises(ValueError, match="no column"):
        rename_column(spark, table, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, table, "chars", "lang")


def test_rename_then_append_mixes_physical_layouts(spark, docs, tmp_path):
    """Appends after a rename write the NEW physical name; a read spans
    both layouts and CoW ops rewrite mapped shards correctly."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column,
    )

    table = str(tmp_path / "t")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1).withColumnRenamed(
        "n_chars", "chars"
    )
    write_snapshot(a, table, mode="append")
    rename_column(spark, table, "n_chars", "chars")
    write_snapshot(b, table, mode="append")
    expect = docs.withColumnRenamed("n_chars", "chars")
    assert _canon(read_snapshot(spark, table)) == _canon(expect)
    # CoW update reads mapped + unmapped shards and rewrites both
    st.update_where(spark, table, {"chars": "chars + CAST(1 AS BIGINT)"}, "TRUE")
    bumped = expect.withColumn("chars", F.col("chars") + 1)
    assert _canon(read_snapshot(spark, table)) == _canon(bumped)
    # rewritten shards are identity-mapped again (no names entry)
    last = st._load_snapshot(table, latest_version(table))
    assert all("names" not in s for s in last["shards"])


def test_drop_column_and_name_reuse_reads_null(spark, docs, tmp_path):
    """DROP COLUMN is metadata-only; re-adding the same name later
    reads NULL from pre-drop shards — never the dropped bytes."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column, drop_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    before = st._load_snapshot(table, 1)
    drop_column(spark, table, "lang")                              # v2
    snap = st._load_snapshot(table, 2)
    assert [s["file"] for s in snap["shards"]] == [
        s["file"] for s in before["shards"]
    ]
    assert read_snapshot(spark, table).columns == ["doc_id", "n_chars"]
    add_column(spark, table, "lang", "string")                     # v3
    got = read_snapshot(spark, table)
    assert got.columns == ["doc_id", "n_chars", "lang"]
    assert got.where(F.col("lang").isNotNull()).count() == 0  # the trap
    # appends now land real values alongside NULL history
    extra = docs.limit(5).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "n_chars", "lang"
    )
    write_snapshot(extra, table, mode="append")                    # v4
    assert read_snapshot(spark, table).where(
        F.col("lang").isNotNull()
    ).count() == 5
    # time travel: v1 still shows the original lang values
    assert read_snapshot(spark, table, 1).where(
        F.col("lang").isNotNull()
    ).count() == docs.count()
    with pytest.raises(ValueError, match="no column"):
        drop_column(spark, table, "nope")


def test_alter_column_guards(spark, docs, tmp_path):
    """Live CHECK constraints referencing the column, and pending lazy
    deletes, block rename/drop loudly; add_column passes through
    incremental readers as row-preserving."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column, drop_column, read_changes, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")                     # v1
    st.add_constraint(spark, table, "chars_pos", "n_chars > 0")    # v2
    with pytest.raises(ValueError, match="drop the constraint first"):
        rename_column(spark, table, "n_chars", "chars")
    with pytest.raises(ValueError, match="drop the constraint first"):
        drop_column(spark, table, "n_chars")
    st.drop_constraint(table, "chars_pos")                         # v3
    add_column(spark, table, "note", "string")                     # v4
    write_snapshot(
        docs.limit(3).select(
            (F.col("doc_id") + 10**9).alias("doc_id"), "lang", "n_chars",
            F.lit("x").alias("note"),
        ),
        table, mode="append",
    )                                                              # v5
    # incremental read over the add_column commit: just the new rows
    assert read_changes(spark, table, 1).count() == 3
    # pending lazy deletes block rename/drop (tombstones hold names)
    st.delete_where(spark, table, "n_chars > 400", lazy=True)      # v6
    with pytest.raises(ValueError, match="pending lazy"):
        rename_column(spark, table, "n_chars", "chars")
    with pytest.raises(ValueError, match="pending lazy"):
        drop_column(spark, table, "note")


def test_cdc_and_incremental_refuse_rename_crossing(spark, docs, tmp_path):
    """read_cdc / read_changes ranges that CROSS a rename or drop
    commit raise loudly; starting at/after it works."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_cdc, read_changes, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table)    # v1
    v2 = rename_column(spark, table, "n_chars", "chars")
    write_snapshot(
        docs.where(F.col("doc_id") % 2 == 1).withColumnRenamed(
            "n_chars", "chars"
        ),
        table, mode="append",
    )                                                              # v3
    with pytest.raises(ValueError, match="crosses a rename_column"):
        read_cdc(spark, table, 1).count()
    with pytest.raises(ValueError, match="rename_column"):
        read_changes(spark, table, 1).count()
    # starting the feed at the evolution point is fine
    assert read_cdc(spark, table, v2).count() == docs.where(
        F.col("doc_id") % 2 == 1
    ).count()
    assert read_changes(spark, table, v2).count() == read_cdc(
        spark, table, v2
    ).count()


def test_table_stats_metadata_only(spark, docs, tmp_path):
    """table_stats answers count/min/max from the snapshot log alone;
    columns any shard lacks stats for are omitted (never guessed), and
    pending tombstones raise (metadata would overcount)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        table_stats,
    )

    table = str(tmp_path / "t")
    write_snapshot(
        docs.repartition(4, "doc_id"), table, stats_cols=["doc_id", "n_chars"]
    )
    s = table_stats(table)
    row = docs.agg(
        F.count(F.lit(1)), F.min("doc_id"), F.max("doc_id"),
        F.min("n_chars"), F.max("n_chars"),
    ).collect()[0]
    assert s["n_rows"] == row[0]
    assert (s["min"]["doc_id"], s["max"]["doc_id"]) == (row[1], row[2])
    assert (s["min"]["n_chars"], s["max"]["n_chars"]) == (row[3], row[4])
    # an append WITHOUT stats poisons the well for min/max, not counts
    write_snapshot(docs.limit(7), table, mode="append")
    s2 = table_stats(table)
    assert s2["n_rows"] == row[0] + 7
    assert s2["min"] == {} and s2["max"] == {}
    # historical versions answer from their own snapshot
    assert table_stats(table, version=1)["n_rows"] == row[0]
    # tombstones -> loud refusal
    st.delete_where(spark, table, "n_chars > 400", lazy=True)
    with pytest.raises(ValueError, match="overcount"):
        table_stats(table)


def test_reader_version_gate(spark, docs, tmp_path):
    """A snapshot stamped with a future reader protocol refuses to
    load; column-mapped snapshots stamp protocol 2 automatically."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    assert st._load_snapshot(table, 1).get("reader_version", 1) == 1
    v = rename_column(spark, table, "n_chars", "chars")
    assert st._load_snapshot(table, v)["reader_version"] == 2
    # doctor a future-protocol snapshot: every read path must refuse
    p = st._snap_path(table, v)
    snap = json.loads(open(p).read())
    snap["reader_version"] = 99
    os.chmod(p, 0o644)
    open(p, "w").write(json.dumps(snap))
    with pytest.raises(ValueError, match="requires reader protocol 99"):
        read_snapshot(spark, table)
    with pytest.raises(ValueError, match="upgrade"):
        write_snapshot(docs, table, mode="append")


def test_read_cdc_update_emits_net_changes(spark, docs, tmp_path):
    """An UPDATE commit surfaces in the CDC feed as delete(pre-image) +
    insert(post-image) pairs for the MATCHED rows only — rewritten-but-
    identical rows cancel in the multiset diff."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_cdc,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)                                    # v1
    st.update_where(
        spark, table, {"n_chars": "n_chars + CAST(1 AS BIGINT)"},
        "doc_id % 10 = 0",
    )                                                              # v2
    feed = read_cdc(spark, table, 1)
    matched = docs.where(F.col("doc_id") % 10 == 0)
    n = matched.count()
    assert n > 0
    dels = feed.where(F.col("_change_type") == "delete")
    ins = feed.where(F.col("_change_type") == "insert")
    assert dels.count() == n and ins.count() == n
    assert _canon(dels.select("doc_id", "lang", "n_chars")) == _canon(matched)
    assert _canon(ins.select("doc_id", "lang", "n_chars")) == _canon(
        matched.withColumn("n_chars", F.col("n_chars") + 1)
    )
    assert feed.select("_commit_version").distinct().collect()[0][0] == 2


def test_update_where_validates_on_pre_image_matches(spark, tmp_path):
    """Regression: an update that moves rows OUT of its own predicate
    must still validate their post-image (filtering the rewritten frame
    by the condition would re-evaluate it on post-image values and see
    nothing)."""
    from pyspark.sql import types as T

    table = str(tmp_path / "t")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.IntegerType())]
    )
    write_snapshot(spark.createDataFrame([(1, 10)], schema), table)
    st.add_constraint(spark, table, "cap", "v <= 10")
    with pytest.raises(ValueError, match="CHECK constraint 'cap'"):
        st.update_where(spark, table, {"v": "v + 1"}, "v = 10")
    assert _canon(read_snapshot(spark, table)) == [(1, 10)]  # unchanged


def test_read_cdc_refuses_rollback_across_rename(spark, docs, tmp_path):
    """Regression: a ROLLBACK commit that restores a pre-rename schema
    removes the renamed column relative to its parent — the pre-image
    side is unrepresentable, so the CDC read must refuse instead of
    silently emitting NULL for it."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_cdc, rename_column, rollback,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table)    # v1
    rename_column(spark, table, "n_chars", "chars")                # v2
    write_snapshot(
        docs.where(F.col("doc_id") % 2 == 1).withColumnRenamed(
            "n_chars", "chars"
        ),
        table, mode="append",
    )                                                              # v3
    rollback(table, 1)                                             # v4
    with pytest.raises(ValueError, match="removes or retypes"):
        read_cdc(spark, table, 3, 4).count()
    # and the table itself still reads fine at both schemas
    assert read_snapshot(spark, table).columns == ["doc_id", "lang", "n_chars"]
    assert read_snapshot(spark, table, 3).columns == ["doc_id", "lang", "chars"]


def test_rename_cycle_normalizes_maps_and_protocol(spark, docs, tmp_path):
    """Regression: renaming v->w->v must leave a PLAIN table — identity
    maps are normalized away, so the snapshot stays reader-protocol 1
    and reads stay single-scan."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    rename_column(spark, table, "n_chars", "x")
    mid = st._load_snapshot(table, 2)
    assert mid["reader_version"] == 2  # genuinely mapped
    v = rename_column(spark, table, "x", "n_chars")
    snap = st._load_snapshot(table, v)
    assert all("names" not in s for s in snap["shards"])
    assert snap.get("reader_version", 1) == 1
    assert _canon(read_snapshot(spark, table)) == _canon(docs)


def test_rename_cycle_after_drop_keeps_hidden_columns_hidden(spark, docs, tmp_path):
    """Regression: a rename cycle must NOT normalize away the map of a
    shard that hides dropped physical bytes — otherwise a same-name
    re-add after the cycle would resurface them."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column, drop_column, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    drop_column(spark, table, "lang")
    rename_column(spark, table, "n_chars", "x")
    rename_column(spark, table, "x", "n_chars")
    snap = st._load_snapshot(table, latest_version(table))
    assert all(
        s.get("names") is not None and s.get("hidden") == ["lang"]
        for s in snap["shards"]
    )
    assert snap["reader_version"] == 2
    add_column(spark, table, "lang", "string")
    got = read_snapshot(spark, table)
    assert got.where(F.col("lang").isNotNull()).count() == 0


def test_vacuum_sweeps_aged_staged_residue(spark, docs, tmp_path):
    """vacuum(stage_older_than=...) removes CRASHED writers' staged
    files from _tmp/ by age — fresh (possibly in-flight) staging is
    never touched, emptied staging dirs are pruned."""
    import glob

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    old_dir = os.path.join(table, "_tmp", "batch")
    os.makedirs(old_dir, exist_ok=True)
    old = os.path.join(old_dir, "batch-dead.parquet")
    fresh = os.path.join(old_dir, "batch-live.parquet")
    open(old, "w").write("x")
    open(fresh, "w").write("x")
    past = __import__("time").time() - 7200
    os.utime(old, (past, past))
    stats = st.vacuum(table, stage_older_than=3600)
    assert stats == {"orphans_removed": 0, "staged_removed": 1}
    assert not os.path.exists(old) and os.path.exists(fresh)
    # default call keeps its historical return shape and ignores _tmp
    assert st.vacuum(table) == {"orphans_removed": 0}
    os.remove(fresh)
    st.vacuum(table, stage_older_than=0)
    assert glob.glob(os.path.join(table, "_tmp", "*")) == []  # pruned
    # the table itself is untouched throughout
    assert read_snapshot(spark, table).count() == docs.count()


def test_snapshot_table_sql_ddl_surface(spark, docs, tmp_path):
    """CREATE TEMPORARY VIEW ... USING snapshot_table: the registered
    format is reachable from pure SQL, pushdown and all."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    register_snapshot_table_source(spark)
    view = "snap_sql_v"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} "
        f"USING snapshot_table OPTIONS (path '{table}')"
    )
    try:
        assert (
            spark.sql(f"SELECT count(*) AS n FROM {view}").collect()[0]["n"]
            == docs.count()
        )
        got = spark.sql(
            f"SELECT lang, count(*) AS n FROM {view} "
            f"WHERE doc_id <= 50 GROUP BY lang"
        )
        expect = (
            docs.where(F.col("doc_id") <= 50).groupBy("lang").count()
            .withColumnRenamed("count", "n")
        )
        assert _canon(got) == _canon(expect)
    finally:
        spark.catalog.dropTempView(view)


def test_rollback_refuses_schema_regression_under_constraints(spark, docs, tmp_path):
    """Regression: ROLLBACK keeps the current constraints, so restoring
    a schema that lost a column while constraints are live would make
    every later write fail with an unresolved column — refused up
    front; fine after dropping the constraints."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column, rollback,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)                                    # v1
    rename_column(spark, table, "n_chars", "chars")                # v2
    st.add_constraint(spark, table, "cap", "chars > 0")            # v3
    with pytest.raises(ValueError, match="drop the constraints first"):
        rollback(table, 1)
    st.drop_constraint(table, "cap")                               # v4
    v = rollback(table, 1)                                         # v5
    assert read_snapshot(spark, table).columns == ["doc_id", "lang", "n_chars"]
    assert v == 5
    # same-schema rollback under constraints is still allowed
    st.add_constraint(spark, table, "cap2", "n_chars > 0")         # v6
    rollback(table, 5)                                             # v7
    assert latest_version(table) == 7


def test_drop_column_never_physically_present_stays_normalizable(
    spark, docs, tmp_path
):
    """Regression: dropping a column NO shard ever physically contained
    (added then dropped with no appends between) must not mark shards
    hidden — a later rename cycle still normalizes back to a plain
    protocol-1 table."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column, drop_column, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)                                    # v1
    add_column(spark, table, "x", "string")                        # v2
    drop_column(spark, table, "x")                                 # v3
    snap = st._load_snapshot(table, 3)
    assert all("hidden" not in s for s in snap["shards"])
    rename_column(spark, table, "n_chars", "y")                    # v4
    rename_column(spark, table, "y", "n_chars")                    # v5
    final = st._load_snapshot(table, 5)
    assert all("names" not in s for s in final["shards"])
    assert final.get("reader_version", 1) == 1
    assert _canon(read_snapshot(spark, table)) == _canon(docs)


# ---------------------------------------------------------------- partitions


def test_partitioned_write_records_values_and_prunes(spark, docs, tmp_path):
    """partition_by=['lang']: every shard holds exactly one lang, the
    log records it, and partition_filter skips every non-matching shard
    (exact pruning — no false positives, unlike stats)."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert {s["partition"]["lang"] for s in snap["shards"]} == langs
    # per-shard purity: each file's rows all carry the recorded value
    for s in snap["shards"]:
        got = (
            spark.read.parquet(os.path.join(table, "data", s["file"]))
            .select("lang").distinct().collect()
        )
        assert [r["lang"] for r in got] == [s["partition"]["lang"]]
    pruned = read_snapshot(spark, table, partition_filter={"lang": "en"})
    assert _canon(pruned) == _canon(docs.where(F.col("lang") == "en"))
    # IN-form filter
    two = read_snapshot(
        spark, table, partition_filter={"lang": ["en", "de"]}
    )
    assert _canon(two) == _canon(docs.where(F.col("lang").isin("en", "de")))


def test_partition_spec_inheritance_and_conflict(spark, docs, tmp_path):
    """Appends inherit the table's spec (pass nothing); a conflicting
    explicit spec raises; overwrite may redefine; [] un-partitions."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    write_snapshot(docs.limit(7), table)  # inherits
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    assert all("partition" in s for s in snap["shards"])
    with pytest.raises(ValueError, match="conflicts with the table's spec"):
        write_snapshot(docs.limit(3), table, partition_by=["doc_id"])
    # overwrite redefines; [] explicitly un-partitions
    write_snapshot(docs, table, mode="overwrite", partition_by=[])
    assert "partition_by" not in snapshot_history(table)[-1]
    assert st.table_partition_by(table) == []


def test_partition_type_gate_and_missing_column(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    with pytest.raises(ValueError, match="source columns only"):
        write_snapshot(
            docs.withColumn("f", F.lit(1.5)), table, partition_by=["f"]
        )
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_snapshot(docs, table, partition_by=["nope"])


def test_partition_null_values(spark, docs, tmp_path):
    """NULL partition values round-trip (hive default-partition dir →
    None in the log → partition_filter={col: None} matches them)."""
    table = str(tmp_path / "t")
    d = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    write_snapshot(d, table, partition_by=["lang"])
    snap = snapshot_history(table)[-1]
    assert any(s["partition"]["lang"] is None for s in snap["shards"])
    got = read_snapshot(spark, table, partition_filter={"lang": None})
    assert _canon(got) == _canon(d.where(F.col("lang").isNull()))


def test_partition_survives_dml_and_compaction(spark, docs, tmp_path):
    """DELETE/UPDATE/MERGE rewrites re-split under the spec (an UPDATE
    that moves a row across partitions logs it under the NEW value);
    compaction preserves the spec; rollback restores the spec the
    target version had."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, delete_where, merge_upsert, rollback, update_where,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])          # v1
    delete_where(spark, table, "doc_id % 7 = 0")                # v2
    update_where(spark, table, {"lang": "'xx'"}, "doc_id % 11 = 0")  # v3
    ups = docs.limit(5).withColumn("n_chars", F.lit(1).cast("bigint"))
    merge_upsert(ups, table, ["doc_id"])                        # v4
    for v in (2, 3, 4):
        snap = st._load_snapshot(table, v)
        assert snap["partition_by"] == ["lang"], v
        assert all("partition" in s for s in snap["shards"]), v
    # moved rows live under their NEW partition value and prune exactly
    moved = read_snapshot(spark, table, partition_filter={"lang": "xx"})
    assert _canon(moved) == _canon(
        read_snapshot(spark, table).where(F.col("lang") == "xx")
    )
    compact_table(spark, table, target_shards=2)                # v5
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    assert all("partition" in s for s in snap["shards"])
    rollback(table, 1)                                          # v6
    assert st.table_partition_by(table) == ["lang"]
    assert _canon(read_snapshot(spark, table)) == _canon(docs)


def test_partition_column_alter_forbidden(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_column, rename_column,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    with pytest.raises(ValueError, match="partition column"):
        rename_column(spark, table, "lang", "language")
    with pytest.raises(ValueError, match="partition column"):
        drop_column(spark, table, "lang")
    # non-partition columns still evolve freely
    rename_column(spark, table, "n_chars", "chars")
    assert "chars" in read_snapshot(spark, table).columns


def test_partitioned_official_writer_and_reader_pruning(
    spark, docs, tmp_path
):
    """df.write.format('snapshot_table').option('partition_by', ...):
    executor-side Arrow split stages one file per partition tuple; an
    equality/IN .where() on the partition column prunes planned shards
    (plan_log proof); appends through the official writer inherit."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )

    register_snapshot_table_source(spark)
    table = str(tmp_path / "t")
    (
        docs.write.format("snapshot_table")
        .option("partition_by", "lang").mode("append").save(table)
    )
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    assert all(s["partition"]["lang"] is not None for s in snap["shards"])
    docs.limit(9).write.format("snapshot_table").mode("append").save(table)
    assert st.table_partition_by(table) == ["lang"]
    with pytest.raises(Exception, match="conflicts with the table's spec"):
        (
            docs.limit(3).write.format("snapshot_table")
            .option("partition_by", "doc_id").mode("append").save(table)
        )
    log = str(tmp_path / "plan.json")
    out = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where(F.col("lang") == "en")
    )
    expected = _canon(
        read_snapshot(spark, table).where(F.col("lang") == "en")
    )
    assert _canon(out) == expected
    plan = json.load(open(log))
    assert 0 < plan["planned"] < plan["total"]


def test_partitioned_streaming_sink_keeps_spec(spark, docs, tmp_path):
    """A streaming append through the foreachBatch sink helper keeps a
    partitioned table's spec (write_snapshot inheritance), and the
    official stream sink's own commit carries it forward too."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    sink = streaming_snapshot_sink(table, app_id="p-test")
    sink(docs.limit(4), 0)
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    assert all("partition" in s for s in snap["shards"])


def test_drop_partition_metadata_only(spark, docs, tmp_path):
    """DROP PARTITION: one JSON commit, zero files read or written —
    exactly the matching shards leave the live set, time travel still
    reads them, and read_cdc surfaces the drop as row deletes."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition, read_cdc,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])          # v1
    before = {
        os.path.basename(p)
        for p in __import__("glob").glob(
            os.path.join(table, "data", "part-*.parquet")
        )
    }
    n_en = docs.where(F.col("lang") == "en").count()
    v = drop_partition(table, {"lang": "en"})                   # v2
    snap = st._load_snapshot(table, v)
    assert snap["operation"] == "drop_partition"
    assert snap["properties"]["rows_dropped"] == n_en
    # metadata-only: no new data files exist after the commit
    after = {
        os.path.basename(p)
        for p in __import__("glob").glob(
            os.path.join(table, "data", "part-*.parquet")
        )
    }
    assert after == before
    assert _canon(read_snapshot(spark, table)) == _canon(
        docs.where(F.col("lang") != "en")
    )
    assert read_snapshot(spark, table, 1).where(
        F.col("lang") == "en"
    ).count() == n_en
    cdc = read_cdc(spark, table, start_version=1)
    dels = cdc.where(F.col("_change_type") == "delete")
    assert dels.count() == n_en
    assert cdc.count() == n_en  # nothing but the deletes
    # IN-form: drop two partitions in one commit
    drop_partition(table, {"lang": ["de", "fr"]})               # v3
    assert _canon(read_snapshot(spark, table)) == _canon(
        docs.where(~F.col("lang").isin("en", "de", "fr"))
    )


def test_drop_partition_guards(spark, docs, tmp_path):
    """Non-partition columns refuse; a live shard without recorded
    partition values (arrival-order streaming append) refuses loudly
    instead of dropping an incomplete partition; read_changes raises
    crossing the row-changing commit."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition, read_changes, streaming_snapshot_sink,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    with pytest.raises(ValueError, match="not partition columns"):
        drop_partition(table, {"doc_id": 1})
    drop_partition(table, {"lang": "zh"})
    with pytest.raises(ValueError, match="append-only"):
        read_changes(spark, table, start_version=1).collect()
    # an unstamped shard blocks the drop (simulate the streaming sink's
    # arrival-order shard by stripping one shard's recorded values)
    snapfile = os.path.join(
        table, "_snapshots",
        sorted(os.listdir(os.path.join(table, "_snapshots")))[-1],
    )
    d = json.load(open(snapfile))
    d["shards"][0].pop("partition")
    json.dump(d, open(snapfile, "w"))
    with pytest.raises(ValueError, match="compact_table first"):
        drop_partition(table, {"lang": "en"})


def test_partition_prune_dml(spark, docs, tmp_path):
    """partition_prune on DELETE/UPDATE carries non-matching partitions
    verbatim (exact, no false positives); on lazy DELETE it narrows the
    tombstone's covered-shard list to the matching partition."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where, update_where,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    n_langs = len(snapshot_history(table)[-1]["shards"])
    v = delete_where(
        spark, table, "lang = 'en' AND doc_id % 2 = 0",
        partition_prune={"lang": "en"},
    )
    props = st._load_snapshot(table, v)["properties"]
    assert props["shards_rewritten"] == 1
    assert props["shards_skipped"] == n_langs - 1
    assert props["partition_prune"] == {"lang": "en"}
    expected = docs.where(
        ~((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    v = update_where(
        spark, table, {"n_chars": "n_chars + CAST(1 AS BIGINT)"},
        "lang = 'de'", partition_prune={"lang": "de"},
    )
    assert st._load_snapshot(table, v)["properties"]["shards_rewritten"] == 1
    assert _canon(read_snapshot(spark, table)) == _canon(
        expected.withColumn(
            "n_chars",
            F.when(
                F.col("lang") == "de", F.col("n_chars") + 1
            ).otherwise(F.col("n_chars")),
        )
    )
    v = delete_where(
        spark, table, "lang = 'fr'", lazy=True,
        partition_prune={"lang": "fr"},
    )
    snap = st._load_snapshot(table, v)
    tomb = snap["deletes"][-1]
    fr = {
        s["file"] for s in snap["shards"]
        if s.get("partition", {}).get("lang") == "fr"
    }
    assert set(tomb["shards"]) == fr
    assert read_snapshot(spark, table).where(
        F.col("lang") == "fr"
    ).count() == 0


def test_partition_transforms_bucket_truncate(spark, docs, tmp_path):
    """Iceberg-style partition TRANSFORMS: bucket(N, col) records
    portable_hash64(col) % N per shard (purity checked against the
    Python twin), truncate(W, col) floors ints to multiples of W, and
    partition_filter probes take SOURCE values — the engine maps them
    through the transform (hidden partitioning)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _parse_partition_spec,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["bucket(8, doc_id)"])
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["bucket(8, doc_id)"]
    f = _parse_partition_spec("bucket(8, doc_id)")
    for s in snap["shards"]:
        ids = [
            r.doc_id
            for r in spark.read.parquet(
                os.path.join(table, "data", s["file"])
            ).select("doc_id").collect()
        ]
        assert all(
            f["py"](i) == s["partition"]["bucket(8, doc_id)"] for i in ids
        )
    probe = docs.limit(1).collect()[0].doc_id
    got = read_snapshot(
        spark, table, partition_filter={"bucket(8, doc_id)": probe}
    ).where(F.col("doc_id") == probe)
    assert got.count() == 1
    # truncate on ints: every recorded value is a multiple of the width
    t2 = str(tmp_path / "t2")
    write_snapshot(docs, t2, partition_by=["truncate(100, doc_id)"])
    s2 = snapshot_history(t2)[-1]
    assert all(
        int(s["partition"]["truncate(100, doc_id)"]) % 100 == 0
        for s in s2["shards"]
    )
    got = read_snapshot(
        spark, t2, partition_filter={"truncate(100, doc_id)": 123}
    )
    assert _canon(got.where(F.col("doc_id").between(100, 199))) == _canon(
        docs.where(F.col("doc_id").between(100, 199))
    )


def test_partition_transform_hidden_pushdown_and_spec_rules(
    spark, docs, tmp_path
):
    """The official reader maps a pushed equality on the SOURCE column
    through the transform (user filters doc_id, engine prunes buckets);
    specs canonicalize; unknown partition_filter keys raise; the
    official batch writer refuses transforms (JVM-path only); the
    transform's source column cannot be renamed."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column,
    )

    register_snapshot_table_source(spark)
    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["bucket( 8 ,doc_id)"])
    assert snapshot_history(table)[-1]["partition_by"] == [
        "bucket(8, doc_id)"
    ]
    probe = docs.limit(1).collect()[0].doc_id
    log = str(tmp_path / "plan.json")
    out = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where(F.col("doc_id") == probe)
    )
    assert out.count() == 1
    plan = json.load(open(log))
    assert 0 < plan["planned"] < plan["total"]
    with pytest.raises(ValueError, match="not a partition field"):
        read_snapshot(spark, table, partition_filter={"nope": 1}).count()
    with pytest.raises(ValueError, match="unsupported partition transform"):
        # years/months/days/hours are all supported now; weeks is not
        write_snapshot(docs, str(tmp_path / "bad"), partition_by=["weeks(x)"])
    with pytest.raises(Exception, match="not supported through the batch"):
        (
            docs.write.format("snapshot_table")
            .option("partition_by", "bucket(8, doc_id)")
            .mode("append").save(str(tmp_path / "w"))
        )
    with pytest.raises(ValueError, match="partition column"):
        rename_column(spark, table, "doc_id", "id")


def test_partition_transform_days(spark, sf_dir, tmp_path):
    """days(ts): shards carry the calendar date; a date (or datetime)
    probe prunes to that day's files; the type gate rejects non-
    temporal sources."""
    import datetime

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).limit(500)
    table = str(tmp_path / "t")
    write_snapshot(orders, table, partition_by=["days(o_orderdate)"])
    snap = snapshot_history(table)[-1]
    day = sorted(
        s["partition"]["days(o_orderdate)"] for s in snap["shards"]
    )[0]
    got = read_snapshot(
        spark, table,
        partition_filter={"days(o_orderdate)": datetime.date.fromisoformat(day)},
    )
    assert got.count() > 0
    assert got.where(
        F.col("o_orderdate").cast("date") != F.lit(day).cast("date")
    ).count() == 0
    with pytest.raises(ValueError, match="source columns only"):
        write_snapshot(
            orders.withColumn("k", F.lit(1)), str(tmp_path / "bad"),
            partition_by=["days(k)"],
        )


def test_compact_partitions_scoped_rewrite(spark, docs, tmp_path):
    """Partition-scoped compaction rewrites ONLY the selected
    partition's shards (others carry verbatim, same file names),
    includes-and-stamps unstamped stragglers so drop_partition re-arms,
    is row-preserving (CDC/incremental readers skip it), and refuses
    with pending lazy deletes."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_partitions, delete_where, drop_partition, read_cdc,
        read_changes,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])             # v1
    for i in range(3):  # small-file appends touching en only
        write_snapshot(
            docs.where(F.col("lang") == "en").limit(10 + i), table
        )                                                          # v2-4
    snap = snapshot_history(table)[-1]
    en_before = [
        s for s in snap["shards"] if s["partition"]["lang"] == "en"
    ]
    others = [
        s["file"] for s in snap["shards"] if s["partition"]["lang"] != "en"
    ]
    total = read_snapshot(spark, table).count()
    v = compact_partitions(spark, table, {"lang": "en"}, target_shards=1)
    snap2 = st._load_snapshot(table, v)
    assert snap2["properties"]["compaction"] is True
    assert snap2["properties"]["shards_rewritten"] == len(en_before)
    en_after = [
        s for s in snap2["shards"] if s["partition"]["lang"] == "en"
    ]
    assert len(en_after) == 1
    # non-selected shards carry verbatim — same physical files
    assert sorted(
        s["file"] for s in snap2["shards"]
        if s["partition"]["lang"] != "en"
    ) == sorted(others)
    assert read_snapshot(spark, table).count() == total
    # layout-only for incremental/CDC readers
    assert read_changes(spark, table, start_version=4).count() == 0
    assert read_cdc(spark, table, start_version=4).count() == 0
    # straggler stamping: strip one shard's stamp, compact, drop works
    snapfile = os.path.join(
        table, "_snapshots",
        sorted(os.listdir(os.path.join(table, "_snapshots")))[-1],
    )
    d = json.load(open(snapfile))
    d["shards"][0].pop("partition")
    json.dump(d, open(snapfile, "w"))
    with pytest.raises(ValueError, match="compact_table first"):
        drop_partition(table, {"lang": "de"})
    compact_partitions(spark, table, {"lang": "de"})
    assert all(
        "partition" in s for s in snapshot_history(table)[-1]["shards"]
    )
    drop_partition(table, {"lang": "de"})
    assert read_snapshot(spark, table).where(
        F.col("lang") == "de"
    ).count() == 0
    # pending lazy deletes refuse
    delete_where(spark, table, "doc_id % 9 = 0", lazy=True)
    with pytest.raises(ValueError, match="pending lazy deletes"):
        compact_partitions(spark, table, {"lang": "fr"})


def test_partition_spec_evolution_and_show_partitions(
    spark, docs, tmp_path
):
    """set_partition_spec is METADATA-ONLY (Iceberg update_spec): new
    writes split under the new spec, old shards keep their recorded
    values, filters stay conservative across the mix, drop_partition
    refuses until compact_partitions migrates, and show_partitions
    lists exact per-tuple counts with mixed-spec shards under None."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_partitions, drop_partition, read_changes,
        set_partition_spec, show_partitions,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])          # v1
    langs = dict(
        (p["partition"]["lang"], p["n_rows"])
        for p in show_partitions(table)
    )
    assert sum(langs.values()) == docs.count()
    files_v1 = {s["file"] for s in snapshot_history(table)[-1]["shards"]}
    set_partition_spec(table, ["bucket( 4 , doc_id)"])          # v2
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["bucket(4, doc_id)"]
    assert {s["file"] for s in snap["shards"]} == files_v1  # no rewrite
    write_snapshot(docs.limit(50), table)                       # v3
    # old shards keep lang values; new shards carry the bucket field
    snap = snapshot_history(table)[-1]
    assert any(
        "lang" in s.get("partition", {}) for s in snap["shards"]
    ) and any(
        "bucket(4, doc_id)" in s.get("partition", {})
        for s in snap["shards"]
    )
    # mixed-spec listing: old shards under None, new under tuples
    parts = show_partitions(table)
    unstamped = [p for p in parts if p["partition"] is None]
    assert unstamped and unstamped[0]["n_rows"] == docs.count()
    # a filter on the NEW field keeps old shards (conservative)
    probe = docs.limit(1).collect()[0].doc_id
    got = read_snapshot(
        spark, table, partition_filter={"bucket(4, doc_id)": probe}
    ).where(F.col("doc_id") == probe)
    assert got.count() == 2  # base row + the limit(50) duplicate
    with pytest.raises(ValueError, match="compact_table first"):
        drop_partition(table, {"bucket(4, doc_id)": 0})
    compact_partitions(
        spark, table, {"bucket(4, doc_id)": [0, 1, 2, 3]}
    )
    assert all(
        "bucket(4, doc_id)" in s["partition"]
        for s in snapshot_history(table)[-1]["shards"]
    )
    drop_partition(table, {"bucket(4, doc_id)": 0})
    # incremental read passes over the spec commit (row-preserving)
    assert read_changes(spark, table, 1, 3).count() == 50


def test_partition_value_edge_cases_and_fanout(spark, docs, tmp_path):
    """Review regressions: (1) empty-string partition values stay
    distinct from NULL through the hive dir round-trip (staged with a
    stripped '=' prefix — Spark writes '' to the default partition
    otherwise), on BOTH write paths; (2) values containing the old
    Arrow-split separator byte survive exactly; (3) staging shuffles by
    tuple first, so a many-task upstream commits ~one file per
    partition value, not tasks x partitions."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition,
    )

    register_snapshot_table_source(spark)
    rows = [(1, "", 10), (2, None, 20), (3, "en", 30), (4, "a\x1fb", 40)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n bigint")
    for via_official in (False, True):
        table = str(tmp_path / f"t{via_official}")
        if via_official:
            (
                df.write.format("snapshot_table")
                .option("partition_by", "lang").mode("append").save(table)
            )
        else:
            write_snapshot(df, table, partition_by=["lang"])
        rec = sorted(
            (s["partition"]["lang"] for s in
             snapshot_history(table)[-1]["shards"]),
            key=lambda v: (v is None, v or ""),
        )
        assert rec == ["", "a\x1fb", "en", None], (via_official, rec)
        for probe, want in (("", 1), (None, 1), ("a\x1fb", 1)):
            assert read_snapshot(
                spark, table, partition_filter={"lang": probe}
            ).count() == want, (via_official, probe)
        drop_partition(table, {"lang": None})
        left = read_snapshot(spark, table)
        assert left.count() == 3
        assert left.where(F.col("lang") == "").count() == 1
    # fan-out bound: 16 upstream tasks x N langs -> N files, not 16xN
    table = str(tmp_path / "fan")
    write_snapshot(docs.repartition(16), table, partition_by=["lang"])
    snap = snapshot_history(table)[-1]
    n_langs = docs.select("lang").distinct().count()
    assert len(snap["shards"]) <= n_langs


def test_streaming_sink_stamps_partitions(spark, docs, tmp_path):
    """The official stream sink splits each micro-batch on the table's
    identity partition fields at write time — streamed shards arrive
    STAMPED, so pruning and drop_partition work on streaming ingest
    without waiting for compaction; merge_upsert's partition_prune
    carries non-matching partitions verbatim."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_sink import (
        register_snapshot_sink,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition, merge_upsert,
    )

    register_snapshot_sink(spark)
    table = str(tmp_path / "t")
    write_snapshot(docs.limit(0), table, partition_by=["lang"])
    src = str(tmp_path / "src")
    docs.limit(200).coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(docs.schema).parquet(src)
        .writeStream.format("snapshot_sink")
        .option("path", table).option("app_id", "stamp-test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["lang"]
    assert all(
        s.get("partition", {}).get("lang") is not None
        for s in snap["shards"]
    )
    langs = sorted({s["partition"]["lang"] for s in snap["shards"]})
    drop_partition(table, {"lang": langs[0]})  # no compaction needed
    left = read_snapshot(spark, table)
    assert left.where(F.col("lang") == langs[0]).count() == 0
    # merge with partition_prune rewrites only the touched partition
    ups = left.where(F.col("lang") == langs[1]).limit(3).withColumn(
        "n_chars", F.lit(7).cast("bigint")
    )
    v = merge_upsert(
        ups, table, ["doc_id"], partition_prune={"lang": langs[1]}
    )
    props = st._load_snapshot(table, v)["properties"]
    assert props["shards_skipped"] > 0
    got = read_snapshot(spark, table)
    assert got.where(F.col("n_chars") == 7).count() == 3


def test_sql_ddl_partition_pushdown(spark, docs, tmp_path):
    """Pure-SQL reach of partition pruning: a temp view over a
    bucket-partitioned table prunes a WHERE doc_id = k probe through
    the hidden transform (plan_log proof), rows equal the plain
    filter."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["bucket(8, doc_id)"])
    register_snapshot_table_source(spark)
    probe = docs.limit(1).collect()[0].doc_id
    log = str(tmp_path / "plan.json")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_part_v "
        f"USING snapshot_table OPTIONS (path '{table}', plan_log '{log}')"
    )
    try:
        rows = spark.sql(
            f"SELECT doc_id, lang FROM snap_part_v WHERE doc_id = {probe}"
        ).collect()
        assert len(rows) == 1 and rows[0]["doc_id"] == probe
        plan = json.load(open(log))
        assert 0 < plan["planned"] < plan["total"]
    finally:
        spark.catalog.dropTempView("snap_part_v")


def test_drop_partition_and_spec_race_retries(
    spark, docs, tmp_path, monkeypatch
):
    """Metadata ops lose a commit race cleanly: a rival append landing
    between drop_partition's triage and its claim makes the drop retry
    on the new base — the rival's shards survive and exactly the
    partition's shards (including the rival's freshly appended one)
    leave; same for set_partition_spec (spec applies on top of the
    rival's commit, nothing lost)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition, set_partition_spec,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])         # v1
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and "_snapshots" in dst:
            state["raced"] = True
            write_snapshot(                                    # rival v2
                docs.where(F.col("lang") == "en").limit(5), table
            )
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    v = drop_partition(table, {"lang": "en"})                  # lands v3
    assert state["raced"] and v == 3
    final = read_snapshot(spark, table)
    assert final.where(F.col("lang") == "en").count() == 0
    assert final.count() == docs.where(F.col("lang") != "en").count()

    state["raced"] = False

    def racing_link2(src, dst):
        if not state["raced"] and "_snapshots" in dst:
            state["raced"] = True
            write_snapshot(docs.limit(3), table)               # rival v4
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link2)
    v = set_partition_spec(table, ["bucket(4, doc_id)"])       # lands v5
    assert state["raced"] and v == 5
    snap = snapshot_history(table)[-1]
    assert snap["partition_by"] == ["bucket(4, doc_id)"]
    # the rival's rows are in the spec commit's shard list (rebased)
    assert snap["n_rows"] == final.count() + 3


def test_read_changes_partition_filter(spark, docs, tmp_path):
    """Incremental reads narrow to one partition's added files from
    metadata alone — the per-language derived-table refresh; hidden
    transforms apply to the probe; unknown keys raise."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_changes,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table,
                   partition_by=["lang"])                    # v1
    write_snapshot(docs.where(F.col("doc_id") % 2 == 1), table)  # v2
    write_snapshot(docs.limit(0), table)                     # v3 (empty)
    inc = read_changes(
        spark, table, start_version=1, partition_filter={"lang": "en"}
    )
    expect = docs.where(
        (F.col("doc_id") % 2 == 1) & (F.col("lang") == "en")
    )
    assert _canon(inc) == _canon(expect)
    with pytest.raises(ValueError, match="not a partition field"):
        read_changes(
            spark, table, start_version=1, partition_filter={"x": 1}
        )


def test_drop_partition_retention_lifecycle(spark, docs, tmp_path):
    """The retention story end to end: DROP PARTITION leaves the files
    on disk for time travel; once retention expires the pre-drop
    snapshots, the dropped partition's files are physically reclaimed
    and the live table is untouched."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        drop_partition, expire_snapshots,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])          # v1
    snap = snapshot_history(table)[-1]
    en_files = [
        s["file"] for s in snap["shards"]
        if s["partition"]["lang"] == "en"
    ]
    drop_partition(table, {"lang": "en"})                       # v2
    for f in en_files:  # still on disk: v1 time-travels
        assert os.path.exists(os.path.join(table, "data", f))
    got = expire_snapshots(table, keep_last=1)
    assert got["shards_removed"] == len(en_files)
    for f in en_files:
        assert not os.path.exists(os.path.join(table, "data", f))
    assert _canon(read_snapshot(spark, table)) == _canon(
        docs.where(F.col("lang") != "en")
    )
    with pytest.raises(FileNotFoundError):
        st._load_snapshot(table, 1)  # expired, loudly


def test_read_metadata_tables(spark, docs, tmp_path):
    """history/files/partitions inspection tables: exact counts from
    the log alone, partition and stats surfaces typed, unknown kinds
    raise, version pinning works."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_metadata_table,
    )

    table = str(tmp_path / "t")
    write_snapshot(
        docs, table, partition_by=["lang"], stats_cols=["doc_id"]
    )                                                           # v1
    write_snapshot(docs.limit(10), table)                       # v2
    hist = read_metadata_table(spark, table, "history")
    assert [r["operation"] for r in hist.orderBy("version").collect()] == [
        "append", "append"
    ]
    files_v1 = read_metadata_table(spark, table, "files", version=1)
    assert files_v1.agg(F.sum("n_rows")).collect()[0][0] == docs.count()
    files = read_metadata_table(spark, table, "files")
    assert files.agg(F.sum("n_rows")).collect()[0][0] == docs.count() + 10
    # stats carried in portable string form
    row = files.where(F.col("stats").isNotNull()).limit(1).collect()[0]
    lo, hi = row["stats"]["doc_id"]
    assert int(lo) <= int(hi)
    parts = read_metadata_table(spark, table, "partitions")
    assert parts.agg(F.sum("n_rows")).collect()[0][0] == docs.count() + 10
    with pytest.raises(ValueError, match="unknown metadata table"):
        read_metadata_table(spark, table, "entries")  # not a relation


def test_stream_source_partition_filter(spark, docs, tmp_path):
    """snapshot_changes with option partition_filter: each micro-batch
    plans only the matching partitions' added files from metadata
    (streaming per-language refresh); the result equals the batch
    read_changes twin."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_stream import (
        register_snapshot_changes,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_changes,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table,
                   partition_by=["lang"])                    # v1
    write_snapshot(docs.where(F.col("doc_id") % 2 == 1), table)  # v2
    register_snapshot_changes(spark)
    out = (
        spark.readStream.format("snapshot_changes")
        .option("path", table).option("start_version", 1)
        .option("partition_filter", '{"lang": ["en", "de"]}')
        .load()
    )
    q = (
        out.writeStream.format("memory").queryName("pf_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM pf_stream").collect()
    )
    twin = read_changes(
        spark, table, start_version=1,
        partition_filter={"lang": ["en", "de"]},
    )
    assert got == _canon(twin)


def test_clustered_scoped_compaction_multifile_partitions(
    spark, docs, tmp_path
):
    """Regression for the staging fan-out fix: a CLUSTERED partition
    rewrite must still produce MULTIPLE files per partition with
    near-disjoint key ranges (range split on (tuple, key)), not
    collapse to one file per tuple — that's what keeps stats selective
    inside a partition."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_partitions,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    compact_partitions(
        spark, table, {"lang": "en"}, target_shards=4,
        cluster_by=["doc_id"], stats_cols=["doc_id"],
        bloom_cols=["doc_id"],
    )
    snap = snapshot_history(table)[-1]
    en = [s for s in snap["shards"] if s["partition"]["lang"] == "en"]
    assert len(en) >= 2  # multi-file partition survived the split
    assert all("bloom" in s and "stats" in s for s in en)
    # near-disjoint ranges: a mid-range point probe keeps < all files
    bounds = sorted(tuple(s["stats"]["doc_id"]) for s in en)
    probe = bounds[0][1]  # first file's max
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _stats_overlap,
    )

    kept = [s for s in en if _stats_overlap(s, "doc_id", probe, probe)]
    assert 0 < len(kept) < len(en)
    assert _canon(
        read_snapshot(
            spark, table,
            partition_filter={"lang": "en"},
            prune=("doc_id", probe, probe),
        ).where(F.col("doc_id") == probe)
    ) == _canon(docs.where(F.col("doc_id") == probe))


def test_rewrites_inherit_blooms_and_split_budget(spark, docs, tmp_path):
    """Review regressions: (1) partial rewrites (scoped compaction,
    DELETE) re-record Bloom filters for every column the rewritten
    shards carried one for — no silent point-lookup pruning loss; (2) a
    NON-clustered scoped compaction honors target_shards (the
    within-tuple spark_partition_id split), not one-file-per-tuple."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_partitions, delete_where,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"], bloom_cols=["doc_id"])
    en = docs.where(F.col("lang") == "en")
    for i in range(4):
        write_snapshot(en.where(F.col("doc_id") % 5 == i), table)
    compact_partitions(spark, table, {"lang": "en"}, target_shards=3)
    snap = snapshot_history(table)[-1]
    en_shards = [
        s for s in snap["shards"] if s["partition"]["lang"] == "en"
    ]
    assert 2 <= len(en_shards) <= 4  # budget honored, no collapse to 1
    assert all("doc_id" in s.get("bloom", {}) for s in en_shards)
    delete_where(
        spark, table, "lang = 'de' AND doc_id % 2 = 0",
        partition_prune={"lang": "de"},
    )
    de = [
        s for s in snapshot_history(table)[-1]["shards"]
        if s["partition"]["lang"] == "de"
    ]
    assert de and all("doc_id" in s.get("bloom", {}) for s in de)
    assert _canon(read_snapshot(spark, table).where(
        F.col("lang") == "de"
    )) == _canon(
        docs.where((F.col("lang") == "de") & (F.col("doc_id") % 2 != 0))
    )


def test_append_rebase_across_rename_conflicts(
    spark, docs, tmp_path, monkeypatch,
):
    """An append that loses its commit race to a concurrent
    rename_column must raise a metadata conflict (Delta/Iceberg rule),
    not silently _merge_schema its entry-time schema into the evolved
    base — that would resurrect the old name as a separate column and
    land the new rows under it."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)

    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            st.rename_column(spark, table, "n_chars", "char_count")
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    with pytest.raises(ValueError, match="schema evolved"):
        write_snapshot(docs.where(F.col("lang") == "de"), table)
    assert state["raced"]
    # the rename's commit is the tip; the stale-schema append never landed
    assert latest_version(table) == 2
    out = read_snapshot(spark, table)
    assert "char_count" in out.columns and "n_chars" not in out.columns
    # a fresh append against the NEW schema succeeds
    de = docs.where(F.col("lang") == "de").withColumnRenamed(
        "n_chars", "char_count"
    )
    write_snapshot(de, table)
    assert read_snapshot(spark, table).columns == out.columns


def test_bloom_point_null_probe_rejected(spark, docs, tmp_path):
    """Blooms record no bits for NULLs, so a None probe (which would
    hash the string 'None') must raise instead of silently pruning
    shards that DO contain NULL rows."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, bloom_cols=["lang"])
    with pytest.raises(ValueError, match="may not be None"):
        read_snapshot(spark, table, bloom_point=("lang", None))


def test_days_partition_timestamp_tz_aware_probe(spark, tmp_path):
    """days() on a TIMESTAMP column: the JVM records the UTC-session
    calendar date; a tz-aware datetime probe must be normalized to the
    same wall clock, or the exact partition tier silently prunes the
    matching shards (partition pruning has no conservative fallback)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 3, 1, 23, 30)),
        (2, dt.datetime(2024, 3, 2, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    table = str(tmp_path / "t")
    write_snapshot(df, table, partition_by=["days(ts)"])
    snap = snapshot_history(table)[-1]
    assert sorted(
        s["partition"]["days(ts)"] for s in snap["shards"]
    ) == ["2024-03-01", "2024-03-02"]
    # 2024-03-02T00:30+01:00 == 2024-03-01T23:30 UTC -> day 2024-03-01
    probe = dt.datetime(
        2024, 3, 2, 0, 30,
        tzinfo=dt.timezone(dt.timedelta(hours=1)),
    )
    got = read_snapshot(
        spark, table, partition_filter={"days(ts)": probe}
    )
    assert [r["id"] for r in got.collect()] == [1]
    # naive probes keep the UTC-wall-clock interpretation
    got = read_snapshot(
        spark, table,
        partition_filter={"days(ts)": dt.datetime(2024, 3, 2, 1, 0)},
    )
    assert [r["id"] for r in got.collect()] == [2]


def test_dml_noop_no_empty_commit(spark, docs, tmp_path):
    """update_where/delete_where whose pruning carries EVERY shard
    (provably nothing can match) return the current version without
    committing — no version churn, matching compact_partitions'
    'nothing to do; no empty commit' stance. A bad condition still
    raises on the no-op path."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table, stats_cols=["doc_id"], partition_by=["lang"])
    v1 = latest_version(table)
    assert st.delete_where(
        spark, table, "doc_id < -5", prune=("doc_id", -100, -1)
    ) == v1
    assert st.update_where(
        spark, table, {"n_chars": "n_chars + 0"}, "doc_id < -5",
        prune=("doc_id", -100, -1),
    ) == v1
    # lazy tombstone covering zero shards also no-ops
    assert st.delete_where(
        spark, table, "lang = 'zz'", lazy=True,
        partition_prune={"lang": "zz"},
    ) == v1
    assert latest_version(table) == v1
    assert not snapshot_history(table)[-1].get("deletes")
    with pytest.raises(Exception, match="no_such_col"):
        st.delete_where(
            spark, table, "no_such_col < 0", prune=("doc_id", -100, -1)
        )
    assert latest_version(table) == v1


# ---------------------------------------------------------------------------
# Refs: branches, tags, write-audit-publish
# ---------------------------------------------------------------------------


def test_branch_isolation_and_publish(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table)
    assert st.create_branch(table, "audit") == 1
    # fork reads as the main state it copied
    assert _canon(read_snapshot(spark, table, branch="audit")) == _canon(en)
    seq = write_snapshot(de, table, branch="audit")
    assert seq == 2
    # main readers see NOTHING of the branch write (the WAP property)
    assert latest_version(table) == 1
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    # branch readers see the fork content plus the branch commit
    assert _canon(read_snapshot(spark, table, branch="audit")) == _canon(
        en.unionByName(de)
    )
    v = st.publish_branch(table, "audit")
    assert v == 2
    snap = st._load_snapshot(table, 2)
    assert snap["operation"] == "publish"
    assert snap["properties"]["published_branch"] == "audit"
    assert _canon(read_snapshot(spark, table)) == _canon(en.unionByName(de))
    st.drop_branch(table, "audit")
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, branch="audit")


def test_branch_requires_fork_and_unique_name(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    with pytest.raises(FileNotFoundError):
        write_snapshot(docs, table, branch="nope")  # no create_branch
    st.create_branch(table, "b")
    with pytest.raises(FileExistsError):
        st.create_branch(table, "b")
    st.create_tag(table, "r1")
    with pytest.raises(FileExistsError):
        st.create_branch(table, "r1")  # tag name collides
    with pytest.raises(FileExistsError):
        st.create_tag(table, "b")  # branch name collides
    with pytest.raises(ValueError):
        st.create_branch(table, "bad/name")


def test_publish_conflict_when_main_advances(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    st.create_branch(table, "b")
    write_snapshot(docs.where(F.col("lang") == "de"), table, branch="b")
    write_snapshot(docs.where(F.col("lang") == "fr"), table)  # interleaved
    with pytest.raises(ValueError, match="re-fork"):
        st.publish_branch(table, "b")
    # main kept the interleaved commit; nothing was dropped
    assert latest_version(table) == 2


def test_publish_nothing_refused(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_branch(table, "b")
    with pytest.raises(ValueError, match="nothing to publish"):
        st.publish_branch(table, "b")
    assert latest_version(table) == 1  # no version churn


def test_branch_concurrent_writer_rebase(spark, docs, tmp_path):
    """A branch commit that loses its sequence number to a concurrent
    branch writer rebases and lands on the next one — same protocol as
    the main chain."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    write_snapshot(en, table)
    st.create_branch(table, "b")
    real_claim = st._claim_snapshot
    raced = {"done": False}

    def racing_claim(t, tmp_dir, snapshot, branch=None):
        if branch == "b" and not raced["done"]:
            raced["done"] = True
            # a concurrent writer claims seq 2 first
            write_snapshot(de, t, branch="b")
        return real_claim(t, tmp_dir, snapshot, branch)

    st._claim_snapshot = racing_claim
    try:
        seq = write_snapshot(fr, table, branch="b")
    finally:
        st._claim_snapshot = real_claim
    assert seq == 3  # lost seq 2, rebased onto the winner
    assert _canon(read_snapshot(spark, table, branch="b")) == _canon(
        en.unionByName(de).unionByName(fr)
    )


def test_branch_inherits_constraints(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("n_chars") > 0), table)
    st.add_constraint(spark, table, "pos_chars", "n_chars > 0")
    st.create_branch(table, "b")
    bad = docs.withColumn("n_chars", F.lit(-1).cast("bigint"))
    with pytest.raises(ValueError, match="pos_chars"):
        write_snapshot(bad, table, branch="b")


def test_tag_pins_version_through_expiry(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    st.create_tag(table, "baseline")  # tags latest = v1
    write_snapshot(docs.where(F.col("lang") == "de"), table)
    write_snapshot(docs.where(F.col("lang") == "fr"), table)
    out = expire_snapshots(table, keep_last=1)
    assert out["snapshots_removed"] == 1  # v2 only; v1 is tagged
    assert _canon(read_snapshot(spark, table, tag="baseline")) == _canon(en)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=2)
    with pytest.raises(FileExistsError):
        st.create_tag(table, "baseline")  # immutable
    st.delete_tag(table, "baseline")
    out = expire_snapshots(table, keep_last=1)
    assert out["snapshots_removed"] == 1  # the pin is gone
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, tag="baseline")


def test_branch_data_survives_gc_until_drop(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)
    st.create_branch(table, "b")
    write_snapshot(docs.where(F.col("lang") == "de"), table, branch="b")
    assert st.vacuum(table)["orphans_removed"] == 0  # branch refs count
    assert expire_snapshots(table, keep_last=5)["shards_removed"] == 0
    n_branch = read_snapshot(spark, table, branch="b").count()
    assert n_branch == read_snapshot(spark, table).count() + docs.where(
        F.col("lang") == "de"
    ).count()
    st.drop_branch(table, "b")
    assert st.vacuum(table)["orphans_removed"] > 0  # now orphaned


def test_list_refs(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_tag(table, "v1")
    st.create_branch(table, "dev")
    refs = st.list_refs(table)
    assert refs == [
        {"name": "dev", "type": "branch", "head_seq": 1, "base_version": 1},
        {"name": "v1", "type": "tag", "version": 1},
    ]


def test_read_snapshot_ref_arg_validation(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_tag(table, "v1")
    st.create_branch(table, "b")
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot(spark, table, branch="b", tag="v1")
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot(spark, table, tag="v1", version=1)
    with pytest.raises(ValueError, match="main-chain only"):
        read_snapshot(spark, table, branch="b", as_of=1.0)


def test_ref_name_dot_rejected(spark, docs, tmp_path):
    """'.' / '..' would alias the branch log onto _refs/ or the table
    root (drop_branch would rmtree everything); dots-only and
    suffix-spoofing names are invalid."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    for bad in (
        ".", "..", "...", ".hidden", "x.ref", "x.tag", "", "a/b",
        # ".json" names would put the branch-log DIRECTORY where
        # list_refs' "*.ref.json" glob expects claim files and brick GC
        "x.ref.json", "x.json",
    ):
        with pytest.raises(ValueError):
            st.create_branch(table, bad)
        with pytest.raises(ValueError):
            st.create_tag(table, bad)


def test_list_refs_skips_stray_directories(spark, docs, tmp_path):
    """A directory whose name matches the claim-file glob (e.g. left by
    an older writer or manual surgery) must be skipped, not open()-ed —
    list_refs runs inside expire_snapshots/GC."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_tag(table, "v1")
    os.makedirs(os.path.join(table, "_refs", "stray.ref.json"))
    assert st.list_refs(table) == [{"name": "v1", "type": "tag", "version": 1}]


def test_streaming_sink_rejects_empty_app_id(spark, docs, tmp_path):
    """app_id='' is the ledger key for the unnamed lineage (None); a
    user lineage named '' would share its high-water mark and silently
    skip the other's replays after a publish."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    with pytest.raises(ValueError, match="reserved"):
        streaming_snapshot_sink(table, app_id="")


def test_branch_dropped_mid_write_fails_loudly(spark, docs, tmp_path):
    """A branch write whose branch is dropped between staging and claim
    must fail, not resurrect the branch as a fork-less chain."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)
    st.create_branch(table, "b")
    real_stage = st._stage_publish

    def dropping_stage(*a, **k):
        out = real_stage(*a, **k)
        # the branch disappears AFTER this write staged its shards but
        # BEFORE the claim loop runs — the widest real race window
        st.drop_branch(table, "b")
        return out

    de = docs.where(F.col("lang") == "de")
    st._stage_publish = dropping_stage
    try:
        with pytest.raises(FileNotFoundError, match="dropped while"):
            write_snapshot(de, table, branch="b")
    finally:
        st._stage_publish = real_stage
    # main chain untouched; the branch is really gone
    assert latest_version(table) == 1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, branch="b")


def test_delete_tag_refuses_branch_ref(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_branch(table, "b")
    with pytest.raises(ValueError, match="not a tag"):
        st.delete_tag(table, "b")
    with pytest.raises(FileNotFoundError):
        st.drop_branch(table, "nope")


def test_torn_branch_create_repairable(spark, docs, tmp_path):
    """A crash between the name claim and the fork commit leaves a torn
    ref: list_refs skips it, reads fail loudly, and a create_branch
    retry repairs it."""
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    assert st._claim_ref(
        table, "b", {"name": "b", "type": "branch", "created_at": 0.0}
    )  # marker claimed, fork never committed (the torn state)
    assert st.list_refs(table) == []
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, branch="b")
    assert st.create_branch(table, "b") == 1  # repair
    assert st.list_refs(table) == [
        {"name": "b", "type": "branch", "head_seq": 1, "base_version": 1}
    ]


def test_refs_metadata_table(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_tag(table, "rel1")
    st.create_branch(table, "dev")
    write_snapshot(docs.where(F.col("lang") == "en"), table, branch="dev")
    rows = sorted(
        (r["name"], r["type"], r["version"], r["head_seq"], r["base_version"])
        for r in st.read_metadata_table(spark, table, "refs").collect()
    )
    assert rows == [
        ("dev", "branch", None, 2, 1),
        ("rel1", "tag", 1, None, None),
    ]
    with pytest.raises(ValueError, match="not applicable"):
        st.read_metadata_table(spark, table, "refs", version=1)
    # empty refs dir -> empty frame with the declared schema
    t2 = str(tmp_path / "t2")
    write_snapshot(docs, t2)
    empty = st.read_metadata_table(spark, t2, "refs")
    assert empty.count() == 0 and empty.columns == [
        "name", "type", "version", "head_seq", "base_version"
    ]


def test_streaming_wap_branch_sink(spark, docs, tmp_path):
    """Streaming write-audit-publish: micro-batches land on an audit
    branch (invisible to main), batch-id idempotence replays against
    the BRANCH log, and publish_branch exposes the audited window to
    main as one commit."""
    from pyspark.sql import types as T

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    en = docs.where(F.col("lang") == "en")
    table = str(tmp_path / "t")
    write_snapshot(en, table)  # main v1 = the published corpus
    st.create_branch(table, "ingest")

    rest = docs.where(F.col("lang") != "en").orderBy("doc_id").collect()
    halves = [rest[0::2], rest[1::2]]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for h in halves:
        spark.createDataFrame(h, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(
            streaming_snapshot_sink(table, branch="ingest")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # two micro-batches landed on the branch; main is untouched
    assert latest_version(table, "ingest") == 3  # fork + 2 batches
    assert latest_version(table) == 1
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    # replaying a committed batch id against the branch is a no-op
    sink = streaming_snapshot_sink(table, branch="ingest")
    sink(spark.createDataFrame(halves[0], schema), 0)
    assert latest_version(table, "ingest") == 3
    # audit passes -> publish the whole ingested window as ONE commit
    v = st.publish_branch(table, "ingest")
    assert v == 2
    assert _canon(read_snapshot(spark, table)) == _canon(docs)
    got = [
        s["properties"].get("streaming_batch_id")
        for s in st.snapshot_history(table, "ingest")
    ]
    assert got == [None, 0, 1]  # fork, then the two batch commits


def test_read_changes_on_branch(spark, docs, tmp_path):
    """read_changes(branch=..., start=1) is the WAP audit primitive:
    exactly the rows the publish will add, from branch metadata alone."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_changes,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "b")
    write_snapshot(de, table, branch="b")
    write_snapshot(fr, table, branch="b")
    staged = read_changes(spark, table, 1, branch="b")
    assert _canon(staged) == _canon(de.unionByName(fr))
    # sub-range: only the second branch commit
    assert _canon(read_changes(spark, table, 2, branch="b")) == _canon(fr)
    # main log is a different timeline: the same range on main is the
    # empty delta — branch commits never leak into main's change feed
    assert read_changes(spark, table, 1).count() == 0
    # a branch overwrite is not representable as added files
    write_snapshot(en, table, mode="overwrite", branch="b")
    with pytest.raises(ValueError, match="append-only"):
        read_changes(spark, table, 1, branch="b")


def test_publish_does_not_leak_streaming_stamps(spark, docs, tmp_path):
    """A WAP publish of a streamed window must not poison main-chain
    sink idempotence: streaming_* stamps stay off the publish commit
    (as published_streaming high-water marks instead), so a later plain
    main-chain sink still commits its own batch 0."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "w1")
    bsink = streaming_snapshot_sink(table, branch="w1")
    bsink(de, 0)  # one streamed micro-batch on the branch
    v = st.publish_branch(table, "w1")
    pub = st._load_snapshot(table, v)
    assert "streaming_batch_id" not in pub["properties"]
    assert pub["properties"]["published_streaming"] == {"": 0}
    # a NEW main-chain lineage's batch 0 must not be skipped
    msink = streaming_snapshot_sink(table)
    msink(fr, 0)
    assert latest_version(table) == v + 1
    assert _canon(read_snapshot(spark, table)) == _canon(
        en.unionByName(de).unionByName(fr)
    )


def test_branch_sink_replay_after_window_rollover(spark, docs, tmp_path):
    """The WAP cycle (publish -> drop_branch -> create_branch) destroys
    the branch's own log; a crash-replay of an already-PUBLISHED batch
    id against the fresh branch must be skipped via main's
    published_streaming ledger — no duplicate rows in the next window."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "ingest")
    sink = streaming_snapshot_sink(table, branch="ingest")
    sink(de, 0)
    sink(fr, 1)
    st.publish_branch(table, "ingest")
    st.drop_branch(table, "ingest")
    st.create_branch(table, "ingest")  # next audit window
    sink = streaming_snapshot_sink(table, branch="ingest")
    sink(fr, 1)  # at-least-once replay of the PUBLISHED batch 1
    assert latest_version(table, "ingest") == 1  # skipped: fork only
    sink(de.limit(0), 2)  # a genuinely new batch still commits
    assert latest_version(table, "ingest") == 2
    # published corpus holds each row exactly once
    assert _canon(read_snapshot(spark, table)) == _canon(
        en.unionByName(de).unionByName(fr)
    )


def test_read_changes_branch_start_zero_rejected(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_changes,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    st.create_branch(table, "b")
    with pytest.raises(ValueError, match="verbatim copy"):
        read_changes(spark, table, 0, branch="b")


def test_branch_dml_remediation_and_publish(spark, docs, tmp_path):
    """WAP remediation in place: the audit UPDATEs bad rows and DELETEs
    hopeless ones on the branch, main stays untouched until publish."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where,
        update_where,
    )

    en = docs.where(F.col("lang") == "en")
    table = str(tmp_path / "t")
    write_snapshot(en, table, stats_cols=["n_chars"])
    st.create_branch(table, "audit")
    dirty = docs.where(F.col("lang") != "en").withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 3 == 0, -F.col("n_chars")).otherwise(
            F.col("n_chars")
        ),
    )
    write_snapshot(dirty, table, branch="audit")
    # remediate ON THE BRANCH: flip recoverable rows, drop zh entirely
    update_where(
        spark, table, {"n_chars": "CAST(-n_chars AS BIGINT)"},
        "n_chars < 0", branch="audit",
    )
    delete_where(spark, table, "lang = 'zh'", branch="audit")
    # main never saw any of it
    assert latest_version(table) == 1
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    # branch now equals the clean expected state
    expected = docs.where(F.col("lang") != "zh")
    assert _canon(read_snapshot(spark, table, branch="audit")) == _canon(
        expected
    )
    v = st.publish_branch(table, "audit")
    assert _canon(read_snapshot(spark, table, version=v)) == _canon(expected)


def test_branch_lazy_delete_rides_publish(spark, docs, tmp_path):
    """A merge-on-read tombstone committed on the branch is carried
    onto main by publish (shard lists are table-global file names)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "b")
    write_snapshot(de, table, branch="b")
    delete_where(
        spark, table, "doc_id % 2 = 0", lazy=True, branch="b"
    )
    # tombstone applies on the branch read, not on main
    assert _canon(read_snapshot(spark, table, branch="b")) == _canon(
        en.unionByName(de).where(F.col("doc_id") % 2 != 0)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    st.publish_branch(table, "b")
    assert _canon(read_snapshot(spark, table)) == _canon(
        en.unionByName(de).where(F.col("doc_id") % 2 != 0)
    )


def test_branch_dml_requires_branch(spark, docs, tmp_path):
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where,
        update_where,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    with pytest.raises(FileNotFoundError, match="create_branch"):
        delete_where(spark, table, "doc_id = 1", branch="nope")
    with pytest.raises(FileNotFoundError, match="create_branch"):
        update_where(
            spark, table, {"n_chars": "n_chars"}, "doc_id = 1", branch="nope"
        )


def test_streaming_ledger_survives_expiry(spark, docs, tmp_path):
    """The replay ledger must outlive the publish snapshot that first
    recorded it: publish a streamed window, advance main, expire the
    publish commit, roll the window — a crash-replay of the published
    batch id must STILL be skipped (via the _refs/_ledger chain)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_snapshot_sink,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    fr = docs.where(F.col("lang") == "fr")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "ingest")
    sink = streaming_snapshot_sink(table, branch="ingest")
    sink(de, 0)
    st.publish_branch(table, "ingest")  # main v2, ledger {"" : 0}
    st.drop_branch(table, "ingest")
    write_snapshot(fr, table)  # main v3 (no streaming marks)
    out = expire_snapshots(table, keep_last=1)  # v2 (and its marks) gone
    assert out["snapshots_removed"] >= 1
    st.create_branch(table, "ingest")
    sink = streaming_snapshot_sink(table, branch="ingest")
    sink(de, 0)  # crash-replay of the PUBLISHED batch 0
    assert latest_version(table, "ingest") == 1  # skipped: fork only
    sink(de.limit(0), 1)  # the next real batch still commits
    assert latest_version(table, "ingest") == 2
    # a second window's publish carries the merged marks forward
    v = st.publish_branch(table, "ingest")
    marks = st._load_snapshot(table, v)["properties"]["published_streaming"]
    assert marks == {"": 1}


def test_branch_merge_upsert(spark, docs, tmp_path):
    """merge_upsert(branch=) — the third branch-DML leg: corrected rows
    upsert onto the audit branch; main untouched until publish."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "b")
    write_snapshot(de, table, branch="b")
    # corrected post-images for three de rows + one brand-new row
    fixes = de.orderBy("doc_id").limit(3).withColumn(
        "n_chars", F.col("n_chars") + 1000000
    )
    new_row = spark.createDataFrame(
        [(8000001, "xx", 7)], "doc_id bigint, lang string, n_chars bigint"
    )
    merge_upsert(
        fixes.unionByName(new_row), table, ["doc_id"], branch="b"
    )
    assert latest_version(table) == 1  # main untouched
    got = {
        r["doc_id"]: r["n_chars"]
        for r in read_snapshot(spark, table, branch="b").collect()
    }
    for r in fixes.collect():
        assert got[r["doc_id"]] == r["n_chars"]  # updated in place
    assert got[8000001] == 7  # inserted
    st.publish_branch(table, "b")
    assert read_snapshot(spark, table).count() == len(got)
    with pytest.raises(FileNotFoundError, match="create_branch"):
        merge_upsert(new_row, table, ["doc_id"], branch="nope")


def test_branch_compaction_before_publish(spark, docs, tmp_path):
    """compact_table(branch=) bounds the file count a streaming-WAP
    window publishes: micro-batch shards collapse into target_shards,
    replay idempotence still holds across the compaction commit, and
    the publish makes the compacted layout live on main."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        streaming_snapshot_sink,
    )

    en = docs.where(F.col("lang") == "en")
    table = str(tmp_path / "t")
    write_snapshot(en, table)
    st.create_branch(table, "w")
    sink = streaming_snapshot_sink(table, branch="w")
    sink(docs.where(F.col("lang") == "de"), 0)
    sink(docs.where(F.col("lang") == "fr"), 1)
    before = st._load_snapshot(
        table, latest_version(table, "w"), "w"
    )["n_shards"]
    compact_table(spark, table, target_shards=2, branch="w")
    snap = st._load_snapshot(table, latest_version(table, "w"), "w")
    assert snap["n_shards"] <= 2 < before
    assert snap["properties"]["compaction"] is True
    # replay of a pre-compaction batch id is still skipped
    seq = latest_version(table, "w")
    sink(docs.where(F.col("lang") == "de"), 1)
    assert latest_version(table, "w") == seq
    # main is untouched until publish; publish serves the compacted rows
    assert _canon(read_snapshot(spark, table)) == _canon(en)
    st.publish_branch(table, "w")
    expected = docs.where(F.col("lang").isin("en", "de", "fr"))
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_two_branch_publish_race(spark, docs, tmp_path):
    """Two branches forked from the same base: the first publish wins,
    the second conflicts loudly (its fork base is no longer main's
    head) — the cherry-pick ancestry rule under a real two-writer race,
    not just a main-advance."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)
    st.create_branch(table, "b1")
    st.create_branch(table, "b2")
    write_snapshot(docs.where(F.col("lang") == "de"), table, branch="b1")
    write_snapshot(docs.where(F.col("lang") == "fr"), table, branch="b2")
    assert st.publish_branch(table, "b1") == 2
    with pytest.raises(ValueError, match="re-fork"):
        st.publish_branch(table, "b2")
    # the loser re-forks from the new head and replays: lands cleanly
    st.drop_branch(table, "b2")
    st.create_branch(table, "b2")
    write_snapshot(docs.where(F.col("lang") == "fr"), table, branch="b2")
    assert st.publish_branch(table, "b2") == 3
    expected = docs.where(F.col("lang").isin("en", "de", "fr"))
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_replace_partition_atomic_static(spark, docs, tmp_path):
    """INSERT OVERWRITE PARTITION as ONE commit: the named partition's
    shards swap for the new data's, every other partition's files are
    carried byte-identical (same names, zero read/write), time travel
    still serves the pre-replace state, and a stray row outside the
    named partition refuses loudly without committing or leaking
    staged files."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        replace_partition,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])          # v1
    files_v1 = {
        s["file"]: s.get("partition") for s in snapshot_history(table)[-1]["shards"]
    }
    fixed_en = docs.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    v = replace_partition(fixed_en, table, {"lang": "en"})      # v2
    assert v == 2
    snap = st._load_snapshot(table, v)
    assert snap["operation"] == "replace_partition"
    # source-probe form, same shape drop_partition logs
    assert snap["properties"]["partition"] == {"lang": "en"}
    assert snap["properties"]["rows_replaced"] == docs.where(
        F.col("lang") == "en"
    ).count()
    # non-matching partitions carried verbatim — same file names
    kept = {s["file"] for s in snap["shards"] if s["partition"]["lang"] != "en"}
    assert kept == {
        f for f, p in files_v1.items() if p["lang"] != "en"
    }
    expected = docs.where(F.col("lang") != "en").unionByName(fixed_en)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # time travel reads the pre-replace day
    assert _canon(read_snapshot(spark, table, 1)) == _canon(docs)
    # a stray row outside the declared partition refuses, commits
    # nothing, and leaves no orphan staged files behind
    n_files = len(os.listdir(os.path.join(table, "data")))
    bad = fixed_en.unionByName(docs.where(F.col("lang") == "de").limit(1))
    with pytest.raises(ValueError, match="outside the declared"):
        replace_partition(bad, table, {"lang": "en"})
    assert latest_version(table) == 2
    assert len(os.listdir(os.path.join(table, "data"))) == n_files


def test_replace_partition_dynamic(spark, docs, tmp_path):
    """matching=None replaces exactly the partition tuples PRESENT in
    the new data (Iceberg dynamic overwrite); an empty DataFrame is a
    loud error, not a silent no-op."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        replace_partition,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    new = docs.where(F.col("lang").isin("en", "de")).withColumn(
        "n_chars", F.lit(0).cast("long")
    )
    replace_partition(new, table)
    expected = docs.where(~F.col("lang").isin("en", "de")).unionByName(new)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    props = st._load_snapshot(table, latest_version(table))["properties"]
    tuples = props["partition"]["dynamic_tuples"]
    assert {t["lang"] for t in tuples} == {"en", "de"}
    with pytest.raises(ValueError, match="replace nothing"):
        replace_partition(new.limit(0), table)


def test_replace_partition_guards(spark, docs, tmp_path):
    """Unpartitioned table, matching={}, a non-partition column, and an
    unstamped live shard all refuse loudly."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        replace_partition,
    )

    flat = str(tmp_path / "flat")
    write_snapshot(docs, flat)
    with pytest.raises(ValueError, match="requires a partitioned"):
        replace_partition(docs, flat, {"lang": "en"})

    table = str(tmp_path / "t")
    write_snapshot(docs, table, partition_by=["lang"])
    with pytest.raises(ValueError, match="replace EVERY"):
        replace_partition(docs, table, {})
    with pytest.raises(ValueError, match="not partition columns"):
        replace_partition(docs, table, {"doc_id": 1})
    # an unstamped live shard may hold matching rows: refuse
    snapfile = os.path.join(
        table, "_snapshots",
        sorted(os.listdir(os.path.join(table, "_snapshots")))[-1],
    )
    d = json.load(open(snapfile))
    d["shards"][0].pop("partition")
    json.dump(d, open(snapfile, "w"))
    with pytest.raises(ValueError, match="compact_table first"):
        replace_partition(
            docs.where(F.col("lang") == "en"), table, {"lang": "en"}
        )


def test_replace_partition_races_concurrent_append(spark, docs, tmp_path):
    """An append to a DIFFERENT partition racing the replace: both
    commits land (the loser rebases), no rows lost, and the replace
    still swaps exactly the named partition as of ITS commit."""
    import threading

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        replace_partition,
    )

    table = str(tmp_path / "t")
    base = docs.where(F.col("lang").isin("en", "de"))
    write_snapshot(base, table, partition_by=["lang"])          # v1
    fixed_en = base.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    extra_de = docs.where(F.col("lang") == "de").withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    rows_extra = extra_de.collect()
    errors = []

    def do_replace():
        try:
            replace_partition(fixed_en, table, {"lang": "en"})
        except Exception as e:
            errors.append(repr(e))

    def do_append():
        try:
            sub = docs.sparkSession.createDataFrame(rows_extra, docs.schema)
            write_snapshot(sub, table, mode="append")
        except Exception as e:
            errors.append(repr(e))

    threads = [
        threading.Thread(target=do_replace),
        threading.Thread(target=do_append),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert latest_version(table) == 3  # both landed, neither lost
    expected = (
        base.where(F.col("lang") == "de")
        .unionByName(fixed_en)
        .unionByName(extra_de)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_read_cdc_branch_guards_and_pairs(spark, docs, tmp_path):
    """read_cdc(branch=): start_version=0 refuses (the fork is a
    verbatim main copy — diffing from empty would report the whole
    corpus as inserts), a missing branch refuses, and a branch
    update_where surfaces as delete(pre)+insert(post) pairs while
    main's own CDC feed stays empty."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        create_branch, read_cdc, update_where,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    create_branch(table, "b")
    update_where(
        spark, table, {"n_chars": "n_chars + 7"},
        "doc_id % 2 = 0", branch="b",
    )
    with pytest.raises(ValueError, match="whole forked corpus"):
        read_cdc(spark, table, 0, branch="b")
    with pytest.raises(FileNotFoundError, match="no branch"):
        read_cdc(spark, table, 1, branch="nope")
    cdc = read_cdc(spark, table, 1, branch="b")
    n_upd = en.where(F.col("doc_id") % 2 == 0).count()
    by_type = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type == {"insert": n_upd, "delete": n_upd}
    # pre/post pairs: same keys, post = pre + 7
    pre = {r.doc_id: r.n_chars for r in cdc.where(F.col("_change_type") == "delete").collect()}
    post = {r.doc_id: r.n_chars for r in cdc.where(F.col("_change_type") == "insert").collect()}
    assert set(pre) == set(post)
    assert all(post[k] == pre[k] + 7 for k in pre)
    # the audit never touched main: its own feed since v1 is empty
    assert read_cdc(spark, table, 1).count() == 0


def test_merge_mor_deletion_vector_basic(spark, docs, tmp_path):
    """merge_upsert(mor=True): matched files are NOT rewritten — the
    updates append and a positional deletion vector subtracts the old
    versions at read; time travel to the pre-merge version still reads
    them; unmatched keys insert."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    for i in range(4):  # several shards so covers are per-file
        write_snapshot(
            en.where(F.col("doc_id") % 4 == i).coalesce(1), table,
            stats_cols=["doc_id"],
        )
    before = {s["file"] for s in snapshot_history(table)[-1]["shards"]}
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    ins = spark.createDataFrame(
        [(9_000_001, "en", 42)], "doc_id long, lang string, n_chars long"
    )
    v = merge_upsert(
        upd.unionByName(ins), table, key_cols=["doc_id"], mor=True
    )
    snap = st._load_snapshot(table, v)
    assert snap["properties"]["mor"] is True
    assert snap["properties"]["shards_rewritten"] == 0
    assert snap["properties"]["rows_deleted"] == upd.count()
    # every pre-merge shard is still live, plus the appended ones
    live = {s["file"] for s in snap["shards"]}
    assert before <= live
    dvs = [d for d in snap["deletes"] if "positions" in d]
    assert len(dvs) == 1 and dvs[0]["n_rows"] == upd.count()
    assert os.path.exists(os.path.join(table, "data", dvs[0]["positions"]))
    expected = (
        en.where(F.col("doc_id") % 10 != 0)
        .unionByName(upd)
        .unionByName(ins)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # time travel: the pre-merge version still reads the old rows
    assert _canon(read_snapshot(spark, table, v - 1)) == _canon(en)


def test_merge_mor_stacks_then_compaction_materialises(spark, docs, tmp_path):
    """A second MoR merge must tombstone the FIRST merge's appended
    rows (they are the visible versions now) — vectors stack over
    visible rows only, never double-delete. compact_table then
    materialises every vector; expire+vacuum reclaims the dv files."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, merge_upsert, vacuum,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    up1 = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.lit(111).cast("long")
    )
    merge_upsert(up1, table, key_cols=["doc_id"], mor=True)
    # overlapping second merge: half the keys updated AGAIN
    up2 = en.where(F.col("doc_id") % 20 == 0).withColumn(
        "n_chars", F.lit(222).cast("long")
    )
    merge_upsert(up2, table, key_cols=["doc_id"], mor=True)
    expected = (
        en.where(F.col("doc_id") % 10 != 0)
        .unionByName(up1.where(F.col("doc_id") % 20 != 0))
        .unionByName(up2)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    snap = snapshot_history(table)[-1]
    assert len([d for d in snap["deletes"] if "positions" in d]) == 2
    # vacuum keeps the referenced vectors
    assert vacuum(table)["orphans_removed"] == 0
    assert len(__import__("glob").glob(
        os.path.join(table, "data", "dv-*.parquet")
    )) == 2
    # compaction materialises: clean files, no pending deletes
    compact_table(spark, table, target_shards=2)
    assert not snapshot_history(table)[-1].get("deletes")
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # retention reclaims the now-unreferenced vectors
    expire_snapshots(table, keep_last=1)
    assert __import__("glob").glob(
        os.path.join(table, "data", "dv-*.parquet")
    ) == []
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_merge_mor_cdc_and_cow_guards(spark, docs, tmp_path):
    """read_cdc surfaces a MoR merge as delete(pre)+insert(post) pairs
    (same feed shape as the CoW merge); CoW DML refuses while vectors
    are pending, pointing at compaction — schema evolution composes
    (positional coordinates are name-free)."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where, merge_upsert, read_cdc, rename_column, update_where,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 7
    )
    merge_upsert(upd, table, key_cols=["doc_id"], mor=True)
    cdc = read_cdc(spark, table, 1)
    n_upd = upd.count()
    pre = {r.doc_id: r.n_chars for r in cdc.where(F.col("_change_type") == "delete").collect()}
    post = {r.doc_id: r.n_chars for r in cdc.where(F.col("_change_type") == "insert").collect()}
    assert len(pre) == len(post) == n_upd
    assert all(post[k] == pre[k] + 7 for k in pre)
    with pytest.raises(ValueError, match="compact_table first"):
        delete_where(spark, table, "n_chars < 0")
    with pytest.raises(ValueError, match="compact_table first"):
        update_where(spark, table, {"n_chars": "n_chars"}, "true")
    with pytest.raises(ValueError, match="mor=True"):
        merge_upsert(upd, table, key_cols=["doc_id"])  # CoW refuses
    # rename COMPOSES with a pending positional vector (name-free
    # coordinates) — the full matrix is pinned in
    # test_deletion_vectors_compose_with_schema_evolution
    rename_column(spark, table, "n_chars", "nc")
    assert read_snapshot(spark, table).where(
        F.col("nc").isNull()
    ).count() == 0


def test_merge_mor_on_branch_publishes(spark, docs, tmp_path):
    """A MoR merge on a WAP branch: the vector rides the branch,
    main is untouched until publish, and the published state subtracts
    the old versions on main too."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        create_branch, merge_upsert, publish_branch,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    create_branch(table, "fix")
    upd = en.where(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.lit(0).cast("long")
    )
    merge_upsert(upd, table, key_cols=["doc_id"], branch="fix", mor=True)
    assert _canon(read_snapshot(spark, table)) == _canon(en)  # isolated
    publish_branch(table, "fix")
    expected = en.where(F.col("doc_id") % 5 != 0).unionByName(upd)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_streaming_merge_sink_idempotent_upserts(spark, docs, tmp_path):
    """The merge sink's exactly-once contract: a replayed batch id is
    skipped per lineage, distinct lineages don't collide, mor merges
    apply in batch order, and app_id='' is rejected like the append
    sink's."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        streaming_merge_sink,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    with pytest.raises(ValueError, match="reserved"):
        streaming_merge_sink(table, ["doc_id"], app_id="")
    sink = streaming_merge_sink(table, ["doc_id"], app_id="cdc")
    b0 = en.where(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.lit(1).cast("long")
    )
    b1 = en.where(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.lit(2).cast("long")
    )
    sink(b0, 0)
    sink(b1, 1)
    v = latest_version(table)
    sink(b0, 0)  # at-least-once replay: no-op
    sink(b1, 1)
    assert latest_version(table) == v == 3
    # last writer per key wins across batches
    got = {r.doc_id: r.n_chars for r in read_snapshot(spark, table).collect()}
    for r in en.collect():
        assert got[r.doc_id] == (2 if r.doc_id % 3 == 0 else r.n_chars)
    # a DIFFERENT lineage's batch 0 is not a replay of ours
    other = streaming_merge_sink(table, ["doc_id"], app_id="cdc2")
    other(b1.limit(1), 0)
    assert latest_version(table) == 4


def test_update_where_mor_positional(spark, docs, tmp_path):
    """update_where(mor=True): matched rows' post-images append and
    their pre-images subtract by position — zero files rewritten; it
    stacks on a pending condition tombstone (positions come from the
    VISIBLE rows only); a no-match update commits nothing; compaction
    materialises."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, delete_where, update_where,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table)
    # a pending CONDITION tombstone first: MoR update must compose
    delete_where(spark, table, "doc_id % 7 = 0", lazy=True)
    before = {s["file"] for s in snapshot_history(table)[-1]["shards"]}
    v = update_where(
        spark, table, {"n_chars": "n_chars + 50"},
        "doc_id % 2 = 0", mor=True,
    )
    snap = st._load_snapshot(table, v)
    assert snap["properties"]["mor"] is True
    assert snap["properties"]["shards_rewritten"] == 0
    survivors = en.where(F.col("doc_id") % 7 != 0)
    n_match = survivors.where(F.col("doc_id") % 2 == 0).count()
    assert snap["properties"]["rows_updated"] == n_match
    assert before <= {s["file"] for s in snap["shards"]}
    expected = survivors.withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 2 == 0, F.col("n_chars") + 50)
        .otherwise(F.col("n_chars")),
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # no-match MoR update: no commit
    assert update_where(
        spark, table, {"n_chars": "n_chars"}, "doc_id < 0", mor=True
    ) == v
    assert latest_version(table) == v
    compact_table(spark, table, target_shards=2)
    assert not snapshot_history(table)[-1].get("deletes")
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_reserved_mor_identity_columns_rejected(spark, tmp_path):
    """__file/__pos are the MoR row-identity names every positional
    read and write depends on; a user column shadowing them would make
    the identity projection ambiguous — refused at staging."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2)], "doc_id long, __pos long")
    with pytest.raises(ValueError, match="reserved"):
        write_snapshot(df, table)


def test_merge_upsert_empty_batch_is_a_noop(spark, docs, tmp_path):
    """A merge that changes nothing commits nothing (update_where's
    no-empty-commit rule): empty updates batches — the steady state of
    a streaming_merge_sink between CDC bursts — return the current
    version in BOTH encodings instead of churning one snapshot (and a
    possible 0-row shard) per micro-batch."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, stats_cols=["doc_id"])
    v0 = latest_version(table)
    empty = spark.createDataFrame([], en.schema)
    assert merge_upsert(empty, table, key_cols=["doc_id"], mor=True) == v0
    assert merge_upsert(empty, table, key_cols=["doc_id"], mor=False) == v0
    assert latest_version(table) == v0
    assert len(snapshot_history(table)) == 1
    # no stray deletion vector or shard was published either
    import glob as _glob

    assert _glob.glob(os.path.join(table, "data", "dv-*.parquet")) == []
    snap = st._load_snapshot(table, v0)
    assert len(_glob.glob(os.path.join(table, "data", "part-*.parquet"))) == len(
        snap["shards"]
    )


def test_merge_upsert_delete_only_no_match_is_a_noop_mor(spark, docs, tmp_path):
    """MoR merge whose batch is fully consumed by delete_condition and
    whose keys match no visible row: the staged vector comes back empty
    and nothing survives to insert — no commit. The same batch with
    MATCHING keys legitimately commits a delete-only vector."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, stats_cols=["doc_id"])
    v0 = latest_version(table)
    ghost = spark.createDataFrame(
        [(9_000_001, "en", 1)], "doc_id long, lang string, n_chars long"
    )
    v = merge_upsert(
        ghost, table, key_cols=["doc_id"], mor=True,
        delete_condition="n_chars >= 0",
    )
    assert v == v0 and len(snapshot_history(table)) == 1
    # matching key: a real delete-only MoR commit
    victim = en.limit(1).withColumn("n_chars", F.lit(1).cast("long"))
    v2 = merge_upsert(
        victim, table, key_cols=["doc_id"], mor=True,
        delete_condition="n_chars >= 0",
    )
    assert v2 == v0 + 1
    assert read_snapshot(spark, table).count() == en.count() - 1


def test_deletion_vector_splits_into_bounded_parts(
    spark, docs, tmp_path, monkeypatch
):
    """A vector bigger than _DV_ROWS_PER_PART coordinates fans out
    across writer tasks into multiple published part files (tombstone
    ``positions`` becomes a list) instead of funnelling O(matched rows)
    through one coalesce(1) task — and every consumer composes over
    the parts: read subtracts all of them, CDC diffs through them,
    compaction materialises them, GC counts each part as referenced
    until expiry then sweeps all of them."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
        merge_upsert,
        read_cdc,
        vacuum,
    )

    monkeypatch.setattr(st, "_DV_ROWS_PER_PART", 25)
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, stats_cols=["doc_id"])
    matched = en.where(F.col("doc_id") % 2 == 0)
    n_matched = matched.count()
    assert n_matched > 60  # forces >2 parts at the patched bound
    upd = matched.withColumn("n_chars", F.col("n_chars") + 1000)
    v = merge_upsert(upd, table, key_cols=["doc_id"], mor=True)
    snap = st._load_snapshot(table, v)
    dvs = [d for d in snap["deletes"] if "positions" in d]
    assert len(dvs) == 1 and dvs[0]["n_rows"] == n_matched
    parts = st._dv_parts(dvs[0])
    assert len(parts) > 2 and isinstance(dvs[0]["positions"], list)
    for p in parts:
        assert os.path.exists(os.path.join(table, "data", p))
    expected = en.where(F.col("doc_id") % 2 != 0).unionByName(upd)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    # CDC through the multi-part vector: updates = delete+insert pairs
    cdc = read_cdc(spark, table, v - 1, v)
    assert cdc.where(F.col("_change_type") == "delete").count() == n_matched
    assert cdc.where(F.col("_change_type") == "insert").count() == n_matched
    # compaction materialises, then vacuum+expire sweeps every part
    compact_table(spark, table)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    expire_snapshots(table, keep_last=1)
    vacuum(table)
    import glob as _glob

    assert _glob.glob(os.path.join(table, "data", "dv-*.parquet")) == []
    assert _canon(read_snapshot(spark, table)) == _canon(expected)


def test_deletion_vectors_compose_with_schema_evolution(spark, docs, tmp_path):
    """DV × column mapping: a pending positional vector is name-free
    (file, pos) coordinates, so ADD/RENAME/DROP COLUMN commit straight
    over it — reads keep subtracting it under the evolved schema,
    another MoR merge stacks on top, and compaction materialises
    everything post-evolution. Condition tombstones (SQL text bound to
    names) still refuse rename/drop."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column,
        compact_table,
        delete_where,
        drop_column,
        merge_upsert,
        read_cdc,
        rename_column,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, stats_cols=["doc_id"])
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    v_merge = merge_upsert(upd, table, key_cols=["doc_id"], mor=True)
    expected = en.where(F.col("doc_id") % 10 != 0).unionByName(upd)

    # ADD over a pending vector: new column NULL everywhere, DV applies
    add_column(spark, table, "score", "double")
    got = read_snapshot(spark, table)
    assert got.where(F.col("score").isNotNull()).count() == 0
    assert _canon(got.drop("score")) == _canon(expected)
    # CDC across (merge .. add_column] passes the row-preserving add
    cdc = read_cdc(spark, table, v_merge - 1)
    assert cdc.where(F.col("_change_type") == "delete").count() == upd.count()

    # RENAME over a pending vector: values travel to the new name,
    # the vector still subtracts pre-images
    rename_column(spark, table, "n_chars", "chars")
    got = read_snapshot(spark, table)
    assert _canon(got.select("doc_id", "lang", "chars")) == _canon(
        expected.select("doc_id", "lang", "n_chars")
    )

    # a second MoR merge STACKS over the renamed schema
    upd2 = (
        read_snapshot(spark, table)
        .where(F.col("doc_id") % 15 == 0)
        .withColumn("chars", F.col("chars") + 5)
        .select("doc_id", "lang", "chars")
    )
    n2 = upd2.count()
    assert n2 > 0
    merge_upsert(upd2, table, key_cols=["doc_id"], mor=True)
    snap = snapshot_history(table)[-1]
    assert len([d for d in snap["deletes"] if "positions" in d]) == 2

    # DROP over pending vectors
    drop_column(spark, table, "score")
    expected2 = (
        expected.withColumnRenamed("n_chars", "chars")
        .select("doc_id", "lang", "chars")
        .join(upd2.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd2)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected2)

    # compaction materialises both vectors under the evolved schema
    compact_table(spark, table)
    snap = snapshot_history(table)[-1]
    assert not snap.get("deletes")
    assert _canon(read_snapshot(spark, table)) == _canon(expected2)

    # CONDITION tombstones still refuse rename/drop (names are bound)
    delete_where(spark, table, "doc_id % 7 = 0", lazy=True)
    with pytest.raises(ValueError, match="conditions"):
        rename_column(spark, table, "chars", "n_chars")
    with pytest.raises(ValueError, match="conditions"):
        drop_column(spark, table, "chars")
    add_column(spark, table, "extra", "int")  # add still composes


def test_merge_upsert_delete_keys(spark, docs, tmp_path):
    """delete_keys: WHEN MATCHED DELETE driven by a key-set DataFrame —
    removals with no payload columns (so CDC metadata never evolves
    into the target's schema), composing with upserts in ONE atomic
    commit, in both encodings; a key in both updates and delete_keys
    is ambiguous and raises."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
    )

    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    write_snapshot(en, table, stats_cols=["doc_id"])
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    dead = en.where(F.col("doc_id") % 10 == 3).select("doc_id")
    n_dead = dead.count()
    assert n_dead > 0
    v = merge_upsert(
        upd, table, key_cols=["doc_id"], delete_keys=dead, mor=True
    )
    expected = (
        en.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 3))
        .unionByName(upd)
    )
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    snap = st._load_snapshot(table, v)
    assert snap["properties"]["rows_deleted"] == upd.count() + n_dead
    # metadata columns never landed in the schema
    assert set(read_snapshot(spark, table).columns) == {
        "doc_id", "lang", "n_chars"
    }
    # CoW twin (compact first: CoW refuses over pending vectors)
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table,
    )

    compact_table(spark, table)
    dead2 = expected.where(F.col("doc_id") % 10 == 7).select("doc_id")
    merge_upsert(
        spark.createDataFrame([], en.schema), table,
        key_cols=["doc_id"], delete_keys=dead2, mor=False,
    )
    expected2 = expected.join(dead2, "doc_id", "left_anti")
    assert _canon(read_snapshot(spark, table)) == _canon(expected2)
    # ambiguity: same key updated AND deleted
    both = expected2.limit(1)
    with pytest.raises(ValueError, match="ambiguous"):
        merge_upsert(
            both, table, key_cols=["doc_id"],
            delete_keys=both.select("doc_id"), mor=True,
        )
    # empty everything: no-op
    v_now = latest_version(table)
    assert merge_upsert(
        spark.createDataFrame([], en.schema), table, key_cols=["doc_id"],
        delete_keys=spark.createDataFrame([], "doc_id long"), mor=True,
    ) == v_now


def test_streaming_cdc_apply_replicates_table(spark, docs, tmp_path):
    """The full table→table CDC loop: upstream takes MoR DML
    (update+insert merge, update_where, delete-only merge); downstream
    bootstraps from v1 and applies the snapshot_cdc feed through
    streaming_cdc_apply_sink in two drains with a commit landing in
    between — final downstream state must equal upstream exactly, and
    replaying a drained batch must commit nothing."""
    import tempfile

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_stream import (
        register_snapshot_cdc,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        merge_upsert,
        streaming_cdc_apply_sink,
        update_where,
    )

    d = docs.select("doc_id", "lang", "n_chars")
    en = d.where(F.col("lang") == "en")
    de = d.where(F.col("lang") == "de")
    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    write_snapshot(en, up, stats_cols=["doc_id"])                    # v1
    write_snapshot(en, down, stats_cols=["doc_id"])  # bootstrap = v1
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    merge_upsert(upd.unionByName(de), up, key_cols=["doc_id"],
                 mor=True)                                           # v2
    register_snapshot_cdc(spark)
    ckpt = tempfile.mkdtemp(prefix="svdml-cdcapply-ckpt-")
    sink = streaming_cdc_apply_sink(down, ["doc_id"], app_id="repl")

    def drain():
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("path", up)
            .option("start_version", 1)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert _canon(read_snapshot(spark, down)) == _canon(
        read_snapshot(spark, up)
    )
    # more upstream DML while the replica is down: an update plus a
    # delete-only merge (exercises the delete_keys path end-to-end)
    update_where(
        spark, up, {"n_chars": "n_chars + 7"}, "doc_id % 15 = 0",
        mor=True,
    )                                                                # v3
    victims = read_snapshot(spark, up).where(F.col("doc_id") % 12 == 3)
    assert victims.count() > 0
    merge_upsert(
        victims, up, key_cols=["doc_id"], mor=True,
        delete_condition="true",
    )                                                                # v4
    drain()
    assert _canon(read_snapshot(spark, down)) == _canon(
        read_snapshot(spark, up)
    )
    # replaying an applied batch through the sink commits nothing
    # (rebuild batch 0's content via batch read_cdc and re-feed it)
    v_now = latest_version(down)
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_cdc,
    )

    sink(read_cdc(spark, up, 1, 2), 0)
    assert latest_version(down) == v_now


def test_manifest_segments_roll_and_carry(spark, tmp_path, monkeypatch):
    """Manifest segmentation (Iceberg manifest-list shaped, storage
    level only): below the inline bound a snapshot stays classic
    self-contained form; crossing it rolls the shard list into
    immutable segment files that subsequent APPENDS carry by name —
    so a 1-file append writes O(changed files + segment names) of
    metadata, not O(live files). Loaded snapshots always materialise
    the full list, so every consumer (reads, time travel, history)
    sees the classic form."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 4)
    table = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 10).selectExpr(
        "id", "id % 3 as g"
    ).coalesce(1)
    for i in range(4):  # 4 single-shard appends: still classic form
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    raw4 = st._raw_snapshot(table, 4)
    assert "manifests" not in raw4 and len(raw4["shards"]) == 4
    assert raw4.get("reader_version", 1) < 3
    write_snapshot(mk(40), table, mode="append", stats_cols=["id"])  # 5th
    raw5 = st._raw_snapshot(table, 5)
    assert len(raw5["manifests"]) == 1 and raw5["shards"] == []
    assert raw5["reader_version"] == 3
    # loaded form is classic: full shard list, no manifests key
    snap5 = st._load_snapshot(table, 5)
    assert "manifests" not in snap5 and len(snap5["shards"]) == 5
    # appends now carry the segment BY NAME and grow only the tail
    for i in range(5, 8):
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    raw8 = st._raw_snapshot(table, 8)
    assert raw8["manifests"] == raw5["manifests"]  # reused, not rewritten
    assert len(raw8["shards"]) == 3  # inline tail = the 3 new files
    assert read_snapshot(spark, table).count() == 80
    assert read_snapshot(spark, table, version=5).count() == 50
    assert sorted(r[0] for r in read_snapshot(spark, table).collect()) == list(
        range(80)
    )
    # an old reader refuses LOUDLY instead of returning the inline tail
    monkeypatch.setattr(st, "_READER_VERSION", 2)
    with pytest.raises(ValueError, match="reader protocol"):
        st._load_snapshot(table, 5)


def test_manifest_removal_rerolls_only_touched_segments(
    spark, tmp_path, monkeypatch
):
    """A CoW delete rewrites ONLY the segments holding touched files:
    untouched segments carry by name through the removal commit, and
    the re-rolled entries land correctly. Schema evolution (restamp of
    every shard) conservatively breaks all carry-over but stays
    correct."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 4)
    table = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 10).selectExpr(
        "id", "id % 3 as g"
    ).coalesce(1)
    for i in range(10):
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    raw = st._raw_snapshot(table, 10)
    segs_before = raw["manifests"]
    assert len(segs_before) >= 2
    # delete rows living ONLY in the last appended file (stats-pruned
    # CoW: one file rewritten)
    st.delete_where(spark, table, "id >= 95")
    raw_del = st._raw_snapshot(table, 11)
    # every segment not holding the touched file carries by name
    touched = [
        name
        for name in segs_before
        if any(e["file"] not in {s["file"] for s in st._load_snapshot(
            table, 11)["shards"]} for e in st._load_manifest(table, name))
    ]
    carried = [n for n in segs_before if n not in touched]
    assert set(carried) <= set(raw_del.get("manifests", []))
    assert sorted(r[0] for r in read_snapshot(spark, table).collect()) == list(
        range(95)
    )
    # schema evolution restamps: correctness holds across the rewrite
    st.add_column(spark, table, "note", "string")
    st.rename_column(spark, table, "g", "grp")
    got = read_snapshot(spark, table)
    assert got.columns == ["id", "grp", "note"]
    assert got.where(F.col("note").isNull()).count() == 95
    assert got.groupBy("grp").count().count() == 3


def test_manifest_gc_orphans_and_expiry(spark, tmp_path, monkeypatch):
    """Segment GC mirrors data-file GC: a losing commit racer's segment
    is an unreferenced orphan that vacuum sweeps; expire_snapshots
    drops segments only expired history referenced; segments named by
    ANY live snapshot — including a branch fork — survive."""
    import glob as _glob

    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 10).selectExpr(
        "id", "id % 3 as g"
    ).coalesce(1)
    for i in range(5):
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    st.create_branch(table, "audit")  # fork carries base segments
    fork_raw = st._raw_snapshot(table, 1, branch="audit")
    assert fork_raw.get("manifests"), "fork should reference segments"
    assert fork_raw["manifests"] == st._raw_snapshot(table, 5).get(
        "manifests"
    ), "fork must carry the base's segments BY NAME (cheap branch)"
    # fake a lost race: hand-roll an orphan segment file
    orphan = st._manifest_path(table, "m-deadbeef.json")
    with open(orphan, "w") as f:
        json.dump([], f)
    st.vacuum(table)
    assert not os.path.exists(orphan)
    live_before = set(st._raw_snapshot(table, 5)["manifests"])
    assert all(
        os.path.exists(st._manifest_path(table, n)) for n in live_before
    )
    # more history, then expire: only segments no surviving snapshot
    # names are swept, and reads stay exact
    for i in range(5, 8):
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    expire_snapshots(table, keep_last=1)
    head = set(
        st._raw_snapshot(table, latest_version(table))["manifests"]
    ) | set(fork_raw["manifests"])
    on_disk = {
        os.path.basename(p)
        for p in _glob.glob(os.path.join(table, "_manifests", "m-*.json"))
    }
    assert head <= on_disk  # live (incl. branch-referenced) kept
    assert read_snapshot(spark, table).count() == 80
    assert read_snapshot(spark, table, branch="audit").count() == 50


def test_rewrite_manifests_compacts_metadata(spark, tmp_path, monkeypatch):
    """rewrite_manifests: metadata-only commit merging N segments into
    one — file set identical (CDC and read_changes emit nothing), data
    identical, time travel across it intact; a second call is a no-op
    returning the current version."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 10).selectExpr(
        "id", "id % 3 as g"
    ).coalesce(1)
    for i in range(7):
        write_snapshot(mk(i * 10), table, mode="append", stats_cols=["id"])
    v0 = latest_version(table)
    raw0 = st._raw_snapshot(table, v0)
    assert len(raw0["manifests"]) >= 2 and raw0["shards"]
    v = st.rewrite_manifests(table)
    assert v == v0 + 1
    raw = st._raw_snapshot(table, v)
    assert len(raw["manifests"]) == 1 and raw["shards"] == []
    assert raw["operation"] == "rewrite_manifests"
    assert _canon(read_snapshot(spark, table)) == _canon(
        read_snapshot(spark, table, version=v0)
    )
    assert st.read_cdc(spark, table, v0, v).count() == 0
    assert st.read_changes(spark, table, v0, v).count() == 0
    assert st.rewrite_manifests(table) == v  # already compact: no-op
    # the old segments become orphans only after expiry
    expire_snapshots(table, keep_last=1)
    import glob as _glob

    left = {
        os.path.basename(p)
        for p in _glob.glob(os.path.join(table, "_manifests", "m-*.json"))
    }
    assert left == set(raw["manifests"])
    assert read_snapshot(spark, table).count() == 70


def test_manifest_segments_compose_with_mor_and_publish(
    spark, docs, tmp_path, monkeypatch
):
    """Segments × the rest of the format: MoR merge (DV commit) carries
    every segment (no shard touched); WAP branch work + publish carries
    shared segments onto main; compaction re-rolls; the whole table
    stays bit-exact."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 3)
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    for i in range(5):
        part = en.where(F.col("doc_id") % 5 == i).coalesce(1)
        write_snapshot(part, table, mode="append", stats_cols=["doc_id"])
    v0 = latest_version(table)
    segs = st._raw_snapshot(table, v0)["manifests"]
    upd = en.where(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    v1 = st.merge_upsert(upd, table, key_cols=["doc_id"], mor=True)
    raw1 = st._raw_snapshot(table, v1)
    assert raw1["manifests"] == segs  # DV commit touches no shards
    expected = en.where(F.col("doc_id") % 7 != 0).unionByName(upd)
    assert _canon(read_snapshot(spark, table)) == _canon(expected)
    st.create_branch(table, "wap")
    extra = docs.where(F.col("lang") == "de").coalesce(1)
    st.write_snapshot(extra, table, mode="append", branch="wap")
    st.publish_branch(table, "wap")
    pub = st._raw_snapshot(table, latest_version(table))
    assert set(segs) <= set(pub.get("manifests", []))  # shared carry
    assert _canon(read_snapshot(spark, table)) == _canon(
        expected.unionByName(extra)
    )
    st.compact_table(spark, table)
    assert _canon(read_snapshot(spark, table)) == _canon(
        expected.unionByName(extra)
    )


def test_manifest_segment_pruned_scan(spark, tmp_path, monkeypatch):
    """Segment-level pruning (Iceberg manifest-list skip): each rolled
    segment records a partition-value/stats summary; a read whose
    partition_filter or prune bounds provably exclude a segment never
    OPENS it — driver metadata cost O(matching segments), not O(live
    files). Results stay bit-identical to the unpruned read filtered;
    summary-less segments and unknown columns are conservatively
    kept."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    for i in range(8):
        df = spark.range(i * 10, (i + 1) * 10).selectExpr(
            "id", f"{i} as b"
        ).coalesce(1)
        write_snapshot(
            df, table, mode="append", stats_cols=["id"],
            partition_by=["b"],
        )
    raw = st._raw_snapshot(table, 8)
    assert len(raw["manifests"]) >= 2
    # every rolled segment carries a summary with both tiers
    for name in raw["manifests"]:
        summ = raw["manifest_summaries"][name]
        assert "partition" in summ and "stats" in summ
    calls = []
    orig = st._load_manifest
    monkeypatch.setattr(
        st, "_load_manifest",
        lambda t, n: (calls.append(n), orig(t, n))[1],
    )
    full = _canon(read_snapshot(spark, table))
    loads_full = len(calls)
    calls.clear()
    got = read_snapshot(spark, table, partition_filter={"b": 1})
    assert _canon(got) == [r for r in full if r[1] == 1]
    assert len(calls) < loads_full  # segments without b=1 never opened
    calls.clear()
    got = read_snapshot(spark, table, prune=("id", 62, 65))
    assert got.where("id between 62 and 65").count() == 4
    assert len(calls) < loads_full  # stats summary skips early segments
    calls.clear()
    # summary carries THROUGH later commits (appends + a DV merge)
    write_snapshot(
        spark.range(80, 90).selectExpr("id", "8 as b").coalesce(1),
        table, mode="append", stats_cols=["id"], partition_by=["b"],
    )
    upd = spark.range(0, 3).selectExpr("id", "0 as b")
    st.merge_upsert(upd, table, key_cols=["id"], mor=True)
    raw2 = st._raw_snapshot(table, st.latest_version(table))
    assert set(raw2["manifest_summaries"]) == set(raw2["manifests"])
    calls.clear()
    got = read_snapshot(spark, table, partition_filter={"b": 8})
    assert _canon(got) == _canon(
        spark.range(80, 90).selectExpr("id", "CAST(8 AS INT) as b")
    ) or got.count() == 10
    assert len(calls) < len(raw2["manifests"])


def test_manifests_metadata_relation(spark, tmp_path, monkeypatch):
    """read_metadata_table(kind='manifests'): one row per referenced
    segment with entry/row counts and the rolled pruning summary, plus
    one NULL-named row for the inline tail — the rows always account
    for every live shard of the pinned version. Metadata-only."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_metadata_table,
    )

    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    for i in range(7):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).selectExpr(
                "id", f"{i} as b"
            ).coalesce(1),
            table, mode="append", stats_cols=["id"], partition_by=["b"],
        )
    m = read_metadata_table(spark, table, "manifests")
    rows = {r["manifest"]: r for r in m.collect()}
    raw = st._raw_snapshot(table, 7)
    assert set(rows) == set(raw["manifests"]) | {None}
    assert sum(r["n_files"] for r in rows.values()) == 7
    assert sum(r["n_rows"] for r in rows.values()) == 70
    named = [r for k, r in rows.items() if k is not None]
    for r in named:
        assert r["partition_summary"]["b"]  # rolled summary surfaced
        lo, hi = r["stats_summary"]["id"]
        assert int(lo) < int(hi)
    assert rows[None]["n_files"] == len(raw["shards"])
    # a version= pin lists the OLD layout, same as files/partitions
    m3 = read_metadata_table(spark, table, "manifests", version=3)
    assert m3.agg(F.sum("n_files")).first()[0] == 3


def test_manifest_segment_bloom_skip(spark, tmp_path, monkeypatch):
    """Segment-level Bloom skipping: rolling a segment ORs its entries'
    per-shard Bloom filters (a union bloom still has no false
    negatives), so a POINT lookup on an unclustered key skips whole
    segments that provably lack the value — the tier min/max summaries
    cannot provide. Results stay exact; probing a present value opens
    its segment."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    # ids deliberately interleaved mod 1000 so min/max CANNOT prune
    for i in range(8):
        df = spark.range(i, 8000, 8).selectExpr(
            "id", "id % 7 as g"
        ).coalesce(1)
        write_snapshot(df, table, mode="append", bloom_cols=["id"])
    raw = st._raw_snapshot(table, 8)
    segs = raw["manifests"]
    assert segs and all(
        "bloom" in raw["manifest_summaries"][n] for n in segs
    )
    calls = []
    orig = st._load_manifest
    monkeypatch.setattr(
        st, "_load_manifest",
        lambda t, n: (calls.append(n), orig(t, n))[1],
    )
    # id=1 lives only in the i=1 append: other segments bloom-skip
    got = read_snapshot(spark, table, bloom_point=("id", 1))
    assert got.where("id = 1").count() == 1
    opened_present = len(calls)
    assert opened_present < len(segs) + 1
    calls.clear()
    # an absent value: typically every segment bloom-skips (allow fp)
    read_snapshot(spark, table, bloom_point=("id", 999_999_937))
    assert len(calls) <= opened_present
    # NULL probe still refused loudly before any segment pruning
    with pytest.raises(ValueError, match="may not be None"):
        read_snapshot(spark, table, bloom_point=("id", None))


def test_vacuum_dry_run(spark, docs, tmp_path):
    """vacuum(dry_run=True): same orphan counts (data files AND
    manifest segments), zero deletions — the preflight for the
    in-flight-writer hazard; the staging sweep refuses to combine with
    a dry run (time-dependent preview would lie)."""
    import glob as _glob

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        vacuum,
    )

    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)
    # fabricate orphans: an unreferenced data file + segment file
    orphan_data = os.path.join(table, "data", "part-orphan.parquet")
    with open(orphan_data, "wb") as f:
        f.write(b"x")
    os.makedirs(os.path.join(table, "_manifests"), exist_ok=True)
    orphan_seg = st._manifest_path(table, "m-orphan.json")
    with open(orphan_seg, "w") as f:
        json.dump([], f)
    before = set(_glob.glob(os.path.join(table, "data", "*"))) | {
        orphan_seg
    }
    out = vacuum(table, dry_run=True)
    # 2 = the orphan data file + the orphan segment file: the preview
    # counts BOTH sweeps, exactly what a real run deletes
    assert out == {"orphans_removed": 2, "dry_run": True}
    after = set(_glob.glob(os.path.join(table, "data", "*"))) | (
        {orphan_seg} if os.path.exists(orphan_seg) else set()
    )
    assert after == before  # preview deleted NOTHING
    with pytest.raises(ValueError, match="dry_run"):
        vacuum(table, stage_older_than=0.0, dry_run=True)
    out = vacuum(table)
    assert out == {"orphans_removed": 2}
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_seg)
    assert read_snapshot(spark, table).count() == docs.where(
        F.col("lang") == "en"
    ).count()


def test_version_change_counts_raw_diff(spark, tmp_path, monkeypatch):
    """_version_change_counts (the stream sources' admission counter)
    computes adds/removes/DV-covered from RAW snapshots + only CHANGED
    segments: equal to the planning walk's add count on append
    histories (manifest-rolled or classic), conservative (never under)
    on layout rewrites, and it never opens a carried segment."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    for i in range(6):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _added_files,
        _version_change_counts,
    )

    for v in range(1, 7):
        adds = len(_added_files(table, v - 1, v)[0])
        got = _version_change_counts(table, v)
        assert got == (adds, 0, 0), f"v{v}: {got} != ({adds},0,0)"
    # carried segments are never opened by the counter
    opened = []
    orig = st._load_manifest
    monkeypatch.setattr(
        st, "_load_manifest",
        lambda t, n: (opened.append(n), orig(t, n))[1],
    )
    raw5 = st._raw_snapshot(table, 5)
    raw6 = st._raw_snapshot(table, 6)
    shared = set(raw5.get("manifests", [])) & set(raw6.get("manifests", []))
    _version_change_counts(table, 6)
    assert shared and not (set(opened) & shared)
    # MoR merge: covered files counted; compaction: conservative >= 0
    upd = spark.range(0, 3).selectExpr("id")
    st.merge_upsert(upd, table, key_cols=["id"], mor=True)
    a, r, c = _version_change_counts(table, 7)
    assert c >= 1 and a >= 1  # post-image shard + covered file(s)
    st.compact_table(spark, table, target_shards=1)
    a, r, c = _version_change_counts(table, 8)
    assert a >= 1 and r >= 1  # rewrite shape: conservative over-count


def test_rewrite_manifests_on_branch_and_tag_retention(
    spark, tmp_path, monkeypatch
):
    """Two manifest edges: (1) rewrite_manifests(branch=) compacts a
    BRANCH head's segment list without touching main; (2) a TAGGED
    version's segments survive expire_snapshots however old — the tag
    is the retention pin for metadata segments exactly as for data
    files."""
    import glob as _glob

    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 10).selectExpr("id").coalesce(1)
    for i in range(5):
        write_snapshot(mk(i * 10), table, mode="append")
    st.create_tag(table, "audited", version=5)
    pinned_segs = set(st._raw_snapshot(table, 5).get("manifests", []))
    assert pinned_segs
    st.create_branch(table, "work")
    for i in range(5, 8):
        write_snapshot(mk(i * 10), table, mode="append", branch="work")
    head_b = latest_version(table, "work")
    assert len(st._raw_snapshot(table, head_b, "work")["manifests"]) >= 2
    main_head_before = latest_version(table)
    v = st.rewrite_manifests(table, branch="work")
    assert v == head_b + 1
    assert latest_version(table) == main_head_before  # main untouched
    raw = st._raw_snapshot(table, v, "work")
    assert len(raw["manifests"]) == 1 and raw["shards"] == []
    assert read_snapshot(spark, table, branch="work").count() == 80
    # age out main history: the tagged version's segments must survive
    for i in range(8, 11):
        write_snapshot(mk(i * 10), table, mode="append")
    expire_snapshots(table, keep_last=1)
    assert os.path.exists(st._snap_path(table, 5))  # tag pins the file
    on_disk = {
        os.path.basename(p)
        for p in _glob.glob(os.path.join(table, "_manifests", "m-*.json"))
    }
    assert pinned_segs <= on_disk
    assert read_snapshot(spark, table, tag="audited").count() == 50


def test_gc_refuses_future_reader_version(spark, tmp_path):
    """GC enforces the same reader-protocol gate as the read path: a
    snapshot written by a FUTURE protocol may reference files through
    a key this version doesn't know, so computing liveness from only
    the keys we understand would delete that snapshot's data as
    orphans. vacuum and expire_snapshots must refuse loudly instead."""
    table = str(tmp_path / "t")
    write_snapshot(spark.range(10).coalesce(1), table)
    write_snapshot(spark.range(10, 20).coalesce(1), table, mode="append")
    p = st._snap_path(table, 2)
    with open(p) as f:
        raw = json.load(f)
    raw["reader_version"] = st._READER_VERSION + 1
    with open(p, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="reader protocol"):
        st.vacuum(table)
    with pytest.raises(ValueError, match="reader protocol"):
        expire_snapshots(table, keep_last=1)
    # every referenced file survived the refused sweeps
    names = {s["file"] for s in raw["shards"]}
    assert all(
        os.path.exists(os.path.join(table, "data", n)) for n in names
    )


def test_version_change_counts_rewrite_manifests_shortcut(
    spark, tmp_path, monkeypatch
):
    """A rewrite_manifests commit's file set is identical to its
    parent's BY CONSTRUCTION, so the admission counter must return
    (0, 0, 0) without opening ANY segment — otherwise a paced stream
    trigger crossing a manifest compaction pays O(live files) of
    segment JSON, the exact cost the counter exists to avoid."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    for i in range(6):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
    v = st.rewrite_manifests(table)
    assert st._raw_snapshot(table, v)["operation"] == "rewrite_manifests"
    opened = []
    orig = st._load_manifest
    monkeypatch.setattr(
        st, "_load_manifest",
        lambda t, n: (opened.append(n), orig(t, n))[1],
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _version_change_counts,
    )

    assert _version_change_counts(table, v) == (0, 0, 0)
    assert opened == []  # not a single segment opened


def test_manifest_auto_rewrite_bounds_segments(spark, tmp_path, monkeypatch):
    """Auto-maintenance: a commit whose parent already holds
    _MANIFEST_AUTO_REWRITE segments compacts them into ONE as part of
    itself (no extra commit, no daemon) — segment count stays bounded
    for any table age, the compacting commit is stamped
    auto_rewrote_manifests, reads stay exact throughout, and
    carry-over resumes from the merged segment."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    monkeypatch.setattr(st, "_MANIFEST_AUTO_REWRITE", 3)
    table = str(tmp_path / "t")
    stamped = []
    for i in range(12):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
        raw = st._raw_snapshot(table, i + 1)
        n_segs = len(raw.get("manifests", []))
        # bounded: never more than threshold segments + the one being
        # rolled this commit
        assert n_segs <= 4, f"v{i+1}: {n_segs} segments"
        if raw.get("properties", {}).get("auto_rewrote_manifests"):
            stamped.append(i + 1)
    assert stamped, "threshold never triggered in 12 commits"
    # the commit AFTER a compaction carries the merged segment by name
    v = stamped[-1]
    merged = st._raw_snapshot(table, v)["manifests"]
    if v < 12:
        nxt = st._raw_snapshot(table, v + 1)["manifests"]
        assert set(merged) <= set(nxt)
    # reads exact at head and at a pre-compaction version
    assert read_snapshot(spark, table).count() == 120
    assert read_snapshot(spark, table, version=stamped[0] - 1).count() == (
        (stamped[0] - 1) * 10
    )
    # versions never flagged: normal carry-over (no stamp)
    assert all(
        not st._raw_snapshot(table, u).get("properties", {}).get(
            "auto_rewrote_manifests"
        )
        for u in range(1, 13) if u not in stamped
    )


def test_expire_refuses_future_protocol_before_removing(
    spark, tmp_path
):
    """The GC protocol gate must fire BEFORE expire_snapshots removes
    anything: a refusal that arrives after the os.remove loop would
    have already irreversibly dropped history while reading as a
    clean failure."""
    table = str(tmp_path / "t")
    for i in range(4):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
    p = st._snap_path(table, 4)
    with open(p) as f:
        raw = json.load(f)
    raw["reader_version"] = st._READER_VERSION + 1
    with open(p, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="reader protocol"):
        expire_snapshots(table, keep_last=1)
    # EVERY snapshot file survived the refused expiry — expiry was a
    # true no-op, not a half-completed removal
    assert all(
        os.path.exists(st._snap_path(table, v)) for v in range(1, 5)
    )


def test_change_counts_auto_compaction_crossing_is_cheap(
    spark, tmp_path, monkeypatch
):
    """A paced stream trigger crossing an AUTO-COMPACTING append must
    not pay O(live files) of segment JSON: the counter short-circuits
    via the recorded n_shards delta (a pure append removes nothing and
    covers nothing) and opens ZERO segments."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    monkeypatch.setattr(st, "_MANIFEST_AUTO_REWRITE", 3)
    table = str(tmp_path / "t")
    stamped = None
    for i in range(12):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
        raw = st._raw_snapshot(table, i + 1)
        if raw.get("properties", {}).get("auto_rewrote_manifests"):
            stamped = i + 1
    assert stamped is not None
    opened = []
    orig = st._load_manifest
    monkeypatch.setattr(
        st, "_load_manifest",
        lambda t, n: (opened.append(n), orig(t, n))[1],
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _version_change_counts,
    )

    assert _version_change_counts(table, stamped) == (1, 0, 0)
    assert opened == []  # not a single segment parsed


def test_analyze_table_restamps_without_rewrite(spark, tmp_path):
    """analyze_table: stats + blooms land on existing shards as ONE
    metadata-only commit — data files untouched, pruning turns on,
    idempotent no-op when fully stamped, mapped shards skipped (wrong
    stats would prune incorrectly; missing stats never do)."""
    import glob as _glob

    table = str(tmp_path / "t")
    # stats-less ingest (the streaming-sink shape)
    write_snapshot(
        spark.range(0, 1000).selectExpr("id", "id % 7 as g")
        .repartitionByRange(8, "id").sortWithinPartitions("id"),
        table,
    )
    before_files = sorted(_glob.glob(os.path.join(table, "data", "*")))
    assert all(
        not s.get("stats") for s in st._load_snapshot(table, 1)["shards"]
    )
    v = st.analyze_table(
        spark, table, stats_cols=["id"], bloom_cols=["id"]
    )
    assert v == 2
    snap = st._load_snapshot(table, 2)
    assert snap["operation"] == "metadata"
    assert snap["properties"]["analyzed"] == 8
    assert all("id" in s["stats"] and "id" in s["bloom"]
               for s in snap["shards"])
    # zero data movement
    assert sorted(
        _glob.glob(os.path.join(table, "data", "*"))
    ) == before_files
    # pruning now works: a narrow range plans ONE shard (125 rows =
    # 1000/8; prune is file-level, the row filter is the caller's)
    pruned = st.read_snapshot(
        spark, table, prune=("id", 0, 50)
    )
    assert pruned.count() == 125
    assert pruned.where("id between 0 and 50").count() == 51
    # and the scan planned a strict subset of shards (stats did it)
    touched = {
        s["file"]
        for s in snap["shards"]
        if st._stats_overlap(s, "id", 0, 50)
    }
    assert 0 < len(touched) < 8
    # idempotent: nothing left to stamp -> no new commit
    assert st.analyze_table(spark, table, stats_cols=["id"]) == 2
    # incremental: a later unstamped append analyzes ONLY its shards
    write_snapshot(
        spark.range(1000, 1100).coalesce(1), table, mode="append"
    )
    v = st.analyze_table(spark, table, stats_cols=["id"])
    assert st._load_snapshot(table, v)["properties"]["analyzed"] == 1
    # mapped shards are skipped, not mis-stamped: with ONLY mapped
    # shards lacking grp stats, analyze is a no-op (skipping must be
    # loud-by-absence, never wrong stats); with a fresh unmapped shard
    # in the mix, it stamps that one and records the skips
    st.rename_column(spark, table, "g", "grp")
    head = latest_version(table)
    assert st.analyze_table(spark, table, stats_cols=["grp"]) == head
    write_snapshot(
        spark.range(2000, 2100).selectExpr(
            "id", "id % 7 as grp"
        ).coalesce(1),
        table, mode="append",
    )
    v2 = st.analyze_table(spark, table, stats_cols=["grp"])
    p = st._load_snapshot(table, v2)["properties"]
    assert p["analyzed"] == 1
    assert p.get("analyze_skipped_mapped", 0) > 0
    # streams treat the analyze commit as row-preserving
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _added_files,
    )

    adds, _ = _added_files(table, 2, 3)  # range holding only analyze? v3 is append
    assert len(adds) == 1


def test_analyze_composes_with_manifest_segments(
    spark, tmp_path, monkeypatch
):
    """analyze_table on a manifest-segmented table: restamped shard
    entries break the carry-over identity of every segment holding
    them, so the analyze commit re-rolls those segments — reads must
    stay exact across the re-roll, stats must land inside the SEGMENT
    files, and the next append resumes carrying the new segments."""
    monkeypatch.setattr(st, "_MANIFEST_INLINE_MAX", 2)
    table = str(tmp_path / "t")
    for i in range(6):
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
    assert st._raw_snapshot(table, 6).get("manifests")
    v = st.analyze_table(spark, table, stats_cols=["id"])
    snap = st._load_snapshot(table, v)
    assert all("id" in s.get("stats", {}) for s in snap["shards"])
    assert read_snapshot(spark, table).count() == 60
    # stats live in the re-rolled segments (resolution proved it);
    # the next append carries the analyzed segments by name
    segs = st._raw_snapshot(table, v).get("manifests", [])
    assert segs
    write_snapshot(
        spark.range(60, 70).coalesce(1), table, mode="append"
    )
    carried = st._raw_snapshot(table, v + 1).get("manifests", [])
    assert set(segs) <= set(carried)
    # pruning through the segment path: the analyzed first shard plus
    # the un-analyzed new append (no stats -> conservatively kept)
    pruned = st.read_snapshot(spark, table, prune=("id", 0, 5))
    assert pruned.count() == 20
    st.analyze_table(spark, table, stats_cols=["id"])
    pruned = st.read_snapshot(spark, table, prune=("id", 0, 5))
    assert pruned.count() == 10  # now exactly the first shard


def test_timestamp_stats_prune(spark, tmp_path):
    """Timestamp stats_cols: bounds are recorded as epoch-MICROS ints
    (JSON-portable, exact), and a prune probe in any caller form —
    naive/aware datetime, ISO string, epoch-seconds number — skips
    shards whose event-time range provably excludes it. This is the
    intra-day range scan on a streaming events table pruning at FILE
    granularity, finer than days(ts) partitioning."""
    import datetime as d

    table = str(tmp_path / "t")
    # 4 range-clustered shards over 4 hours of event time (UTC session)
    base = 1_700_000_000  # 2023-11-14T22:13:20Z
    df = spark.range(0, 4 * 3600, 10).select(
        F.timestamp_micros(
            (F.lit(base) + F.col("id")) * 1_000_000
        ).alias("ts"),
        (F.col("id") % 97).alias("v"),
    )
    write_snapshot(
        df.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        table, stats_cols=["ts"],
    )
    snap = st._load_snapshot(table, 1)
    for s in snap["shards"]:
        lo, hi = s["stats"]["ts"]
        assert isinstance(lo, int) and isinstance(hi, int)
        assert base * 1_000_000 <= lo <= hi < (base + 4 * 3600) * 1_000_000

    lo_dt = d.datetime.fromtimestamp(base + 3600, d.timezone.utc)
    hi_dt = d.datetime.fromtimestamp(base + 5400, d.timezone.utc)

    def surviving(lo, hi):
        p = st._normalize_prune(snap["schema"], ("ts", lo, hi))
        return [s for s in snap["shards"]
                if st._stats_overlap(s, p[0], p[1], p[2])]

    # a half-hour probe hits 1 shard of 4 (range-clustered layout)
    assert len(surviving(lo_dt, hi_dt)) < 4
    # every probe form agrees: aware dt == naive dt (UTC session) ==
    # ISO string == epoch seconds
    forms = [
        (lo_dt, hi_dt),
        (lo_dt.replace(tzinfo=None), hi_dt.replace(tzinfo=None)),
        (lo_dt.isoformat(), hi_dt.isoformat()),
        (base + 3600, base + 5400),
        (float(base + 3600), float(base + 5400)),
    ]
    counts = {len(surviving(lo, hi)) for lo, hi in forms}
    assert len(counts) == 1
    # pruned read == unpruned read + row filter (reducer, not filter)
    got = _canon(
        read_snapshot(spark, table, prune=("ts", lo_dt, hi_dt))
        .where((F.col("ts") >= lo_dt) & (F.col("ts") <= hi_dt))
    )
    want = _canon(
        df.where((F.col("ts") >= lo_dt) & (F.col("ts") <= hi_dt))
    )
    assert got == want and len(got) == 181


def test_date_stats_prune_and_analyze(spark, tmp_path):
    """Date stats_cols record epoch-DAYS ints; analyze_table stamps
    temporal stats onto unstamped (streaming-ingested) shards in the
    same form, and date/ISO probes prune from metadata alone."""
    import datetime as d

    table = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("day"),
        F.col("id").alias("v"),
    )
    # committed WITHOUT stats (the streaming-ingest shape)
    write_snapshot(
        df.repartitionByRange(4, "day").sortWithinPartitions("day"), table
    )
    assert all(
        not s.get("stats") for s in st._load_snapshot(table, 1)["shards"]
    )
    v = st.analyze_table(spark, table, stats_cols=["day"])
    snap = st._load_snapshot(table, v)
    epoch = d.date(1970, 1, 1)
    want_lo = (d.date(2024, 1, 1) - epoch).days
    for s in snap["shards"]:
        lo, hi = s["stats"]["day"]
        assert isinstance(lo, int) and want_lo <= lo <= hi < want_lo + 400
    p = st._normalize_prune(
        snap["schema"], ("day", "2024-02-01", d.date(2024, 2, 10))
    )
    live = [
        s for s in snap["shards"] if st._stats_overlap(s, p[0], p[1], p[2])
    ]
    assert 0 < len(live) < len(snap["shards"])
    got = _canon(
        read_snapshot(
            spark, table, prune=("day", "2024-02-01", d.date(2024, 2, 10))
        ).where(F.col("day").between("2024-02-01", "2024-02-10"))
    )
    assert len(got) == 10
    # a second analyze over already-stamped temporal stats is a no-op
    assert st.analyze_table(spark, table, stats_cols=["day"]) == v


def test_temporal_dml_pruning(spark, tmp_path):
    """DML triage understands temporal probes: delete_where(prune=) and
    merge_upsert(prune_col=) on a timestamp column carry disjoint
    shards verbatim (zero read, zero write — same file names) instead
    of degrading to a full rewrite on the incomparable-types keep."""
    import datetime as d

    table = str(tmp_path / "t")
    base = 1_700_000_000
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.timestamp_micros(
            (F.lit(base) + F.col("id") * 10) * 1_000_000
        ).alias("ts"),
        (F.col("id") % 13).alias("v"),
    )
    write_snapshot(
        df.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        table, stats_cols=["ts"],
    )
    files_v1 = {s["file"] for s in st._load_snapshot(table, 1)["shards"]}
    # delete one narrow time slice; prune bounds in datetime form
    lo = d.datetime.fromtimestamp(base, d.timezone.utc)
    hi = d.datetime.fromtimestamp(base + 1000, d.timezone.utc)
    st.delete_where(
        spark, table,
        f"ts <= timestamp_micros({(base + 1000) * 1_000_000}::bigint)",
        prune=("ts", lo, hi),
    )
    snap2 = st._load_snapshot(table, 2)
    carried = files_v1 & {s["file"] for s in snap2["shards"]}
    assert len(carried) >= 2  # disjoint shards carried verbatim
    assert read_snapshot(spark, table).count() == 4000 - 101
    # merge keyed on ts with prune_col=ts: only overlapping shards
    # rewrite; disjoint ones carry
    upd = spark.range(3900, 4000).select(
        F.timestamp_micros(
            (F.lit(base) + F.col("id") * 10) * 1_000_000
        ).alias("ts"),
        F.col("id"),
        F.lit(999).cast("bigint").alias("v"),
    )
    st.merge_upsert(upd, table, key_cols=["ts"], prune_col="ts")
    snap3 = st._load_snapshot(table, 3)
    files_v2 = {s["file"] for s in snap2["shards"]}
    assert len(files_v2 & {s["file"] for s in snap3["shards"]}) >= 2
    out = read_snapshot(spark, table)
    assert out.where(F.col("v") == 999).count() == 100
    assert out.count() == 4000 - 101


def test_official_reader_timestamp_pushdown(spark, tmp_path):
    """The DSv2 reader converts pushed datetime literals to the
    recorded epoch-int form: a .where() range on a timestamp column
    prunes planned shards (plan_log proof) and returns exactly the
    row-filtered result."""
    import datetime as d

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )

    register_snapshot_table_source(spark)
    table = str(tmp_path / "t")
    base = 1_700_000_000
    df = spark.range(0, 4 * 3600, 10).select(
        F.timestamp_micros(
            (F.lit(base) + F.col("id")) * 1_000_000
        ).alias("ts"),
        (F.col("id") % 97).alias("v"),
    )
    write_snapshot(
        df.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        table, stats_cols=["ts"],
    )
    lo = d.datetime.fromtimestamp(base + 3600, d.timezone.utc)
    hi = d.datetime.fromtimestamp(base + 5400, d.timezone.utc)
    log = str(tmp_path / "plan.json")
    out = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where((F.col("ts") >= lo) & (F.col("ts") <= hi))
    )
    want = _canon(df.where((F.col("ts") >= lo) & (F.col("ts") <= hi)))
    assert _canon(out) == want and len(want) == 181
    plan = json.load(open(log))
    assert 0 < plan["planned"] < plan["total"]


def test_analyze_bloom_evolution_and_noop_contract(spark, tmp_path):
    """analyze_table's bloom pass pins the TABLE schema: a bloom
    column the target files physically predate (add_column evolution)
    NULL-fills instead of raising, and stamps the empty-filter
    sentinel (provably excludes every probe — the correct filter for a
    file holding no non-null values). All-NULL columns stamp the same
    sentinel. Consequence under test: targets empty out, so the second
    analyze is a TRUE no-op (commits nothing) instead of an identical
    metadata commit per call."""
    table = str(tmp_path / "t")
    write_snapshot(
        spark.range(0, 40).selectExpr(
            "id", "CAST(NULL AS STRING) AS tag"
        ).coalesce(2),
        table,
    )
    v2 = st.add_column(spark, table, "label", "string")
    # bloom col 'label' is physically absent from every file; 'tag' is
    # physically present but all-NULL — both previously unstampable
    v3 = st.analyze_table(
        spark, table, stats_cols=["id", "label"],
        bloom_cols=["label", "tag"],
    )
    assert v3 == v2 + 1
    snap = st._load_snapshot(table, v3)
    for s in snap["shards"]:
        assert s["bloom"]["label"]["bits"] == []  # empty sentinel
        assert s["bloom"]["tag"]["bits"] == []
        assert s["stats"]["label"] == [None, None]  # unprunable, never wrong
        assert s["stats"]["id"][0] is not None
        # the sentinel provably excludes any probe — correct: no
        # non-null value exists in the file
        assert not st._bloom_may_contain(s, "label", "x")
    # the no-op contract: nothing left to stamp, no commit
    assert st.analyze_table(
        spark, table, stats_cols=["id", "label"],
        bloom_cols=["label", "tag"],
    ) == v3
    # rows keep flowing: reads are unaffected by metadata stamps
    assert read_snapshot(spark, table).count() == 40


def test_vacuum_orphan_grace_window_in_flight_writer(spark, tmp_path):
    """vacuum(orphan_older_than=...): the mtime grace window makes the
    data/manifest orphan sweep safe NEXT TO AN IN-FLIGHT WRITER — a
    file published (step 2) but not yet claimed (step 3) survives a
    concurrent vacuum and the write then commits intact; a bare
    vacuum would have swept it (dry-run proof). Aged true orphans
    still go."""
    import shutil
    import time as _time
    import uuid as _uuid

    table = str(tmp_path / "t")
    write_snapshot(spark.range(0, 20).coalesce(1), table)

    # LIVE interleave: vacuum fires between publish and claim of a
    # real write_snapshot (wrapping the claim step), with the grace
    # window — the commit must land and read back intact
    real_claim = st._claim_snapshot
    calls = {}

    def claim_with_vacuum(*a, **k):
        calls["swept"] = st.vacuum(table, orphan_older_than=3600)
        return real_claim(*a, **k)

    st._claim_snapshot = claim_with_vacuum
    try:
        v2 = write_snapshot(
            spark.range(20, 40).coalesce(1), table, mode="append"
        )
    finally:
        st._claim_snapshot = real_claim
    assert v2 == 2 and calls["swept"]["orphans_removed"] == 0
    assert read_snapshot(spark, table).count() == 40
    for s in st._load_snapshot(table, 2)["shards"]:
        assert os.path.exists(os.path.join(table, "data", s["file"]))

    # the same in-flight shape under a BARE vacuum would have swept it
    # (dry-run proof on a manually published, unclaimed file + manifest)
    src = os.path.join(
        table, "data", st._load_snapshot(table, 2)["shards"][0]["file"]
    )
    pub = os.path.join(table, "data", f"part-{_uuid.uuid4().hex}.parquet")
    shutil.copyfile(src, pub)
    man = os.path.join(table, "_manifests", f"m-{_uuid.uuid4().hex}.json")
    os.makedirs(os.path.dirname(man), exist_ok=True)
    with open(man, "w") as f:
        f.write("[]")
    assert st.vacuum(table, dry_run=True)["orphans_removed"] == 2
    # graced: both survive
    assert st.vacuum(table, orphan_older_than=3600)["orphans_removed"] == 0
    assert os.path.exists(pub) and os.path.exists(man)
    # aged past the window: swept (true orphans still get collected)
    old = _time.time() - 7200
    os.utime(pub, (old, old)), os.utime(man, (old, old))
    assert st.vacuum(table, orphan_older_than=3600)["orphans_removed"] == 2
    assert not os.path.exists(pub) and not os.path.exists(man)


def test_expire_snapshots_orphan_grace_window(spark, tmp_path):
    """expire_snapshots(orphan_older_than=...): the trailing orphan
    sweep spares a concurrent writer's published-but-unclaimed file,
    while the shards orphaned by the expiry itself (old mtimes) are
    still reclaimed."""
    import shutil
    import time as _time
    import uuid as _uuid

    table = str(tmp_path / "t")
    write_snapshot(spark.range(0, 10).coalesce(1), table)
    write_snapshot(spark.range(10, 20).coalesce(1), table,
                   mode="overwrite")
    # v1's shard is now only referenced by v1; expiring v1 orphans it.
    # Backdate every committed file so the grace window only spares
    # the simulated in-flight publish below.
    old = _time.time() - 7200
    for p in os.listdir(os.path.join(table, "data")):
        fp = os.path.join(table, "data", p)
        os.utime(fp, (old, old))
    src = os.path.join(
        table, "data", st._load_snapshot(table, 2)["shards"][0]["file"]
    )
    pub = os.path.join(table, "data", f"part-{_uuid.uuid4().hex}.parquet")
    shutil.copyfile(src, pub)  # fresh mtime = in-flight publish
    out = expire_snapshots(table, keep_last=1, orphan_older_than=3600)
    assert out["snapshots_removed"] == 1
    assert out["shards_removed"] == 1  # v1's aged orphan went
    assert os.path.exists(pub)  # the in-flight file survived
    assert read_snapshot(spark, table).count() == 10


def test_days_partition_composes_with_ts_stats(spark, tmp_path):
    """The two event-time pruning tiers compose: days(ts) hidden
    partitioning prunes to the probed DAY from recorded partition
    values (exact), and intra-day ts min/max stats prune WITHIN the
    day at file granularity — a quarter-day range scan on a 4-day,
    16-shard table plans a strict subset of the day's shards from
    metadata alone, and the datetime partition_filter probe maps
    through the days() transform like every other probe form."""
    import datetime as d

    table = str(tmp_path / "t")
    base = 1_700_006_400  # 2023-11-15T00:00:00Z, day-aligned
    df = spark.range(0, 4 * 86400, 60).select(
        F.timestamp_micros(
            (F.lit(base) + F.col("id")) * 1_000_000
        ).alias("ts"),
        (F.col("id") % 7).alias("v"),
    )
    # 4 days x 4 clustered files per day: partition on days(ts), then
    # compact each day clustered by ts so intra-day stats are selective
    write_snapshot(df, table, partition_by=["days(ts)"],
                   stats_cols=["ts"])
    st.compact_partitions(
        spark, table, {"days(ts)": d.date(2023, 11, 16)}, target_shards=4,
        cluster_by=["ts"], stats_cols=["ts"],
    )
    snap = st._load_snapshot(table, latest_version(table))
    day2 = [
        s for s in snap["shards"]
        if s.get("partition", {}).get("days(ts)") == "2023-11-16"
    ]
    assert len(day2) == 4
    # partition tier: a datetime probe inside day 2 keeps only day 2
    probe_dt = d.datetime(2023, 11, 16, 6, 0, 0, tzinfo=d.timezone.utc)
    tvals = st._transform_probes(["days(ts)"], "days(ts)", probe_dt)
    part_live = [
        s for s in snap["shards"] if st._partition_match(s, "days(ts)", tvals)
    ]
    assert sorted(s["file"] for s in part_live) == sorted(
        s["file"] for s in day2
    )
    # stats tier: a quarter-day range within day 2 drops shards of day 2
    lo = d.datetime(2023, 11, 16, 6, 0, 0, tzinfo=d.timezone.utc)
    hi = d.datetime(2023, 11, 16, 11, 59, 0, tzinfo=d.timezone.utc)
    p = st._normalize_prune(snap["schema"], ("ts", lo, hi))
    both = [
        s for s in part_live if st._stats_overlap(s, p[0], p[1], p[2])
    ]
    assert 0 < len(both) < len(day2)
    # end to end: both tiers through read_snapshot == plain row filter
    got = _canon(
        read_snapshot(
            spark, table, prune=("ts", lo, hi),
            partition_filter={"days(ts)": probe_dt},
        ).where((F.col("ts") >= lo) & (F.col("ts") <= hi))
    )
    want = _canon(df.where((F.col("ts") >= lo) & (F.col("ts") <= hi)))
    assert got == want and len(got) == 360


def test_timestamp_ntz_stats_session_tz_independent(spark, tmp_path):
    """timestamp_ntz stats record the WALL-CLOCK epoch micros (the
    canonical zoneless encoding) regardless of
    spark.sql.session.timeZone — NTZ columns order by wall clock, so
    the recorded bound must not absorb the writer session's zone.
    Naive datetime / ISO probes are the wall clock; tz-aware probes
    convert to their UTC wall clock."""
    import datetime as d

    table = str(tmp_path / "t")
    df = spark.sql(
        "SELECT timestampadd(MINUTE, CAST(id AS INT), "
        "TIMESTAMP_NTZ '2024-03-01 00:00:00') AS t, id AS v "
        "FROM range(4 * 1440)"  # 4 days of minutes
    )
    assert df.schema["t"].dataType.simpleString() == "timestamp_ntz"
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        write_snapshot(
            df.repartitionByRange(4, "t").sortWithinPartitions("t"),
            table, stats_cols=["t"],
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    snap = st._load_snapshot(table, 1)
    wall0 = int(
        (d.datetime(2024, 3, 1) - d.datetime(1970, 1, 1)).total_seconds()
    ) * 1_000_000
    los = sorted(s["stats"]["t"][0] for s in snap["shards"])
    assert los[0] == wall0  # wall clock, not Tokyo-shifted
    # naive probe == ISO probe == wall clock; aware probe folds to UTC
    lo = d.datetime(2024, 3, 2, 6, 0, 0)
    hi = d.datetime(2024, 3, 2, 12, 0, 0)
    p = st._normalize_prune(snap["schema"], ("t", lo, hi))
    assert p[1] == wall0 + (30 * 3600) * 1_000_000
    p_iso = st._normalize_prune(
        snap["schema"], ("t", lo.isoformat(), hi.isoformat())
    )
    assert (p_iso[1], p_iso[2]) == (p[1], p[2])
    aware = lo.replace(tzinfo=d.timezone(d.timedelta(hours=2)))
    assert st._epoch_probe("timestamp_ntz", aware) == p[1] - 2 * 3600 * 1_000_000
    live = [
        s for s in snap["shards"] if st._stats_overlap(s, p[0], p[1], p[2])
    ]
    assert 0 < len(live) < len(snap["shards"])
    got = _canon(
        read_snapshot(spark, table, prune=("t", lo, hi))
        .where((F.col("t") >= lo) & (F.col("t") <= hi))
    )
    assert len(got) == 361


def test_partition_transforms_years_months_hours(spark, tmp_path):
    """The Iceberg transform set completes: years/months/hours (next to
    days) partition hidden — recorded values come from wall-field
    component extraction, probes in datetime/ISO-string form map
    through the transform, pruning is exact, and the types gate
    rejects hours() on a date column."""
    import datetime as d

    import pytest

    base = 1_700_006_400  # 2023-11-15T00:00:00Z
    ts = F.timestamp_micros((F.lit(base) + F.col("id")) * 1_000_000)

    # hours() over 4 hours of seconds -> 4 partitions
    t1 = str(tmp_path / "hours")
    df = spark.range(0, 4 * 3600, 30).select(ts.alias("ts"), "id")
    write_snapshot(df, t1, partition_by=["hours(ts)"])
    snap = st._load_snapshot(t1, 1)
    vals = {s["partition"]["hours(ts)"] for s in snap["shards"]}
    assert vals == {f"2023-11-15 {h:02d}" for h in range(4)}
    probe = d.datetime(2023, 11, 15, 2, 30, 0, tzinfo=d.timezone.utc)
    tv = st._transform_probes(["hours(ts)"], "hours(ts)", probe)
    assert tv == {"2023-11-15 02"}
    live = [s for s in snap["shards"]
            if st._partition_match(s, "hours(ts)", tv)]
    assert {s["partition"]["hours(ts)"] for s in live} == {"2023-11-15 02"}
    got = read_snapshot(
        spark, t1, partition_filter={"hours(ts)": probe.isoformat()}
    )
    assert got.count() == 120  # one hour's rows

    # months()/years() over a date column spanning 2 years
    t2 = str(tmp_path / "months")
    df2 = spark.range(0, 720).select(
        F.date_add(F.lit("2023-02-15").cast("date"),
                   F.col("id").cast("int")).alias("day"),
        "id",
    )
    write_snapshot(df2, t2, partition_by=["months(day)"])
    snap2 = st._load_snapshot(t2, 1)
    mvals = {s["partition"]["months(day)"] for s in snap2["shards"]}
    assert "2023-02" in mvals and "2024-12" in mvals and len(mvals) == 25
    assert st._transform_probes(
        ["months(day)"], "months(day)", d.date(2024, 3, 9)
    ) == {"2024-03"}
    assert st._transform_probes(
        ["months(day)"], "months(day)", "2024-03-09"
    ) == {"2024-03"}
    assert read_snapshot(
        spark, t2, partition_filter={"months(day)": d.date(2024, 3, 1)}
    ).count() == 31

    t3 = str(tmp_path / "years")
    write_snapshot(df2, t3, partition_by=["years(day)"])
    snap3 = st._load_snapshot(t3, 1)
    assert {s["partition"]["years(day)"] for s in snap3["shards"]} == {
        "2023", "2024", "2025"
    }
    assert st._transform_probes(
        ["years(day)"], "years(day)", "2024-06-01"
    ) == {"2024"}

    # types gate: hours() needs a time component
    with pytest.raises(ValueError, match="hours"):
        write_snapshot(df2, str(tmp_path / "bad"),
                       partition_by=["hours(day)"])


def test_batch_incremental_reads_by_timestamp(spark, tmp_path):
    """read_changes/read_cdc accept Delta-CDF-style start_timestamp /
    end_timestamp: start delivers every commit stamped at or after it
    (the streaming start_timestamp contract — SAME resolver, so batch
    and stream can never disagree on a boundary), end is as-of
    inclusive; version twins must agree row-for-row; the exclusivity
    and branch gates refuse loudly."""
    import pytest

    table = str(tmp_path / "t")
    for i in range(3):  # v1..v3
        write_snapshot(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), table,
            mode="append",
        )
    at = {v: st._raw_snapshot(table, v)["committed_at"] for v in (1, 2, 3)}
    # start: everything stamped >= at[2] == versions 2..3
    got = st.read_changes(spark, table, start_timestamp=at[2])
    want = st.read_changes(spark, table, 1)
    assert _canon(got) == _canon(want) and got.count() == 20
    # end as-of: through v2 only
    got2 = st.read_changes(
        spark, table, 0, end_timestamp=(at[2] + at[3]) / 2
    )
    assert _canon(got2) == _canon(st.read_changes(spark, table, 0, 2))
    # CDC twin, both bounds by timestamp
    cdc = st.read_cdc(
        spark, table, start_timestamp=at[2],
        end_timestamp=(at[2] + at[3]) / 2,
    )
    assert _canon(cdc) == _canon(st.read_cdc(spark, table, 1, 2))
    # gates
    with pytest.raises(ValueError, match="exactly one of"):
        st.read_changes(spark, table)
    with pytest.raises(ValueError, match="exactly one of"):
        st.read_changes(spark, table, 1, start_timestamp=at[2])
    with pytest.raises(ValueError, match="mutually exclusive"):
        st.read_changes(spark, table, 0, end_version=2,
                        end_timestamp=at[2])
    st.create_branch(table, "b")
    with pytest.raises(ValueError, match="main-chain only"):
        st.read_changes(spark, table, start_timestamp=at[2], branch="b")
    # end form gets the SAME main-chain-only refusal: version_as_of
    # resolves against main, and applying that version to the branch's
    # independent sequence would silently return a wrong range
    with pytest.raises(ValueError, match="main-chain only"):
        st.read_changes(spark, table, 1, end_timestamp=at[2], branch="b")
    with pytest.raises(ValueError, match="main-chain only"):
        st.read_cdc(spark, table, 1, end_timestamp=at[2], branch="b")


def test_session_tz_fixed_offsets_and_probe_guards(spark, tmp_path):
    """ADVICE r12 closures, all four:

    1. _session_tz resolves Spark's fixed-offset zone forms
       ('+08:00', 'GMT+8', 'UTC+08:00', '-0530') as real offsets;
    2. an UNRESOLVABLE session zone leaves naive timestamp probes
       unconverted (conservative keep-all) instead of guessing the
       process zone — a guessed offset can wrongly SKIP shards;
    3. numeric timestamp probes of micros/millis magnitude refuse
       loudly instead of silently pruning everything;
    4. hours(...) partition probes reject plain dates with a clear
       ValueError, not an AttributeError."""
    import datetime as d

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for name, hours in [
            ("+08:00", 8), ("GMT+8", 8), ("UTC+08:00", 8),
            ("-0530", -5.5), ("UT+1", 1), ("Z", 0),
        ]:
            spark.conf.set("spark.sql.session.timeZone", name)
            tz = st._session_tz()
            assert tz is not None, name
            assert tz.utcoffset(None) == d.timedelta(hours=hours), name
        # fixed offsets localise naive probes exactly
        spark.conf.set("spark.sql.session.timeZone", "+08:00")
        naive = d.datetime(2024, 3, 1, 8, 0, 0)
        assert st._epoch_probe("timestamp", naive) == int(
            d.datetime(2024, 3, 1, tzinfo=d.timezone.utc).timestamp()
        ) * 1_000_000
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # unresolvable: probe returned unconverted -> comparator's
    # incomparable-types rule keeps every shard (never a skip).
    # Spark validates the conf, so simulate a form the Python side
    # cannot resolve (e.g. a JVM-only region id) by stubbing the
    # resolver's conf read.
    import unittest.mock as _mock

    with _mock.patch.object(st, "_session_tz", return_value=None):
        assert st._epoch_probe("timestamp", naive) is naive
    # magnitude guard: table_stats reports MICROS; feeding those back
    # as "seconds" must refuse, not silently skip every shard
    with pytest.raises(ValueError, match="implausibly large"):
        st._epoch_probe("timestamp", 1_709_251_200_000_000)
    with pytest.raises(ValueError, match="implausibly large"):
        st._epoch_probe("timestamp_ntz", 1_709_251_200_000)
    assert st._epoch_probe("timestamp", 1_709_251_200) == (
        1_709_251_200 * 1_000_000
    )
    # hours() probe with a plain date: loud ValueError, not
    # AttributeError (months/years accept dates — date-grained)
    tf = st._parse_partition_spec("hours(ts)")
    with pytest.raises(ValueError, match="time component"):
        tf["py"](d.date(2024, 3, 1))
    # ...and the string form of the same mistake: a date-only string
    # would otherwise yield bucket '2024-03-01 ' (empty hour) that
    # matches nothing and silently skips every shard
    with pytest.raises(ValueError, match="time component"):
        tf["py"]("2024-03-01")
    assert tf["py"]("2024-03-01T07:30:00") == "2024-03-01 07"
    assert tf["py"](d.datetime(2024, 3, 1, 7, 30)) == "2024-03-01 07"
    assert st._parse_partition_spec("months(ts)")["py"](
        d.date(2024, 3, 1)
    ) == "2024-03"


@pytest.mark.parametrize(
    "op", ["delete_where", "merge_cow", "merge_mor", "update_where",
           "write_snapshot"],
)
def test_lost_attempt_publishes_no_orphans(spark, docs, tmp_path,
                                           monkeypatch, op):
    """A rival append wins the version between the operation's staging
    and its claim: the operation retries on the new base and commits,
    and every file its lost attempt published (rewritten shards, new
    rows, deletion-vector parts) is reclaimed — vacuum finds nothing."""
    table = str(tmp_path / "t")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    write_snapshot(en, table)
    key = en.select("doc_id").limit(1).collect()[0]["doc_id"]
    upd = spark.createDataFrame(
        [(key, "en", 4242)], "doc_id long, lang string, n_chars long"
    )
    run = {
        "delete_where": lambda: st.delete_where(
            spark, table, "doc_id % 3 = 0"
        ),
        "merge_cow": lambda: st.merge_upsert(upd, table, key_cols=["doc_id"]),
        "merge_mor": lambda: st.merge_upsert(
            upd, table, key_cols=["doc_id"], mor=True
        ),
        "update_where": lambda: st.update_where(
            spark, table, {"n_chars": "n_chars + 1"}, "doc_id % 2 = 0"
        ),
        "write_snapshot": lambda: write_snapshot(
            docs.where(F.col("lang") == "fr"), table
        ),
    }[op]

    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and "_snapshots" in dst:
            state["raced"] = True
            write_snapshot(de, table, mode="append")  # rival wins v2
        return real_link(src, dst)

    monkeypatch.setattr(st.os, "link", racing_link)
    assert run() == 3  # lost v2, retried, claimed v3
    monkeypatch.undo()
    assert state["raced"]
    assert st.vacuum(table, dry_run=True)["orphans_removed"] == 0


def test_refused_append_reclaims_its_staged_shards(spark, docs, tmp_path):
    """An append whose rebase guard refuses (a rename committed while it
    staged) removes the shards it published instead of leaving them
    for vacuum."""
    table = str(tmp_path / "t")
    write_snapshot(docs.where(F.col("lang") == "en"), table)
    real_stage = st._stage_publish

    def renaming_stage(*a, **k):
        out = real_stage(*a, **k)
        st.rename_column(spark, table, "n_chars", "chars")
        return out

    st._stage_publish = renaming_stage
    try:
        with pytest.raises(ValueError, match="schema evolved"):
            write_snapshot(docs.where(F.col("lang") == "de"), table)
    finally:
        st._stage_publish = real_stage
    assert latest_version(table) == 2  # only the rename committed
    assert st.vacuum(table, dry_run=True)["orphans_removed"] == 0
