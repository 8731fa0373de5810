"""Custom Python DataSource (Spark 4 pyspark.sql.datasource) surface.

The oracle gate (synthetic_source_stats, exact DuckDB replay of the
generator including text fingerprints) covers correctness of the default
read path; these tests cover the SOURCE semantics the oracle can't see:
partition-count invariance, filter pushdown equivalence (pushed lang
equality == post-hoc filter), residual-filter handoff, and schema.
"""

import pytest
from pyspark.sql import functions as F

from svdmovie_lens_parallel_apache_spark_spark.sources.python_datasource import (
    LANGS,
    gen_doc,
    register_synthetic_docs,
)


def _read(spark, n_docs=500, n_partitions=4):
    register_synthetic_docs(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n_docs", n_docs)
        .option("n_partitions", n_partitions)
        .load()
    )


def test_schema_and_rowcount(spark):
    df = _read(spark)
    assert df.columns == ["doc_id", "lang", "text", "n_words"]
    assert dict(df.dtypes)["doc_id"] == "bigint"
    assert df.count() == 500


def test_partition_count_invariance(spark):
    a = _read(spark, n_partitions=1).orderBy("doc_id").collect()
    b = _read(spark, n_partitions=7).orderBy("doc_id").collect()
    assert a == b
    # and the planner actually got 7 input splits
    assert _read(spark, n_partitions=7).rdd.getNumPartitions() == 7


def test_rows_match_pure_generator(spark):
    rows = {r.doc_id: r for r in _read(spark, n_docs=50).collect()}
    for doc_id in range(50):
        did, lang, text, n_words = gen_doc(doc_id)
        r = rows[did]
        assert (r.lang, r.text, r.n_words) == (lang, text, n_words)


def test_lang_pushdown_equals_post_filter(spark):
    full = _read(spark)
    for lang in LANGS[:2]:
        pushed = _read(spark).where(F.col("lang") == lang)
        post = [r.doc_id for r in full.collect() if r.lang == lang]
        got = [r.doc_id for r in pushed.orderBy("doc_id").collect()]
        assert got == sorted(post)


def test_residual_filter_still_applied(spark):
    # n_words predicate is NOT handled by pushFilters — Spark must keep
    # its own Filter on top and produce the right rows anyway
    df = _read(spark).where((F.col("lang") == "en") & (F.col("n_words") > 50))
    rows = df.collect()
    expected = [
        gen_doc(i) for i in range(500)
    ]
    expected = [t for t in expected if t[1] == "en" and t[3] > 50]
    assert sorted(r.doc_id for r in rows) == [t[0] for t in expected]
    assert all(r.n_words > 50 for r in rows)


def test_stream_reader_matches_batch_over_microbatches(spark, tmp_path):
    """The partition-planned Python stream reader replays the SAME corpus
    as the batch reader across >=3 real micro-batches (150-id offset
    steps over 500 ids): complete-mode per-lang counts in a memory sink
    must equal the batch groupBy, and progress must show multiple
    non-empty batches."""
    import time

    register_synthetic_docs(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("n_docs", 500)
        .option("batch_docs", 150)
        .option("n_partitions", 4)
        .load()
    )
    assert stream.isStreaming
    counts = stream.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    ckpt = str(tmp_path / "ckpt")
    q = (
        counts.writeStream.format("memory")
        .queryName("pyds_lang_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 120
        total = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT sum(n) AS s FROM pyds_lang_counts").collect()
            total = rows[0].s or 0
            if total == 500:
                break
            time.sleep(0.5)
        assert total == 500, f"stream drained only {total}/500 rows"
        n_batches = sum(
            1 for p in q.recentProgress
            if (p["numInputRows"] if isinstance(p, dict) else p.numInputRows) > 0
        )
        assert n_batches >= 3, f"expected >=3 non-empty micro-batches, saw {n_batches}"
    finally:
        q.stop()
    got = {
        r.lang: r.n
        for r in spark.sql("SELECT * FROM pyds_lang_counts").collect()
    }
    want = {
        r.lang: r.n
        for r in _read(spark, n_docs=500)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# tsv_shards sink (python_datasink.py): two-phase commit protocol
# ---------------------------------------------------------------------------


def _sink_write(spark, path, n_docs=300, **opts):
    from svdmovie_lens_parallel_apache_spark_spark.sources.python_datasink import (
        register_tsv_shards,
    )

    register_tsv_shards(spark)
    df = _read(spark, n_docs=n_docs, n_partitions=4)
    w = df.write.format("tsv_shards").mode("append")
    for k, v in opts.items():
        w = w.option(k, v)
    w.save(path)
    return df


def test_sink_roundtrip_and_manifest(spark, tmp_path):
    import json
    import os

    out = str(tmp_path / "shards")
    df = _sink_write(spark, out)
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["n_rows"] == 300
    assert manifest["n_shards"] == 4
    files = sorted(f for f in os.listdir(out) if f.endswith(".tsv"))
    assert files == sorted(s["file"] for s in manifest["shards"])
    assert "_tmp" not in os.listdir(out)
    # byte-level round-trip through a plain TSV read
    back = (
        spark.read.option("sep", "\t")
        .schema("doc_id bigint, lang string, text string, n_words int")
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_sink_abort_leaves_no_partial_output(spark, tmp_path):
    import os

    import pytest as _pytest

    out = str(tmp_path / "aborted")
    # doc 0's doc_id value '0' trips the injected failure in one task
    with _pytest.raises(Exception):
        _sink_write(spark, out, fail_on_value="0")
    leftovers = [
        f for f in (os.listdir(out) if os.path.isdir(out) else [])
        if f != "_tmp"
    ]
    assert leftovers == [], f"aborted write published files: {leftovers}"
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    tmp_dir = os.path.join(out, "_tmp")
    assert not os.path.isdir(tmp_dir) or os.listdir(tmp_dir) == []


def test_sink_append_merges_manifest_overwrite_replaces(spark, tmp_path):
    import json
    import os

    out = str(tmp_path / "modes")
    _sink_write(spark, out, n_docs=100)
    _sink_write(spark, out, n_docs=200)  # append: both jobs stay visible
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["n_rows"] == 300 and m["n_shards"] == 8
    files = {f for f in os.listdir(out) if f.endswith(".tsv")}
    assert files == {s["file"] for s in m["shards"]}

    # overwrite: only the new job's shards survive, on disk AND in manifest
    from svdmovie_lens_parallel_apache_spark_spark.sources.python_datasink import (
        register_tsv_shards,
    )

    register_tsv_shards(spark)
    df = _read(spark, n_docs=50, n_partitions=2)
    df.write.format("tsv_shards").mode("overwrite").save(out)
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        m2 = json.load(f)
    assert m2["n_rows"] == 50 and m2["n_shards"] == 2
    files2 = {f for f in os.listdir(out) if f.endswith(".tsv")}
    assert files2 == {s["file"] for s in m2["shards"]}
    back = (
        spark.read.option("sep", "\t")
        .schema("doc_id bigint, lang string, text string, n_words int")
        .csv(out)
    )
    assert back.count() == 50


# ---------------------------------------------------------------------------
# snapshot_table as an official Python DataSource (snapshot_datasource.py)
# ---------------------------------------------------------------------------


def _snap_docs(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_snapshot_source_reads_and_prunes(spark, sf_dir, tmp_path):
    """format('snapshot_table') equals read_snapshot, and a Catalyst-
    pushed range filter prunes PLANNED partitions via per-shard stats
    (filters stay applied by Spark — rows are exact either way)."""
    import json

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, write_snapshot,
    )

    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=6, cluster_by=["doc_id"])
    register_snapshot_table_source(spark)
    base = spark.read.format("snapshot_table").option("path", table).load()
    assert _canon_rows(base) == _canon_rows(docs)
    log = str(tmp_path / "plan.json")
    got = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where("doc_id BETWEEN 0 AND 40")
    )
    assert _canon_rows(got) == _canon_rows(
        docs.where("doc_id BETWEEN 0 AND 40")
    )
    plan = json.load(open(log))
    assert plan["total"] == 6 and 0 < plan["planned"] < 6


def test_snapshot_source_bloom_point_prunes(spark, sf_dir, tmp_path):
    """An equality probe on a HASH layout (stats useless: every shard
    spans the key range) prunes via the per-shard bloom filters."""
    import json

    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        write_snapshot,
    )

    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(
        docs.repartition(8, "doc_id"), table,
        mode="append", bloom_cols=["doc_id"],
    )
    register_snapshot_table_source(spark)
    key = int(docs.agg(F.max("doc_id")).collect()[0][0] // 2)
    log = str(tmp_path / "plan.json")
    got = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where(f"doc_id = {key}")
    )
    assert _canon_rows(got) == _canon_rows(docs.where(F.col("doc_id") == key))
    plan = json.load(open(log))
    assert plan["planned"] < plan["total"] == 8


def test_snapshot_source_column_mapping_and_time_travel(spark, sf_dir, tmp_path):
    """Reads are column-mapping aware (renamed/dropped/re-added columns
    behave exactly like read_snapshot) and version= time-travels."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_column, drop_column, rename_column, write_snapshot,
    )

    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(docs, table)                                    # v1
    rename_column(spark, table, "n_chars", "chars")                # v2
    drop_column(spark, table, "lang")                              # v3
    add_column(spark, table, "lang", "string")                     # v4
    register_snapshot_table_source(spark)
    got = spark.read.format("snapshot_table").option("path", table).load()
    assert got.columns == ["doc_id", "chars", "lang"]
    assert got.where(F.col("lang").isNotNull()).count() == 0  # no resurface
    assert _canon_rows(got.select("doc_id", "chars")) == _canon_rows(
        docs.select("doc_id", "n_chars")
    )
    v1 = (
        spark.read.format("snapshot_table")
        .option("path", table).option("version", "1").load()
    )
    assert v1.columns == ["doc_id", "lang", "n_chars"]
    assert _canon_rows(v1) == _canon_rows(docs)


def test_snapshot_source_loud_boundaries(spark, sf_dir, tmp_path):
    """Pending lazy deletes and empty tables refuse loudly."""
    import pytest

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        delete_where, write_snapshot,
    )

    register_snapshot_table_source(spark)
    with pytest.raises(Exception, match="no snapshots"):
        spark.read.format("snapshot_table").option(
            "path", str(tmp_path / "nope")
        ).load()
    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(docs, table)
    delete_where(spark, table, "n_chars > 400", lazy=True)
    with pytest.raises(Exception, match="pending lazy deletes"):
        spark.read.format("snapshot_table").option("path", table).load()


def test_snapshot_source_in_list_and_string_filters(spark, sf_dir, tmp_path):
    """IN-list predicates prune to the union of per-value survivors
    (stats + bloom per value), and string-typed range filters are
    type-safe (unbounded sides never compare str to inf)."""
    import json

    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        compact_table, write_snapshot,
    )

    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(docs, table, mode="append", bloom_cols=["doc_id"])
    compact_table(
        spark, table, target_shards=6, cluster_by=["doc_id"],
        bloom_cols=["doc_id"],
    )
    register_snapshot_table_source(spark)
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    probe = [int(ids[0]), int(ids[-1])]  # both extremes: 2 shards max
    log = str(tmp_path / "plan.json")
    got = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where(F.col("doc_id").isin(probe))
    )
    assert _canon_rows(got) == _canon_rows(docs.where(F.col("doc_id").isin(probe)))
    plan = json.load(open(log))
    assert plan["planned"] <= 2 < plan["total"] == 6
    # string range predicate on a column with string stats: no crash,
    # exact rows (lang stats exist only if recorded; either way safe)
    got2 = (
        spark.read.format("snapshot_table").option("path", table)
        .load().where("lang >= 'e' AND lang < 'g'")
    )
    assert _canon_rows(got2) == _canon_rows(
        docs.where("lang >= 'e' AND lang < 'g'")
    )


def test_snapshot_batch_writer_append_overwrite(spark, sf_dir, tmp_path):
    """df.write.format('snapshot_table'): append and overwrite map onto
    atomic snapshot commits; Arrow-side per-shard stats and blooms are
    recorded and USABLE by the pruning paths."""
    import glob
    import os

    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _bloom_may_contain, read_snapshot, snapshot_history,
    )

    register_snapshot_table_source(spark)
    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    (
        docs.repartition(4, "doc_id").write.format("snapshot_table")
        .option("stats_cols", "doc_id").option("bloom_cols", "doc_id")
        .mode("append").save(table)
    )
    assert _canon_rows(read_snapshot(spark, table)) == _canon_rows(docs)
    snap = snapshot_history(table)[-1]
    assert snap["operation"] == "append" and snap["n_shards"] == 4
    assert all("stats" in s and "bloom" in s for s in snap["shards"])
    # arrow-computed blooms behave like the distributed ones: the key's
    # owning shard says maybe, and across 4 hash shards at least one
    # provably excludes it
    key = int(docs.agg(F.max("doc_id")).collect()[0][0])
    hits = [
        _bloom_may_contain(s, "doc_id", key) for s in snap["shards"]
    ]
    assert any(hits) and not all(hits)
    docs.limit(7).write.format("snapshot_table").mode("overwrite").save(table)
    assert read_snapshot(spark, table).count() == 7
    assert [s["operation"] for s in snapshot_history(table)] == [
        "append", "overwrite",
    ]
    # no staged residue
    assert glob.glob(os.path.join(table, "_tmp", "batch", "*")) == []


def test_snapshot_batch_writer_constraints_and_evolution(spark, sf_dir, tmp_path):
    """A batch violating a live CHECK constraint commits NOTHING (zero
    visibility, no staged residue); appends widen the schema
    union-by-name like write_snapshot."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_constraint, latest_version, read_snapshot,
    )

    register_snapshot_table_source(spark)
    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    docs.write.format("snapshot_table").mode("append").save(table)
    add_constraint(spark, table, "pos", "n_chars > 0")             # v2
    bad = docs.limit(3).withColumn("n_chars", F.lit(-5).cast("long"))
    with pytest.raises(Exception):
        bad.write.format("snapshot_table").mode("append").save(table)
    assert latest_version(table) == 2  # nothing committed
    assert _canon_rows(read_snapshot(spark, table)) == _canon_rows(docs)
    assert glob.glob(os.path.join(table, "_tmp", "batch", "*")) == []
    # union-by-name widening: a new nullable column appends cleanly
    extra = docs.limit(5).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "lang", "n_chars",
        F.lit("x").alias("note"),
    )
    extra.write.format("snapshot_table").mode("append").save(table)
    got = read_snapshot(spark, table)
    assert got.columns == ["doc_id", "lang", "n_chars", "note"]
    assert got.where(F.col("note").isNotNull()).count() == 5


def test_snapshot_batch_writer_concurrent_commits_both_land(spark, sf_dir, tmp_path):
    """Two batch-writer COMMITS racing for the same version: the rebase
    loop makes both land — the table ends with the union, two append
    snapshots. (Raced at the writer-protocol level: Spark's Python-
    source LOOKUP itself is not concurrency-safe for simultaneous
    .save() calls — an upstream limitation unrelated to the commit
    protocol under test — so the writers are driven directly.)"""
    import threading

    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_datasource
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        read_snapshot, snapshot_history,
    )

    docs = _snap_docs(spark, sf_dir)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    table = str(tmp_path / "t")
    ds_cls = snapshot_datasource._build()

    def staged_writer(df):
        wr = ds_cls(options={"path": table}).writer(df.schema, False)
        msg = wr.write(iter(df.toArrow().to_batches()))
        return wr, [msg]

    wa, ma = staged_writer(a)
    wb, mb = staged_writer(b)
    errs: list[Exception] = []

    def commit(wr, msgs):
        try:
            wr.commit(msgs)
        except Exception as exc:
            errs.append(exc)

    threads = [
        threading.Thread(target=commit, args=(wa, ma)),
        threading.Thread(target=commit, args=(wb, mb)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert _canon_rows(read_snapshot(spark, table)) == _canon_rows(docs)
    ops = [s["operation"] for s in snapshot_history(table)]
    assert ops == ["append", "append"]


def _arrow_writer(kind, options, schema):
    """The batch writer or the stream sink, constructed directly."""
    from svdmovie_lens_parallel_apache_spark_spark.sources import (
        snapshot_datasource,
        snapshot_sink,
    )

    if kind == "batch":
        return snapshot_datasource._build()(options=options).writer(
            schema, False
        )
    return snapshot_sink._build()(options=options).streamWriter(schema, False)


@pytest.mark.parametrize("kind", ["batch", "sink"])
def test_snapshot_batch_writer_rejects_unsupported_metadata_types(
    spark, sf_dir, tmp_path, kind
):
    """Regression: both Arrow writers enforce write_snapshot's
    stats/bloom type gates at CONSTRUCTION (a timestamp stats column
    would crash JSON serialization after publish; a float bloom column
    would silently wrong-prune point lookups)."""
    import os

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )

    register_snapshot_table_source(spark)
    docs = _snap_docs(spark, sf_dir).withColumn(
        "ts", F.current_timestamp()
    ).withColumn("score", (F.col("n_chars") / 7.0))
    table = str(tmp_path / "t")
    for opt, col in (("stats_cols", "ts"), ("bloom_cols", "score")):
        with pytest.raises(Exception, match=f"{opt} supports"):
            if kind == "batch":
                (
                    docs.write.format("snapshot_table")
                    .option(opt, col).mode("append").save(table)
                )
            else:
                _arrow_writer(kind, {"path": table, opt: col}, docs.schema)
    assert not os.path.exists(os.path.join(table, "_snapshots"))


@pytest.mark.parametrize(
    "kind,tdir",
    [("batch", "t"), ("sink", "t"), ("batch", "q'uote"), ("sink", "q'uote")],
    ids=["batch", "sink", "batch-quote", "sink-quote"],
)
def test_snapshot_batch_writer_revalidates_concurrent_constraint(
    spark, sf_dir, tmp_path, monkeypatch, kind, tdir
):
    """Regression: a CHECK constraint added between an Arrow writer's
    ENTRY validation and its commit claim still binds the batch — the
    rebase loop revalidates fresh constraints against the published
    files and refuses; the published files are reclaimed on the way out
    and the log is untouched. (The entry read is blinded via
    monkeypatch to open the race window deterministically — otherwise
    commit()'s own _base_constraints read would catch the constraint
    before publish.) The quoted table directory commits with no active
    session, as the writers do in their Python runner, so the
    revalidation goes through the DuckDB twin with a ``'`` in every
    file path."""
    from svdmovie_lens_parallel_apache_spark_spark.sources import (
        snapshot_table as st_mod,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        add_constraint, latest_version, read_snapshot, vacuum, write_snapshot,
    )

    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / tdir)
    write_snapshot(docs.where("n_chars > 0"), table)               # v1
    bad = spark.createDataFrame([(-1, "xx", -100)], docs.schema)
    wr = _arrow_writer(kind, {"path": table}, bad.schema)
    msgs = [wr.write(iter(bad.toArrow().to_batches()))]
    add_constraint(spark, table, "pos", "n_chars > 0")             # v2
    # blind the ENTRY validation: the constraint "lands" after it
    monkeypatch.setattr(st_mod, "_base_constraints", lambda t: {})
    if "'" in tdir:
        monkeypatch.setattr(
            st_mod.SparkSession, "getActiveSession", staticmethod(lambda: None)
        )
    with pytest.raises(ValueError, match="CHECK constraint 'pos'.* violated"):
        wr.commit(msgs) if kind == "batch" else wr.commit(msgs, 0)
    monkeypatch.undo()
    assert latest_version(table) == 2  # nothing committed
    assert read_snapshot(spark, table).where("n_chars <= 0").count() == 0
    assert vacuum(table)["orphans_removed"] == 0  # published files reclaimed


def test_snapshot_source_read_pins_analysis_version(spark, sf_dir, tmp_path):
    """Regression: schema() and the reader share ONE resolved snapshot,
    so a rename committed between analysis and execution cannot tear
    the read (the renamed column would silently read NULL)."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_datasource import (
        register_snapshot_table_source,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        rename_column, write_snapshot,
    )

    register_snapshot_table_source(spark)
    docs = _snap_docs(spark, sf_dir)
    table = str(tmp_path / "t")
    write_snapshot(docs, table)                                    # v1
    df = spark.read.format("snapshot_table").option("path", table).load()
    rename_column(spark, table, "n_chars", "chars")                # v2
    got = df.collect()  # executes AFTER the rename committed
    assert df.columns == ["doc_id", "lang", "n_chars"]
    assert sum(1 for r in got if r["n_chars"] is None) == 0
    assert _canon_rows(df) == _canon_rows(docs)
    # a fresh load sees the new schema
    assert spark.read.format("snapshot_table").option(
        "path", table
    ).load().columns == ["doc_id", "lang", "chars"]
