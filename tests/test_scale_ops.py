"""Scale-technique operators: bucketed shuffle-free joins, salted skew
joins, MLlib LSH variants, TSV source roundtrip."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import plan_summary
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
    )
    joined = bucketed_join(spark, "lineitem_b", "orders_b", "o_orderkey")
    s = plan_summary(joined)
    assert s["exchanges"] == 0, f"bucketed join must be shuffle-free: {s['nodes']}"
    # and it returns the same rows as the plain join
    plain = lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"]).count()
    assert joined.count() == plain


def test_salted_join_equals_plain_join(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.relational import salted_join
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    salted = salted_join(li, part, "l_partkey", salt_buckets=4)
    plain = li.join(part, "l_partkey")
    assert salted.count() == plain.count()
    a = salted.groupBy("p_brand").count().collect()
    b = plain.groupBy("p_brand").count().collect()
    assert {(r.p_brand, r["count"]) for r in a} == {(r.p_brand, r["count"]) for r in b}


def test_mllib_minhash_finds_exact_dups(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        jaccard_pairs,
        mllib_minhash_pairs,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact_dups = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.95, block_col="lang").collect()
    }
    mllib = {(r.doc_a, r.doc_b) for r in mllib_minhash_pairs(docs, threshold=0.9).collect()}
    assert exact_dups <= mllib, f"missed: {exact_dups - mllib}"


def test_ivf_knn_recall_vs_brute_force(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        knn_brute_force,
        knn_ivf,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {(r.query_id, r.neighbor_id) for r in knn_brute_force(emb, 10, 5).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in knn_ivf(emb, 10, 5).collect()}
    assert len(ivf) == 50
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_ivf_knn_matches_numpy_reference(spark, sf_dir, monkeypatch):
    """knn_ivf against the same algorithm written out in NumPy: the same
    _lloyd centroids on the same vec_id-ordered sample, each corpus vector
    in its nearest cell, each query probing its n_probe nearest cells
    (ties to the lower cell id), the query itself excluded, ranked by
    (cosine desc, neighbor_id asc), zero norm scoring 0."""
    import numpy as np
    import pyarrow.parquet as pq

    from svdmovie_lens_parallel_apache_spark_spark.operators import similarity
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        _lloyd,
        knn_ivf,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    n_queries, k, n_clusters, n_probe, seed = 40, 7, 16, 4, 42
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).sort_by("vec_id")
    ids = t["vec_id"].to_numpy()
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    C = _lloyd(V[:20000], n_clusters, seed)
    cell = (((V[:, None, :] - C[None]) ** 2).sum(-1)).argmin(1)
    norms = np.linalg.norm(V, axis=1)
    want = []
    for qi in np.flatnonzero(ids < n_queries):
        d2 = ((V[qi] - C) ** 2).sum(-1)
        probed = np.argsort(d2, kind="stable")[:n_probe]
        cand = np.flatnonzero(np.isin(cell, probed) & (ids != ids[qi]))
        denom = norms[qi] * norms[cand]
        cos = np.where(denom == 0.0, 0.0, (V[cand] @ V[qi]) / np.where(denom == 0.0, 1.0, denom))
        order = np.lexsort((ids[cand], -cos))[:k]
        want += [(int(ids[qi]), int(ids[cand][j]), r + 1, float(cos[j]))
                 for r, j in enumerate(order)]

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(tuple(r) for r in knn_ivf(emb, n_queries, k, n_clusters, n_probe, seed).collect())
    want.sort()
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - np.floor(w[3] * 1e6 + 0.5) / 1e6) <= 1e-12, (g, w)

    # the bounded-memory path: one query per GEMM and Arrow batches of 37
    # vectors, so many per-batch top-k lists merge in the final window
    monkeypatch.setattr(similarity, "_GEMM_ELEMS", 1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        chunked = knn_ivf(emb, n_queries, k, n_clusters, n_probe, seed).collect()
    finally:
        spark.conf.set(key, prior)
    assert sorted(tuple(r) for r in chunked) == got

    empty = knn_ivf(emb, query_ids_below=0, k=k)
    assert empty.collect() == []
    assert empty.schema == knn_ivf(emb, n_queries, k).schema


def test_mllib_brp_knn_overlaps_brute_force(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        knn_brute_force,
        mllib_brp_knn,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {(r.query_id, r.neighbor_id) for r in knn_brute_force(emb, 10, 5).collect()}
    brp = {(r.query_id, r.neighbor_id) for r in mllib_brp_knn(emb, 10, 5).collect()}
    # Euclidean-NN vs cosine-NN differ, but on similar-norm random vectors
    # the top sets overlap substantially; this is a smoke gate, not parity.
    assert len(brp) == len(brute) == 50
    assert len(brute & brp) / 50 >= 0.2


def test_json_orc_partitioned_roundtrips(spark, sf_dir):
    """Source/sink breadth: JSON + ORC readers (schema-explicit, no
    inference scan) and a dt-partitioned parquet sink with partition
    pruning on read."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    nation = load_table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory() as d:
        nation.write.mode("overwrite").json(f"{d}/j")
        back_j = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").json(
            f"{d}/j"
        )
        assert back_j.count() == nation.count()

        nation.write.mode("overwrite").orc(f"{d}/o")
        back_o = spark.read.orc(f"{d}/o")
        assert sorted(back_o.columns) == sorted(nation.columns)
        assert back_o.count() == nation.count()

        orders = load_table(spark, sf_dir, "orders").withColumn(
            "yr", F.year("o_orderdate")
        )
        orders.write.mode("overwrite").partitionBy("yr").parquet(f"{d}/p")
        pruned = spark.read.parquet(f"{d}/p").where(F.col("yr") == 1996)
        expect = orders.where(F.col("yr") == 1996).count()
        assert pruned.count() == expect
        # partition pruning: only the yr=1996 directory is scanned
        plan = pruned._sc._jvm.PythonSQLUtils.explainString(
            pruned._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters: [isnotnull(yr" in plan or "yr#" in plan


def test_movielens_tsv_roundtrip(spark):
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import (
        read_movielens_ratings,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.writers import write_tsv

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "u.data")
        with open(src, "w") as f:
            f.write("1\t10\t5\t881250949\n1\t20\t3\t891717742\n2\t10\t4\t878887116\n")
        df = read_movielens_ratings(spark, src)
        # timestamp column read but dropped, like the reference (line 197)
        assert df.columns == ["user_id", "movie_id", "rating"]
        rows = {(r.user_id, r.movie_id, r.rating) for r in df.collect()}
        assert rows == {(1, 10, 5), (1, 20, 3), (2, 10, 4)}
        out = os.path.join(d, "out")
        write_tsv(df, out)
        back = spark.read.csv(out, sep="\t", schema="user_id int, movie_id int, rating int")
        assert {(r.user_id, r.movie_id, r.rating) for r in back.collect()} == rows


def test_clustered_write_produces_prunable_layout(spark, sf_dir, tmp_path):
    """write_clustered must yield files whose footer min/max ranges on the
    cluster key are near-disjoint — the property that lets a key-predicate
    scan prune files at 100 TB. Verified from the actual parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table
    from svdmovie_lens_parallel_apache_spark_spark.sources.writers import write_clustered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    path = str(tmp_path / "clustered")
    write_clustered(li, path, ["l_orderkey"], n_files=4)

    ranges = []
    for f in sorted(glob.glob(path + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) >= 3  # range partitioner actually split the key space
    ranges.sort()
    # near-disjoint: each file's range starts at/after the previous file's end
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert lo >= prev_hi, ranges
    # row preservation
    assert spark.read.parquet(path).count() == li.count()


def test_pq_knn_recall_vs_brute_force(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        knn_brute_force,
        knn_pq,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {(r.query_id, r.neighbor_id) for r in knn_brute_force(emb, 10, 5).collect()}
    pq = {(r.query_id, r.neighbor_id) for r in knn_pq(emb, 10, 5).collect()}
    assert len(pq) == 50
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.9, f"PQ recall collapsed: {recall}"


def test_schema_evolution_merge_read(spark, tmp_path):
    """Parquet schema evolution: files written before a column existed must
    read back under mergeSchema with nulls filled — the contract that lets a
    100 TB table add columns without rewriting history."""
    p = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(f"{p}/v=1")
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.parquet(f"{p}/v=2")
    df = spark.read.option("mergeSchema", "true").option("basePath", p).parquet(
        f"{p}/v=1", f"{p}/v=2"
    )
    assert set(df.columns) >= {"id", "a", "b"}
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 10
    assert rows[1].b is None and rows[7].b == "7"


def test_corrupt_json_records_are_quarantined_not_fatal(spark, tmp_path):
    """PERMISSIVE JSON ingest: malformed lines land in the corrupt-record
    column instead of failing the job — at 100 TB a crawl batch always has
    bad lines and the pipeline must quarantine, not crash."""
    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "v": 10}\n'
        "{broken not json\n"
        '{"id": 2, "v": 20}\n'
        '{"id": "not an int", "v": 30}\n'
    )
    df = (
        spark.read.schema("id INT, v INT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(src))
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 2}
    assert len(bad) == 2  # the broken line and the type-mismatched line


def test_compact_files_merges_small_files(spark, tmp_path):
    """Compaction rewrites a fragmented directory into right-sized files,
    preserves every row, and (with sort_cols) restores selective footer
    stats — the standing maintenance job behind every streaming sink."""
    from svdmovie_lens_parallel_apache_spark_spark.sources.writers import compact_files

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    # simulate a streaming sink: 64 tiny files
    spark.range(6400).selectExpr("id", "id % 97 AS k").repartition(64).write.parquet(src)
    report = compact_files(spark, src, dst, target_rows_per_file=3200, sort_cols=["k"])
    assert report["files_before"] >= 60
    assert report["files_after"] == 2
    assert report["rows"] == 6400
    back = spark.read.parquet(dst)
    assert back.count() == 6400
    assert back.agg(F.countDistinct("id")).first()[0] == 6400


def test_events_ts_layout_probe_and_normalise(spark, tmp_path):
    """The driver fixture's events.ts parquet encoding changed between
    rounds (TIMESTAMP(NANOS) -> naive micros); the reader must yield the
    SAME UTC instants for every physical layout it can meet: int64-nanos,
    TIMESTAMP_NTZ micros, INT96, and UTC-adjusted micros."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import (
        events_ts_layout,
        load_table,
    )

    naive = pd.to_datetime(
        [
            "2024-01-01 00:09:58.778549",
            "2024-02-29 23:59:59.000001",
            "2024-06-15 12:00:00.000000",
        ],
        format="%Y-%m-%d %H:%M:%S.%f",
    )
    expected_us = [int(t.value // 1000) for t in naive]  # naive-as-UTC micros
    ids = list(range(len(naive)))

    def write(layout_dir, arrow_type, int96=False):
        d = tmp_path / layout_dir
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(naive).cast(arrow_type),
            }
        )
        pq.write_table(
            tbl, str(d / "events.parquet"), use_deprecated_int96_timestamps=int96
        )
        return str(d)

    cases = {
        "nanos": write("nanos", pa.timestamp("ns")),
        "ntz": write("ntz", pa.timestamp("us")),
        "ltz": write("utc", pa.timestamp("us", tz="UTC")),
        # INT96 probes as "ltz" too (Spark reads it as plain TIMESTAMP)
        "ltz ": write("int96", pa.timestamp("ns"), int96=True),
    }
    for expect_layout, d in cases.items():
        assert events_ts_layout(f"{d}/events.parquet") == expect_layout.strip()
        df = load_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = {
            r.event_id: r.us
            for r in df.selectExpr("event_id", "unix_micros(ts) AS us").collect()
        }
        assert got == dict(zip(ids, expected_us)), d

    # probe failure modes: empty glob is a clear error, and a directory
    # mixing layouts raises instead of silently normalising per one file
    import shutil

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no parquet files"):
        events_ts_layout(str(tmp_path / "nope-*.parquet"))
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    shutil.copy(str(tmp_path / "nanos" / "events.parquet"), str(mixed / "a.parquet"))
    shutil.copy(str(tmp_path / "ntz" / "events.parquet"), str(mixed / "b.parquet"))
    with _pytest.raises(ValueError, match="mixed ts layouts"):
        events_ts_layout(str(mixed / "*.parquet"))


def test_bpe_per_round_cost_is_flat_in_depth(spark, sf_dir):
    """Merge-depth gate (r4 verdict #5): per-round BPE training cost must
    not grow with the number of accumulated merges — round 25 pays the
    same one pair-count shuffle + bounded limit(1) argmax as round 3
    (localCheckpoint truncates lineage each round). The generous 2.5x
    median band absorbs local timing noise while still catching the
    failure mode this guards (lineage growth => cost linear in depth =>
    last rounds several-fold slower). Full 50-round sf0.1 evidence:
    SCALING.json["bpe_depth"]."""
    import statistics

    from svdmovie_lens_parallel_apache_spark_spark.catalog_pipeline import _bpe_train

    times = []
    _bpe_train(spark, sf_dir, rounds=25, round_times=times)
    early = statistics.median(times[2:7])
    late = statistics.median(times[-5:])
    assert late <= 2.5 * early, f"per-round cost grew with depth: {times}"


def test_interval_overlap_pairs_planted(spark):
    """Planted same-key intervals: overlap, touch-at-endpoint (inclusive
    semantics -> counts, overlap_len 1), disjoint, straddling a bucket
    boundary (must survive exactly once via the canonical bucket), and a
    same-span pair in a different key (must not pair across keys)."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.relational import (
        interval_overlap_pairs,
    )

    items = spark.createDataFrame(
        [
            # key 1: [0,5] vs [3,9] overlap 3..5 (len 3); both in bucket 0
            (1, 10, 0, 5),
            (1, 11, 3, 9),
            # key 1: [9,9] touches 11's end exactly -> len 1
            (1, 12, 9, 9),
            # key 1: [20,24] disjoint from all
            (1, 13, 20, 24),
            # key 1: straddle test vs 14: [5,8] x [6,13] overlap 6..8;
            # 14 spans buckets 0-1, 15 spans 0-1 -> canonical bucket 0 only
            (1, 14, 5, 8),
            (1, 15, 6, 13),
            # key 2: same span as 10/11 but different key -> no cross pair
            (2, 16, 0, 5),
        ],
        "k int, iid int, s long, e long",
    )
    pairs = {
        (r.id_a, r.id_b): r.overlap_len
        for r in interval_overlap_pairs(
            items, key="k", id_col="iid", bucket_width=7
        ).collect()
    }
    assert pairs == {
        (10, 11): 3,   # plain overlap
        (11, 12): 1,   # inclusive endpoint touch
        (10, 14): 1,   # [0,5] x [5,8] touch at 5
        (11, 14): 4,   # [3,9] x [5,8] -> 5..8
        (11, 15): 4,   # [3,9] x [6,13] -> 6..9
        (14, 15): 3,   # straddling pair counted exactly once
        (12, 15): 1,   # [9,9] x [6,13]
    }


def test_interval_overlap_pairs_extreme_and_negative_bounds(spark):
    """Bucket ids must come from EXACT integer floor division: near 2^62
    a double-routed floor(col / W) collapses ~512 consecutive longs onto
    one value (the old F.floor(col/W) form put 2^62 in bucket
    ...769664 instead of the true ...769700 — a 36-bucket misplacement),
    and negative bounds need floor (not trunc) semantics. Planted pairs
    at both extremes must come back exactly once with exact lengths."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.relational import (
        interval_overlap_pairs,
    )

    B = 2**62  # double spacing here is 512 — way past exact-float range
    items = spark.createDataFrame(
        [
            # key 1 at 2^62: [B, B+10] x [B+5, B+20] -> overlap 6
            (1, 10, B, B + 10),
            (1, 11, B + 5, B + 20),
            # [B+100, B+105] is disjoint from both (gap 80..95)
            (1, 12, B + 100, B + 105),
            # straddles the TRUE bucket boundary at 7*ceil(B/7):
            # overlaps 11 on [B+14, B+20] -> len 7
            (1, 13, B + 14, B + 30),
            # key 2, negative coordinates: [-10, -4] x [-6, -1] -> len 3
            (2, 20, -10, -4),
            (2, 21, -6, -1),
            # [-3, -1] x [-6, -1] -> len 3; disjoint from 20
            (2, 22, -3, -1),
        ],
        "k int, iid int, s long, e long",
    )
    got = {
        (r.id_a, r.id_b): r.overlap_len
        for r in interval_overlap_pairs(
            items, key="k", id_col="iid", bucket_width=7
        ).collect()
    }
    assert got == {
        (10, 11): 6,
        (11, 13): 7,
        (20, 21): 3,
        (21, 22): 3,
    }


def test_adaptive_n_planes_thresholds():
    """The integer-only sizing rule both engines replay: smallest
    np >= base with n <= target * 2^np, capped."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        adaptive_n_planes,
    )

    assert adaptive_n_planes(0) == 4
    assert adaptive_n_planes(500) == 4
    assert adaptive_n_planes(512) == 4      # boundary: N == 32·2^4 stays
    assert adaptive_n_planes(513) == 5      # first count past it grows
    assert adaptive_n_planes(2000) == 6
    assert adaptive_n_planes(20_000) == 10
    assert adaptive_n_planes(200_000) == 13
    assert adaptive_n_planes(10**12) == 24  # cap


def test_embedding_dedup_adaptive_np_cross_engine(spark, sf_dir, tmp_path):
    """Above the 512-vector threshold the Spark side picks np=5 and the
    oracle must pick the SAME np from its integer threshold sum — gate
    the crossing with a 600-vector fixture (sf0.001 embeddings + 100
    jittered extras), comparing pairs bit-exactly across engines."""
    import duckdb

    from svdmovie_lens_parallel_apache_spark_spark.catalog_text import (
        q_dedup_embedding_cosine,
    )
    from tests.oracle_utils import assert_frames_match

    d = tmp_path / "fx"
    d.mkdir()
    con = duckdb.connect()
    # 500 originals + 100 one-component-jittered near-dups = 600 > 512;
    # built in SQL so the array<float> column type survives the copy
    con.sql(f"""
        COPY (
          SELECT * FROM '{sf_dir}/embeddings.parquet'
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 CAST(list_prepend(CAST(embedding[1] + 0.001 AS FLOAT),
                                   embedding[2:]) AS FLOAT[]) AS embedding,
                 label
          FROM '{sf_dir}/embeddings.parquet' WHERE vec_id < 100
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"):
        con.sql(f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet' LIMIT 1) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)")
    from tests.oracle_utils import run_oracle

    import __spark_entry__ as entry_mod

    sdf = q_dedup_embedding_cosine(spark, str(d)).toPandas()
    oracle = run_oracle(entry_mod.oracle_sql()["dedup_embedding_cosine"], str(d))
    assert len(sdf) > 0  # the jittered extras guarantee found pairs
    assert_frames_match(sdf, oracle, "dedup_embedding_cosine@600")
