"""Behavioural tests for the training-data pipeline operators (dedup,
similarity, text) beyond the oracle parity harness."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_word_shingles_short_doc(spark):
    from svdmovie_lens_parallel_apache_spark_spark.functions.text import word_shingles

    df = spark.createDataFrame([("a b",), ("a b c d",), ("",)], "text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert out[0].sh == []  # 2 tokens < n → no shingles (not a [1,0] descending-seq artifact)
    assert out[1].sh == ["a b c", "b c d"]
    assert out[2].sh == []


def test_exact_dedup_keeps_min_id(spark):
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import exact_dedup_groups

    rows = [
        (1, "Hello World", "en", "s", 11),
        (7, "  hello world ", "en", "s", 14),  # same after canonicalisation
        (3, "other text", "en", "s", 10),
    ]
    out = {r.keep_doc_id: r.n_copies for r in exact_dedup_groups(_docs(spark, rows)).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_exact_jaccard_pairs(spark, sf_dir):
    """LSH banding must recover every pair the exact method finds at a
    threshold comfortably above the band-probability knee."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        jaccard_pairs,
        minhash_dedup_pairs,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.9, block_col="lang").collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_dedup_pairs(docs, threshold=0.9).collect()
    }
    # same-lang exact pairs are a subset of LSH pairs (LSH isn't lang-blocked)
    assert exact <= lsh
    assert len(lsh) >= len(exact) > 0 or len(exact) == 0


def test_distributed_cc_matches_union_find(spark, sf_dir):
    """The 100 TB branch of dedup_clusters (distributed min-label fixpoint,
    used above driver_edge_threshold) must produce exactly the clustering
    of the driver union-find branch. threshold=0 forces the distributed
    path onto the real sf fixture pairs; threshold=2**62 forces union-find."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5, n=3, block_col="lang")
    uf = {(r.doc_id, r.cluster_id)
          for r in dedup_clusters(pairs, driver_edge_threshold=2**62).collect()}
    dist = {(r.doc_id, r.cluster_id)
            for r in dedup_clusters(pairs, driver_edge_threshold=0).collect()}
    assert len(uf) > 0
    assert dist == uf


def test_driver_cc_runs_one_jvm_job(spark, sf_dir):
    """The driver branch of dedup_clusters reads the pairs with ONE bounded
    collect and returns its union-find result as a local relation, so
    building and collecting the clusters runs exactly one Spark job, and
    no stage of it runs a Python RDD. The pairs are materialised into one
    partition first: a limit read over several partitions may take a few
    jobs (Spark's take loop scans partitions in growing rounds)."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        jaccard_pairs(docs, threshold=0.5, n=3, block_col="lang")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    sc = spark.sparkContext
    group = "test_driver_cc_runs_one_jvm_job"
    sc.setJobGroup(group, group)
    try:
        rows = dedup_clusters(pairs, driver_edge_threshold=2**62).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) > 0
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    store = sc._jsc.sc().statusStore()

    def rdd_names(cluster):
        nodes, kids = cluster.childNodes(), cluster.childClusters()
        names = [nodes.apply(i).name() for i in range(nodes.size())]
        for i in range(kids.size()):
            names += rdd_names(kids.apply(i))
        return names

    for stage in tracker.getJobInfo(jobs[0]).stageIds:
        names = rdd_names(store.operationGraphForStage(stage).rootCluster())
        assert "PythonRDD" not in names, names


def test_simhash_identical_docs_zero_hamming(spark):
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import simhash_pairs

    rows = [
        (1, "alpha beta gamma delta", "en", "s", 22),
        (2, "alpha beta gamma delta", "en", "s", 22),
        (3, "totally different words here now", "en", "s", 32),
    ]
    out = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(_docs(spark, rows), max_hamming=32).collect()}
    assert out[(1, 2)] == 0


def test_lsh_knn_recall_vs_brute_force(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
        knn_brute_force,
        knn_lsh,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {(r.query_id, r.neighbor_id) for r in knn_brute_force(emb, 10, 5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in knn_lsh(emb, 10, 5, n_planes=4, n_tables=8).collect()}
    recall = len(brute & approx) / len(brute)
    # Evidence-pinned floor (r4): measured 0.72 at sf0.001, 0.60 at sf0.01
    # with these params; floor = min(measured) - 0.10 margin (r5: widened
    # from 0.05 and aligned with the catalog gate's 0.5 floor — the fixture
    # is regenerated between rounds and recall legitimately jitters), so a
    # recall collapse of the multi-table OR-amplification fails loudly
    # while fixture-regeneration jitter does not. On failure: re-measure on
    # the fresh fixture before suspecting a code regression.
    assert recall >= 0.50, f"LSH recall collapsed: {recall} (measured 0.72@sf0.001, 0.60@sf0.01)"


def test_quality_score_gate(spark):
    from svdmovie_lens_parallel_apache_spark_spark.operators.textops import quality_score

    rows = [
        (1, "one two three four five six seven eight nine ten eleven", "en", "s", 55),
        (2, "too short", "en", "s", 9),
    ]
    out = {r.doc_id: r.keep for r in quality_score(_docs(spark, rows)).collect()}
    assert out == {1: 1, 2: 0}


def test_clamped_fold_order_dependence(spark):
    """The reference's per-feature clamp (SVDMovieLensSparkJava.java:503-511)
    is order-dependent: fold != dot+final-clamp."""
    from svdmovie_lens_parallel_apache_spark_spark.functions.vectors import clamped_fold, dot
    from svdmovie_lens_parallel_apache_spark_spark.functions.scalar import clamp

    df = spark.createDataFrame(
        [([10.0, -10.0, 0.5], [1.0, 1.0, 1.0])], "u array<double>, m array<double>"
    )
    row = df.select(
        clamped_fold(F.col("u"), F.col("m")).alias("folded"),
        clamp(F.lit(1.0) + dot(F.col("u"), F.col("m"))).alias("dot_clamped"),
    ).collect()[0]
    # fold: 1+10→clamp 5; 5-10→clamp 1; 1+0.5=1.5   vs   dot: 1+0.5=1.5 both→ equal here?
    # fold gives 1.5; dot path: 1 + (10-10+0.5)=1.5 → craft a case where they differ:
    assert row.folded == 1.5 and row.dot_clamped == 1.5
    df2 = spark.createDataFrame(
        [([10.0, 0.0, -0.25], [1.0, 1.0, 1.0])], "u array<double>, m array<double>"
    )
    row2 = df2.select(
        clamped_fold(F.col("u"), F.col("m")).alias("folded"),
        clamp(F.lit(1.0) + dot(F.col("u"), F.col("m"))).alias("dot_clamped"),
    ).collect()[0]
    assert row2.folded == 4.75  # clamp→5 then -0.25
    assert row2.dot_clamped == 5.0  # 1+9.75 clamped once
    assert row2.folded != row2.dot_clamped


def test_simhash_pigeonhole_recall_vs_all_pairs(spark):
    """Chunk blocking must find EXACTLY the pairs an all-pairs Hamming scan
    finds (pigeonhole guarantees 100% recall; the verify step kills false
    candidates)."""
    from itertools import combinations

    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        simhash,
        simhash_pairs,
    )

    rows = [
        (i, f"shared common prefix tokens here variant {i % 4} tail {i % 3}", "en", "s", 50)
        for i in range(1, 25)
    ]
    docs = _docs(spark, rows)
    sigs = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    expected = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=6, bits=32).collect()
    }
    assert got == expected
    assert len(expected) > 0  # fixture actually exercises near-dup pairs


def test_jaccard_stop_shingle_df_cap(spark):
    """A pathological shingle shared by EVERY doc must not drive quadratic
    pair emission: with max_df below the corpus size, docs whose only
    overlap is the stop-shingle produce no pair at all, while genuinely
    near-dup docs still match on their rarer shingles."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import jaccard_pairs

    boiler = "copyright footer all rights reserved"  # → shared shingles in every doc
    rows = [(i, f"unique body text number {i} item {i * 7} {boiler}", "en", "s", 60)
            for i in range(1, 41)]
    # two true near-dups sharing their whole body
    rows += [(100, "the quick brown fox jumps over the lazy dog today", "en", "s", 49),
             (101, "the quick brown fox jumps over the lazy dog today", "en", "s", 49)]
    docs = _docs(spark, rows)
    capped = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.3, max_df=10).collect()
    }
    assert (100, 101) in capped
    # boilerplate-only overlap (df=42 > max_df) emits no pairs among 1..40
    assert all(a >= 100 for a, b in capped), capped
    # uncapped twin DOES see the boilerplate pairs — the cap is load-bearing
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.3, max_df=10_000).collect()
    }
    assert any(a < 100 for a, b in uncapped)


def test_winnowing_shared_passage_guarantee(spark):
    """Winnowing (k=3, w=4): two docs sharing a run of >= w+k-1 = 6 tokens
    must share at least one fingerprint; disjoint-vocabulary docs share
    none."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.textops import (
        winnowing_fingerprints,
    )

    shared = "one two three four five six"  # exactly 6 shared tokens
    rows = [
        (1, f"aaa bbb {shared} ccc ddd", "en", "s", 0),
        (2, f"xxx yyy {shared} zzz www", "en", "s", 0),
        (3, "p q r s t u v w", "en", "s", 0),
    ]
    fps = winnowing_fingerprints(_docs(spark, rows), k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must yield a common fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


# ---------------------------------------------------------------------------
# Round-2 pipeline batch: sketches, packing, quantization, z-order layout
# ---------------------------------------------------------------------------


def test_cms_never_undercounts(spark, sf_dir):
    """CMS point estimates are >= the exact count for EVERY key (cells only
    inflate via collisions), and exact for keys with collision-free rows."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import cms_build, cms_estimate
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id", depth=4, width=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_estimate(sketch, exact.select("user_id"), "user_id", depth=4, width=64)
    joined = exact.join(est, "user_id").collect()
    assert len(joined) == exact.count()
    assert all(r.cms_est >= r.exact_n for r in joined)


def test_bloom_prune_no_false_negatives(spark, sf_dir):
    """Every probe row whose key is genuinely in the build set must pass the
    Bloom prune; pass-rate must beat no-pruning for a selective build side."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import bloom_positions, bloom_prune
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    build = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9500)
        .select("c_custkey")
    )
    probe = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = bloom_positions(build, "c_custkey")
    passed = bloom_prune(probe, pos, "o_custkey")
    true_match = probe.join(build, probe.o_custkey == build.c_custkey, "left_semi")
    n_probe, n_pass, n_true = probe.count(), passed.count(), true_match.count()
    # no false negatives: every true match also passes the filter
    missed = true_match.join(passed.select("o_orderkey"), "o_orderkey", "left_anti")
    assert missed.count() == 0
    assert n_true <= n_pass < n_probe  # filter actually prunes


def test_sequence_packing_invariants(spark, sf_dir):
    """Bins are capacity-aligned: a doc starting in bin b starts at an offset
    < capacity within it; spans_boundary iff the doc crosses a bin edge; and
    per-shard token mass is conserved."""
    import __spark_entry__ as m

    cap = 256
    rows = m.queries()["sequence_packing"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.end_bin >= r.start_bin
        # a doc spanning means it occupies >1 bin; a non-spanning doc fits in one
        assert r.spans_boundary == (r.end_bin != r.start_bin)
        if r.n_tokens > 0:
            # can't span more bins than its token count allows
            assert (r.end_bin - r.start_bin) <= (r.n_tokens // cap) + 1
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, 0)
        per_lang[r.lang] += r.n_tokens
    # every shard's final doc ends in bin floor((total-1)/cap)
    finals = {}
    for r in rows:
        if r.lang not in finals or r.doc_id > finals[r.lang][0]:
            finals[r.lang] = (r.doc_id, r.end_bin)
    for lang, (_, end_bin) in finals.items():
        assert end_bin == max(0, (per_lang[lang] - 1)) // cap


def test_int8_quant_error_bound(spark, sf_dir):
    """Affine int8 reconstruction error is bounded by (scale/2)^2 per
    dimension: avg mse <= ((range/255)/2)^2 for every label group."""
    import __spark_entry__ as m

    rows = m.queries()["embedding_int8_quant"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.avg_mse <= r.max_mse
        # embeddings are unit-ish gaussians: range < 10 → bound (10/255/2)^2
        assert r.max_mse < (10.0 / 255 / 2) ** 2


def test_zordered_write_skips_on_both_dims(spark, tmp_path):
    """Z-order layout: per-file footer min/max footprints must be selective
    on BOTH cluster columns (each file covers a small rectangle), which a
    single-column range sort cannot achieve for the second column."""
    import pyarrow.parquet as pq
    import glob as _glob

    from svdmovie_lens_parallel_apache_spark_spark.sources.writers import write_zordered

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 2654435761) % 128).alias("y"),  # decorrelated second dim
    )
    path = str(tmp_path / "zord")
    write_zordered(df, path, "x", "y", bits=7, n_files=16)

    spans_x, spans_y = [], []
    for f in _glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mn = {c: None for c in ("x", "y")}
        mx = {c: None for c in ("x", "y")}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                st = col.statistics
                if name in mn and st is not None:
                    mn[name] = st.min if mn[name] is None else min(mn[name], st.min)
                    mx[name] = st.max if mx[name] is None else max(mx[name], st.max)
        if mn["x"] is not None:
            spans_x.append(mx["x"] - mn["x"] + 1)
            spans_y.append(mx["y"] - mn["y"] + 1)
    assert len(spans_x) >= 8
    # each file is a rectangle far smaller than the full 128x128 domain on
    # BOTH dims (range-sort on x alone would leave y spans ~128)
    assert sum(spans_x) / len(spans_x) <= 64
    assert sum(spans_y) / len(spans_y) <= 64


def test_pagerank_is_a_distribution_and_ranks_heavy_types_first(spark, sf_dir):
    """Final ranks form a probability distribution (sum ~= 1 up to the
    per-iteration rounding) and every event-type hub outranks every user
    (types aggregate ~1/5 of all engagement each; users ~1/150)."""
    import __spark_entry__ as m

    rows = m.queries()["pagerank_bipartite"](spark, sf_dir).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-6
    type_ranks = [r.rank for r in rows if r.node.startswith("t:")]
    user_ranks = [r.rank for r in rows if r.node.startswith("u:")]
    assert type_ranks and user_ranks
    assert min(type_ranks) > max(user_ranks)


def test_substring_dedup_planted_span(spark):
    """A 20-token span planted verbatim in two otherwise-different docs
    must flag exactly that window in BOTH docs; unique docs stay clean;
    a doc repeating its own span counts the within-doc repeat; short
    docs (< window tokens) report zero windows un-flagged."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        substring_dup_stats,
    )

    span = " ".join(f"tok{i}" for i in range(20))
    uniq_a = " ".join(f"aaa{i}" for i in range(40))
    uniq_b = " ".join(f"bbb{i}" for i in range(40))
    uniq_c = " ".join(f"ccc{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{span} {uniq_a}"),          # planted span + 40 unique
            (2, f"{uniq_b} {span}"),          # span at a window boundary
            (3, uniq_c),                      # fully unique, 1 window
            (4, f"{uniq_c} {uniq_c}"),        # repeats ITSELF
            (5, "too short"),                 # < window tokens
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r for r in substring_dup_stats(docs, window=20).collect()
    }
    assert (rows[1].n_windows, rows[1].n_dup_windows) == (3, 1)
    assert (rows[2].n_windows, rows[2].n_dup_windows) == (3, 1)
    # doc 3's window text equals doc 4's repeated window -> corpus-wide
    # count is 3, so doc 3 IS flagged too (span-level semantics: the
    # span exists elsewhere) and doc 4 counts both of its copies
    assert (rows[3].n_windows, rows[3].n_dup_windows) == (1, 1)
    assert (rows[4].n_windows, rows[4].n_dup_windows) == (2, 2)
    assert rows[4].flagged and rows[3].flagged
    assert (rows[5].n_windows, rows[5].n_dup_windows) == (0, 0)
    assert not rows[5].flagged and rows[5].dup_win_frac == 0.0
    # docs 1/2: dup fraction 1/3 -> below the 0.5 flag
    assert not rows[1].flagged and not rows[2].flagged


def test_jaccard_prefix_filter_lossless(spark, sf_dir):
    """The prefix-filter variant must equal the UNCAPPED exact
    posting-list baseline bit-for-bit — the prefix filter's guarantee
    is zero recall loss at the threshold, unlike the max_df cap."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    # NULL-block docs form their own block in the baseline's groupBy;
    # the prefix variant must match there too (a plain equi-join on the
    # block key would silently drop them)
    nulls = spark.createDataFrame(
        [
            (9000001, "alpha beta gamma delta epsilon zeta", None),
            (9000002, "alpha beta gamma delta epsilon eta", None),
        ],
        "doc_id bigint, text string, lang string",
    )
    docs = docs.select("doc_id", "text", "lang").unionByName(nulls)
    exact = {
        tuple(r)
        for r in jaccard_pairs(docs, 0.5, 3, "lang", max_df=10**9).collect()
    }
    pref = {tuple(r) for r in jaccard_pairs_prefix(docs, 0.5, 3, "lang").collect()}
    assert pref == exact and len(pref) > 0
    assert any(a >= 9000001 for a, _, _ in pref)  # the NULL block paired


def test_kmeans_vectorized_equals_literal_assignment(spark, sf_dir):
    """The Arrow-batched argmin path (plan size constant in k — the
    100 TB form) must produce BIT-IDENTICAL assignments and centroids
    to the literal when-chain path at every iteration: same in-order
    dimension fold, same first-minimum tie rule. k=8/iters=2 — the
    catalog query's exact configuration, so this gate transfers the
    DuckDB oracle's pin onto the vectorized path. (The literal path
    cannot go much higher: its nested when-chain duplicates the running
    best per centroid — ~2^k expression nodes — and OOMs analysis
    around k≈13, which is WHY the vectorized path exists.)"""
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import kmeans_lloyd
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lit_df, lit_cents = kmeans_lloyd(emb, k=8, iters=2, assign="literal")
    vec_df, vec_cents = kmeans_lloyd(emb, k=8, iters=2, assign="vectorized")
    assert lit_cents == vec_cents  # updates replay identically
    lit = {r.vec_id: r.cid for r in lit_df.select("vec_id", "cid").collect()}
    vec = {r.vec_id: r.cid for r in vec_df.select("vec_id", "cid").collect()}
    assert lit == vec and len(lit) == emb.count()
    lit_df.unpersist()
    vec_df.unpersist()


def test_kmeans_vectorized_scales_in_k(spark, sf_dir):
    """k=256 must run through the vectorized path with a CONSTANT-size
    plan (one Python UDF node, no k-proportional expression tree) —
    the literal path dies on analysis/codegen blowup around k≈10².
    Assignment sanity: every cid is one of the surviving centroids and
    at least the k initial vectors self-assign distinctly."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import kmeans_lloyd
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import formatted_plan
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    import re

    emb = load_table(spark, sf_dir, "embeddings")
    df, cents = kmeans_lloyd(emb, k=256, iters=1, assign="vectorized")
    plan = formatted_plan(df)
    udf_nodes = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.MULTILINE)
    assert len(udf_nodes) == 1  # one UDF node, any k
    cids = {c for c, _ in cents}
    got = {r.cid for r in df.select("cid").distinct().collect()}
    assert got <= cids and len(got) > 128
    df.unpersist()


def test_kmeans_releases_iteration_broadcasts_and_hands_back_final(spark, sf_dir):
    """Broadcast lifecycle (100 TB hygiene): at SemDeDup-scale k each
    iteration's (k×dim) centroid matrix is tens of MB per executor —
    Lloyd's loop must unpersist every ITERATION broadcast once its
    means aggregation materialises, and hand the two resources that
    must outlive the returned DataFrame (the persisted source
    projection + the FINAL assignment's broadcast) to the caller via
    ``release=``. Releasing them after materialisation must not change
    results (unpersist only drops executor copies; the driver
    re-ships on re-execution)."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import kmeans_lloyd
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    handles: list = []
    df, cents = kmeans_lloyd(
        emb, k=8, iters=2, assign="vectorized", release=handles
    )
    # exactly the persisted projection + the final broadcast
    assert len(handles) == 2
    from pyspark.broadcast import Broadcast
    from pyspark.sql import DataFrame as _DF

    assert isinstance(handles[0], _DF) and handles[0].is_cached
    assert isinstance(handles[1], Broadcast)
    before = {r.vec_id: r.cid for r in df.select("vec_id", "cid").collect()}
    for h in handles:
        h.unpersist()
    assert not handles[0].is_cached
    # the released plan still recomputes identically (broadcast
    # re-ships, projection re-reads the source)
    after = {r.vec_id: r.cid for r in df.select("vec_id", "cid").collect()}
    assert before == after and len(before) == emb.count()
    # literal path: no broadcast to hand back, projection only
    handles2: list = []
    lit_df, _ = kmeans_lloyd(
        emb, k=8, iters=1, assign="literal", release=handles2
    )
    assert len(handles2) == 1 and isinstance(handles2[0], _DF)
    handles2[0].unpersist()


def test_kmeans_blas_assignment_equals_fold_paths(spark, sf_dir):
    """assign='blas' (one GEMM per chunk — the 10⁴–10⁵-centroid form)
    must produce the SAME ASSIGNMENTS and centroid trajectory as the
    fold-parity vectorized path on real-valued embeddings, at a k past
    the literal path's ceiling. Distances reassociate (not bit-equal);
    the gate is assignment equality — exact ties have measure zero on
    these inputs, which is why the mode is opt-in rather than the
    oracle-pinned default."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import kmeans_lloyd
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    h1: list = []
    h2: list = []
    vec_df, vec_cents = kmeans_lloyd(
        emb, k=64, iters=2, assign="vectorized", release=h1
    )
    blas_df, blas_cents = kmeans_lloyd(
        emb, k=64, iters=2, assign="blas", release=h2
    )
    # identical rounded-centroid trajectory => the update algebra saw
    # identical assignments at every iteration, not just the last
    assert vec_cents == blas_cents
    vec = {r.vec_id: r.cid for r in vec_df.select("vec_id", "cid").collect()}
    blas = {r.vec_id: r.cid for r in blas_df.select("vec_id", "cid").collect()}
    assert vec == blas and len(vec) == emb.count()
    for h in h1 + h2:
        h.unpersist()
