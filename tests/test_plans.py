"""Plan-shape assertions: the scale properties (pushdown, pruning,
broadcast, JVM-only hot path) must hold, not just the row values."""

from pyspark.sql import functions as F

import svdmovie_lens_parallel_apache_spark_spark.catalog_text  # noqa: F401 — populates REGISTRY
from svdmovie_lens_parallel_apache_spark_spark.catalog import REGISTRY
from svdmovie_lens_parallel_apache_spark_spark.plans.explain import (
    plan_summary,
    read_schema_columns,
)


def _plan(spark, sf_dir, name):
    return REGISTRY[name].builder(spark, sf_dir)


def test_filter_project_pushdown_and_pruning(spark, sf_dir):
    df = _plan(spark, sf_dir, "filter_project")
    s = plan_summary(df)
    assert s["pushed_filters"], "predicates must reach the parquet scan"
    cols = read_schema_columns(df)
    # only the referenced columns are read — no full-width scan
    assert set(cols) <= {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_tax", "l_returnflag",
    }
    assert "l_shipdate" not in cols


def test_q03_broadcasts_dimensions(spark, sf_dir):
    s = plan_summary(_plan(spark, sf_dir, "q03_shipping_priority"))
    assert s["broadcast_joins"] >= 1, "customer dim must broadcast"
    assert not s["has_python_udf"]


def test_q05_star_join_all_broadcast(spark, sf_dir):
    s = plan_summary(_plan(spark, sf_dir, "q05_local_supplier_volume"))
    # customer, supplier, nation, region all broadcast; orders side may
    # sort-merge or broadcast depending on stats — require ≥4 broadcasts.
    assert s["broadcast_joins"] >= 4
    assert not s["has_python_udf"]


def test_relational_suite_is_jvm_only(catalog_fingerprints):
    """No Python UDFs anywhere in the relational/text/dedup hot paths —
    everything is Catalyst expressions. Deliberate exceptions, all
    Arrow-batched (never row-at-a-time): multimodal codec boundary,
    grouped OLS, streaming stateful ops, and the ANN quantizer kernels
    (PQ encode / IVF cell assignment — vectorized NumPy argmin over
    broadcast codebooks, the textbook Arrow use case)."""
    for name, q in REGISTRY.items():
        if name.startswith(
            (
                "multimodal",
                "image_pixel",  # real PNG pixel codec — Arrow-batched by design
                "audio_pcm",    # real WAV/PCM codec — Arrow-batched by design
                "video_frame",  # real AVI/DIB codec — Arrow-batched by design
                "jpeg_roundtrip",  # real baseline JPEG codec — Arrow-batched by design
                "streaming",
                "als",
                "grouped_ols",
                "ann_pq",
                "ann_ivf",
                "ann_lsh_knn",  # Arrow matmul bucket keys; ann_lsh_buckets stays JVM
                # k-means assignment: Arrow argmin over a broadcast
                # centroid matrix — the literal-unrolled JVM twin dies
                # at k~13 (~2^k plan nodes), so Arrow IS the scale path
                "semantic_dedup_kmeans",
                "udtf_",  # Python UDTF extension-point demo — per-row by nature
            )
        ):
            continue
        # same plan_fingerprint pass, shared session-wide (see
        # conftest.catalog_fingerprints) — assertion unchanged
        assert not catalog_fingerprints[name]["python_udf"], name


def test_aggregations_are_two_phase(spark, sf_dir):
    """reduceByKey-equivalent: partial (map-side) + final aggregation with
    exactly one shuffle — the property that makes per-key stats scale."""
    s = plan_summary(_plan(spark, sf_dir, "q01_pricing_summary"))
    assert s["partial_agg"], "map-side partial aggregation missing"
    assert s["exchanges"] == 1

    s2 = plan_summary(_plan(spark, sf_dir, "per_key_stats_customer"))
    assert s2["partial_agg"] and s2["exchanges"] == 1


def test_top_revenue_broadcasts_customer(spark, sf_dir):
    s = plan_summary(_plan(spark, sf_dir, "top_revenue_customers"))
    assert s["broadcast_joins"] >= 1, "customer dim must broadcast"
    assert s["partial_agg"], "revenue agg must have a map-side partial phase"
    assert not s["has_python_udf"]


def test_range_band_join_is_broadcast_nested_loop(spark, sf_dir):
    s = plan_summary(_plan(spark, sf_dir, "range_band_join"))
    assert "BroadcastNestedLoopJoin" in s["nodes"], (
        "non-equi band join must broadcast the tiny band table, "
        "never shuffle/sort the fact side"
    )
    assert s["sortmerge_joins"] == 0


def test_doc_chunks_single_stage_no_shuffle(spark, sf_dir):
    # chunking is embarrassingly parallel: generate+explode+project, 0 exchanges
    s = plan_summary(_plan(spark, sf_dir, "doc_chunks"))
    assert s["exchanges"] == 0
    assert not s["has_python_udf"]


def test_q04_semi_join_shape(spark, sf_dir):
    """EXISTS decorrelation: a semi join (broadcast or shuffled — AQE picks
    by size), never a full join + distinct."""
    s = plan_summary(_plan(spark, sf_dir, "q04_order_priority"))
    assert "BroadcastHashJoin" in s["nodes"] or "SortMergeJoin" in s["nodes"]
    plan = __import__(
        "svdmovie_lens_parallel_apache_spark_spark.plans.explain", fromlist=["formatted_plan"]
    ).formatted_plan(_plan(spark, sf_dir, "q04_order_priority"))
    assert "LeftSemi" in plan
    assert s["partial_agg"]


def test_q07_q08_q09_dims_broadcast(spark, sf_dir):
    """The nation/customer/supplier/part/region dims must broadcast — the
    fact table shuffles at most once (orders join) + once for the agg."""
    for name, min_bc in (
        ("q07_volume_shipping", 4),
        ("q08_market_share", 5),
        ("q09_product_profit", 3),
    ):
        s = plan_summary(_plan(spark, sf_dir, name))
        assert s["broadcast_joins"] >= min_bc, (name, s["broadcast_joins"])
        assert not s["has_python_udf"]


def test_q16_distinct_agg_two_phase(spark, sf_dir):
    """count(DISTINCT) plans as the two-shuffle expand/partial pipeline,
    not a global repartition of raw rows."""
    s = plan_summary(_plan(spark, sf_dir, "q16_supplier_counts"))
    assert s["partial_agg"]
    assert s["broadcast_joins"] >= 1, "part dim must broadcast"


def test_q19_or_of_ands_stays_single_agg_pass(spark, sf_dir):
    s = plan_summary(_plan(spark, sf_dir, "q19_banded_revenue"))
    assert s["broadcast_joins"] >= 1
    assert s["exchanges"] <= 1, "scalar agg needs at most the final exchange"


def test_q21_semi_and_anti_self_joins(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import formatted_plan

    plan = formatted_plan(_plan(spark, sf_dir, "q21_sole_returner"))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_dedup_simhash_no_cartesian(spark, sf_dir):
    """Pigeonhole chunk blocking: candidate generation must be an equi-join
    on (chunk_idx, chunk_val) — no all-pairs scan node anywhere."""
    s = plan_summary(_plan(spark, sf_dir, "dedup_simhash"))
    assert "CartesianProduct" not in s["nodes"], s["nodes"]
    assert "BroadcastNestedLoopJoin" not in s["nodes"], s["nodes"]
    assert not s["has_python_udf"]


def test_dedup_jaccard_no_cartesian(spark, sf_dir):
    """Posting-list form with stop-shingle cap: shuffles + hash aggs plus a
    broadcast anti-join for the stop set — never a pairwise product."""
    s = plan_summary(_plan(spark, sf_dir, "dedup_jaccard_pairs"))
    assert "CartesianProduct" not in s["nodes"], s["nodes"]
    assert "BroadcastNestedLoopJoin" not in s["nodes"], s["nodes"]


def test_aqe_skew_join_mitigation_engages(spark):
    """The skewed-key story at 1000-executor scale must be TESTED, not
    described: with the session's AQE skew-join default on, a join against
    a pathologically skewed fact (one key = 75% of all rows) must be split
    at runtime. Thresholds are lowered to make test-sized partitions
    eligible — the mechanism, not the sizes, is what's asserted."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import executed_plan

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        fact = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(99_000).select(
                (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
            )
        )
        dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim, "k").select((F.col("v") + F.col("w")).alias("x"))
        assert len(j.collect()) == 399_000
        plan = executed_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead split the skewed partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Partition-layout story: a selective dim filter must prune fact
    PARTITIONS at runtime (DPP inserts a dynamicpruning subquery into the
    scan's PartitionFilters) — on 100 TB of date/tenant-partitioned data
    this is the difference between scanning one partition and all of them."""
    from pyspark.sql import functions as F

    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import formatted_plan

    d = str(tmp_path / "fact_part")
    spark.range(20_000).select(
        (F.col("id") % 5).alias("pk"), F.col("id").alias("v")
    ).write.partitionBy("pk").mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    # dim filter on a data column NOT derivable from the join key — only
    # runtime pruning can narrow the fact scan
    dim = spark.createDataFrame(
        [(0, "keep"), (1, "drop"), (2, "drop"), (3, "drop"), (4, "drop")],
        "pk long, tag string",
    ).where(F.col("tag") == "keep")
    j = fact.join(dim, "pk").agg(F.sum("v").alias("s"))
    plan = formatted_plan(j)
    assert "dynamicpruningexpression" in plan, plan


def test_bloom_prune_probe_never_shuffles(spark, sf_dir):
    """The Bloom membership test must be map-side only: the probe table's
    plan may broadcast the one-row bit array (BroadcastNestedLoopJoin) but
    must contain NO Exchange and NO shuffle join on the probe side."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import (
        bloom_positions,
        bloom_prune,
    )
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import plan_summary
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    build = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9500)
        .select("c_custkey")
    )
    probe = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pruned = bloom_prune(probe, bloom_positions(build, "c_custkey"), "o_custkey")
    s = plan_summary(pruned)
    # the only Exchange allowed is the build side's distinct-positions agg
    # collapsing to one row; the probe scan→filter path must be shuffle-free
    assert s["sortmerge_joins"] == 0
    assert not s["has_python_udf"]
    assert s["exchanges"] <= 2  # positions distinct + single-row collect agg


def test_cms_build_single_exchange(spark, sf_dir):
    """CMS construction is one partial-combined groupBy over (j, bucket):
    exactly one Exchange, map-side partial aggregation present."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import cms_build
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import plan_summary
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

    sk = cms_build(load_table(spark, sf_dir, "events").select("user_id"), "user_id")
    s = plan_summary(sk)
    assert s["exchanges"] == 1
    assert s["partial_agg"]
    assert not s["has_python_udf"]


def test_no_accidental_cartesian_anywhere(catalog_fingerprints):
    """Catalog-wide guard: no query may contain a CartesianProduct node
    unless it is on the explicit whitelist of INTENDED cross joins (all of
    which broadcast a tiny side: query sets, single-row aggregates/bit
    arrays, calendar grids, centroid tables). An un-whitelisted Cartesian
    is an accidental all-pairs — the classic 100 TB scale-killer."""
    INTENDED = (
        "knn_brute_cosine",      # broadcast query set x corpus (by design)
        "ann_pq_knn",            # broadcast LUT row x codes scan
        "ann_lsh",               # broadcast query set
        "ann_ivf",               # broadcast centroids
        "bloom_join_prune",      # single-row bit array + report assembly
        "gdpr_purge_audit",      # single-row count assembly
        "data_quality_audit",    # single-row count assembly
        "gap_fill_daily",        # broadcast 90-day calendar
        "pagerank_bipartite",    # broadcast single-row node count
        "quality_embedding_corr",# single-row moments
        "dedup_embedding_cosine",# broadcast hyperplane constants
        "key_skew_profile",      # single-row profile
        "unigram_lm_score",      # broadcast single-row total
        "movielens_replay",      # broadcast global mean row
        "recsys_eval_metrics",
        "global_error_metrics",
        "funk_clamped_predict",
        "als_top_recs",
        "multimodal",            # tiny synthetic side
        "streaming",             # micro-batch plans not built here
        "winsorized_stats",      # broadcast 5-row bounds table
    )
    # the CartesianProduct count per query comes from the session's ONE
    # shared catalog build (conftest.catalog_fingerprints) — identical
    # plan_fingerprint pass, so the assertion is unchanged while the
    # 224-query build is no longer repeated per test
    offenders = [
        name
        for name, fp in catalog_fingerprints.items()
        if not name.startswith(INTENDED) and fp["cartesian"]
    ]
    assert not offenders, f"accidental CartesianProduct in: {offenders}"


def test_aqe_splits_skewed_join_partition(spark):
    """The engine-native answer to join skew (before reaching for the
    manual salted join in operators/relational.py): AQE must detect the
    hot key's oversized shuffle partition at runtime and split it across
    tasks. A power-law fact (80% of rows on one key) joined to a uniform
    dim under sort-merge; post-execution plan must show the skew split
    AND the result must equal the closed-form expectation — proving the
    split changes the schedule, never the answer."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    n_fact, n_dim, mod = 500_000, 10_000, 9_999
    try:
        # thresholds scaled down so toy-SF shuffle bytes trip the same
        # decision a 100 TB hot key trips at the defaults (256MB/64MB)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        fact = spark.range(n_fact).select(
            F.when(F.col("id") % 10 < 8, F.lit(0))
            .otherwise(F.col("id") % mod + 1)
            .alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        dim = spark.range(n_dim).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        out = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v") + F.col("w")).alias("s"),
        )
        row = out.collect()[0]
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # runtime skew handling actually engaged: the join is marked and the
    # hot partition was read as multiple skew splits
    assert "SortMergeJoin(skew=true)" in plan, plan
    assert "skewed" in plan.split("skew=true", 1)[1], plan

    # and the answer is exactly the closed form (every fact row matches
    # one dim row; k=0 rows contribute w=0)
    exp_n = n_fact
    exp_s = sum(
        (i % 97) + (0 if i % 10 < 8 else 2 * (i % mod + 1)) for i in range(n_fact)
    )
    assert (row.n, row.s) == (exp_n, exp_s)


def test_spread_small_skips_only_shuffled_inputs(spark):
    """spread_small repartitions an under-parallel input unless a shuffle
    exchange already sets its parallelism: a broadcast exchange does not,
    and neither does the word 'Exchange' inside a filter literal."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.relational import spread_small

    target = spark.sparkContext.defaultParallelism
    assert target > 1
    one = spark.range(0, 100, numPartitions=1).withColumn(
        "s", F.concat(F.lit("E"), F.col("id").cast("string"))
    )

    behind_broadcast = one.join(F.broadcast(spark.range(0, 10, numPartitions=1)), "id")
    assert spread_small(behind_broadcast).rdd.getNumPartitions() == target

    hashed = spark.range(0, 100, numPartitions=2).groupBy(
        (F.col("id") % 7).alias("g")
    ).count()
    assert spread_small(hashed) is hashed

    literal = one.where(F.col("s") != "Exchange")
    assert "Exchange" in literal._jdf.queryExecution().sparkPlan().toString()
    assert spread_small(literal).rdd.getNumPartitions() == target
