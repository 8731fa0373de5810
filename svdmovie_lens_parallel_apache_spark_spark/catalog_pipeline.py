"""Catalog part 5: large-scale training-data pipeline operators —
sequence packing, weighted sampling, frequency/membership sketches,
PII redaction, embedding quantization, rolling range windows, skew
profiling, and Z-order clustering.

The reference (801-line RDD recommender, SVDMovieLensSparkJava.java) has
none of these; they are the 100 TB north-star additions (BASELINE.json):
the operators an LLM training-data pipeline runs between raw crawl and
tokenized shards. Everything hashes through the portable md5 family
(functions/hashing.py) and rounds through portable_round, so each query
has an exact DuckDB oracle that replays the algorithm bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import _R, _t, _ts, register
from .functions.hashing import (
    oracle_hash_sql,
    oracle_shingle_hash_sql,
    portable_hash64,
    shingle_hash,
)
from .functions.scalar import portable_round as _r
from .functions.text import token_count
from .functions.vectors import to_double
from .operators.sketches import bloom_positions, bloom_prune, cms_build, cms_estimate
from .session import scratch_dir
from .streaming.jobs import drain

# DuckDB twin of functions.text.tokens (single-space corpus; parity proven
# by the text_stats/doc_chunks oracles in catalog_text).
_TOKS = "list_filter(string_split(trim({src}), ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# Sequence packing — docs -> fixed-token-budget training bins
# ---------------------------------------------------------------------------

_PACK_CAP = 256


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len({_TOKS.format(src='text')}) AS INTEGER) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM t
    )
    SELECT lang, doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_CAP}.0) AS BIGINT) AS start_bin,
           CAST(floor(greatest(cum - 1, cum - n_tokens) / {_PACK_CAP}.0) AS BIGINT) AS end_bin,
           (CAST(floor((cum - n_tokens) / {_PACK_CAP}.0) AS BIGINT)
            <> CAST(floor(greatest(cum - 1, cum - n_tokens) / {_PACK_CAP}.0) AS BIGINT))
             AS spans_boundary
    FROM c
    """,
    tags=("pipeline", "packing", "window"),
    description="LLM sequence packing (GPT-style concat-and-chunk): docs are "
    f"concatenated per lang shard in doc_id order and cut into {_PACK_CAP}-token "
    "training bins; each doc gets its [start_bin, end_bin] span and a "
    "crosses-boundary flag. One window cumsum per shard — no driver loop, no "
    "sequential fold; at 100 TB each shard packs independently after a single "
    "shuffle on the shard key.",
)
def q_sequence_packing(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    start_bin = F.floor((F.col("cum") - F.col("n_tokens")) / float(_PACK_CAP)).cast("bigint")
    end_bin = F.floor(
        F.greatest(F.col("cum") - 1, F.col("cum") - F.col("n_tokens")) / float(_PACK_CAP)
    ).cast("bigint")
    return c.select(
        "lang",
        "doc_id",
        "n_tokens",
        start_bin.alias("start_bin"),
        end_bin.alias("end_bin"),
        (start_bin != end_bin).alias("spans_boundary"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_ES_SALT = 7
_ES_K = 5


@register(
    "weighted_sample_es",
    f"""
    WITH s AS (
      SELECT lang, doc_id, n_chars,
             -ln(({oracle_shingle_hash_sql('doc_id', _ES_SALT)} + 1) / 4294967296.0)
               / n_chars AS es_key
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rn
      FROM s
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
           {_R('es_key', 9)} AS es_key
    FROM r WHERE rn <= {_ES_K}
    """,
    tags=("pipeline", "sampling"),
    description="Weighted sampling without replacement (Efraimidis–Spirakis "
    "exponential race): per-doc key = -ln(u)/w with u a portable md5 uniform "
    f"and w = n_chars; the {_ES_K} smallest keys per lang win. One pass + a "
    "per-shard top-k window — the distributed-safe form of weighted reservoir "
    "sampling (no sequential reservoir state), quality-weighted corpus "
    "sampling at any scale.",
)
def q_weighted_sample_es(spark, sf_dir):
    from pyspark.sql import Window

    u = (shingle_hash(F.col("doc_id"), _ES_SALT) + 1).cast("double") / F.lit(2.0**32)
    s = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (-F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    # two-phase top-k: a lang shard can be arbitrarily large (a window sort
    # over PARTITION BY lang caps parallelism at n_langs); salting first
    # keeps every sort bounded and the global winners are unchanged — any
    # global top-k element is top-k within its own salt bucket too
    w_local = Window.partitionBy("lang", "salt").orderBy(
        F.asc("es_key"), F.asc("doc_id")
    )
    cand = (
        s.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(16)))
        .withColumn("rn", F.row_number().over(w_local))
        .where(F.col("rn") <= _ES_K)
        .drop("salt", "rn")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("es_key"), F.asc("doc_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _ES_K)
        .select("lang", "doc_id", "weight", _r(F.col("es_key"), 9).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 64


def _multiset_diff(a, b):
    """Rows whose multiplicity differs between ``a`` and ``b`` — the
    signed-count form of the exceptAll-both-ways equality gate: tag
    each side ±1, group by every column, keep groups whose signed sum
    is nonzero. EXACTLY the same emptiness as
    ``a.exceptAll(b).unionAll(b.exceptAll(a))`` (empty iff every row
    value has equal multiplicity on both sides; groupBy is NULL-safe
    exactly like exceptAll's comparison), but scans and aggregates
    each input ONCE instead of twice — the round-14 follow-up to the
    round-13 two-actions→one consolidation (guide §1.2: the gate is
    still one action, now over half the plan)."""
    cols = a.columns
    sign = "__msd_sign"
    return (
        a.withColumn(sign, F.lit(1))
        .unionAll(b.select(*cols).withColumn(sign, F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum(sign).alias(sign))
        .where(F.col(sign) != 0)
        .select(*cols)
    )


def _lang_fp(df):
    """Per-``lang`` fingerprint of a documents-shaped frame: row count,
    ``n_chars`` sum and the order-free ``text`` hash sum — the three
    columns the snapshot/stream oracles compare at atol=0."""
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(portable_hash64(F.col("text"))).cast("long").alias("text_fp"),
    )


def _file_replay(spark, frames, tag):
    """A file stream replaying ``frames`` as one micro-batch each: every
    frame is written as one parquet file under a fresh scratch dir (a short
    sleep between writes gives distinct mtimes, which fixes the batch
    order) and read back with ``maxFilesPerTrigger=1`` under
    ``frames[0]``'s schema."""
    import time

    src = scratch_dir(tag)
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _bucket_sql(key_expr: str, width: int) -> str:
    return (
        oracle_hash_sql(f"concat(CAST(j AS VARCHAR), '|', CAST({key_expr} AS VARCHAR))")
        + f" % {width}"
    )


@register(
    "heavy_hitters_cms",
    f"""
    WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
    c AS (
      SELECT j, {_bucket_sql('user_id', _CMS_W)} AS bucket FROM events CROSS JOIN js
    ),
    cells AS (
      SELECT j, bucket, CAST(count(*) AS BIGINT) AS cell_n FROM c GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM events GROUP BY 1
    ),
    top AS (SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT 10),
    probe AS (
      SELECT user_id, exact_n, j, {_bucket_sql('user_id', _CMS_W)} AS bucket
      FROM top CROSS JOIN js
    ),
    est AS (
      SELECT user_id, exact_n, min(cell_n) AS cms_est
      FROM probe JOIN cells USING (j, bucket) GROUP BY 1, 2
    )
    SELECT user_id, exact_n, cms_est, cms_est - exact_n AS overcount FROM est
    """,
    tags=("pipeline", "sketch", "approx"),
    description=f"Count-min sketch heavy hitters: a {_CMS_D}x{_CMS_W}-cell CMS "
    "(memory O(d*w) REGARDLESS of key cardinality — the always-fits frequency "
    "summary at 100 TB) built in one groupBy, then the exact top-10 users "
    "point-queried against it. Estimate = min over d cells; overcount >= 0 "
    "always (collisions only inflate). The oracle replays every cell "
    "bit-for-bit via the portable hash family.",
)
def q_heavy_hitters_cms(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id", _CMS_D, _CMS_W)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(10)
    est = cms_estimate(sketch, top.select("user_id"), "user_id", _CMS_D, _CMS_W)
    return top.join(est, "user_id").select(
        "user_id",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_NUM_RE = "[0-9]+"


@register(
    "pii_redaction",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '""" + _EMAIL_RE + """')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '""" + _NUM_RE + """')) AS INTEGER) AS n_numbers,
           md5(regexp_replace(regexp_replace(text, '""" + _EMAIL_RE + """', '<EMAIL>', 'g'),
                              '""" + _NUM_RE + """', '<NUM>', 'g')) AS redacted_md5
    FROM documents
    """,
    tags=("pipeline", "text", "redaction"),
    description="PII scrub pass: emails then digit runs replaced with typed "
    "placeholder tokens, per-doc match counts emitted, and the redacted text "
    "fingerprinted (md5) so the oracle verifies the EXACT redacted bytes, not "
    "just counts. Pure JVM regex expressions — whole-stage codegen, no UDFs; "
    "patterns are RE2/Java-regex common subset so both engines agree.",
)
def q_pii_redaction(spark, sf_dir):
    text = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(text, _EMAIL_RE, "<EMAIL>"), _NUM_RE, "<NUM>"
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(text, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text, F.lit(_NUM_RE)).alias("n_numbers"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------

_QUANT_ERR = (
    "(x - (mn + floor((x - mn) / sc + 0.5) * sc))"
    " * (x - (mn + floor((x - mn) / sc + 0.5) * sc))"
)


@register(
    "embedding_int8_quant",
    f"""
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    s AS (
      SELECT label, vec,
             list_aggregate(vec, 'min') AS mn, list_aggregate(vec, 'max') AS mx
      FROM v
    ),
    p AS (
      SELECT label, vec, mn,
             CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS sc
      FROM s
    ),
    e AS (
      SELECT label,
             list_reduce(list_transform(vec, x -> {_QUANT_ERR}), (a, b) -> a + b)
               / len(vec) AS mse
      FROM p
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           {_R('CAST(sum(CAST(mse AS DECIMAL(18,12))) AS DOUBLE) / count(*)', 9)} AS avg_mse,
           {_R('max(mse)', 9)} AS max_mse
    FROM e GROUP BY label
    """,
    tags=("pipeline", "embedding", "quantization"),
    description="Per-vector int8 affine quantization (min/max range, 255 "
    "levels — 4x embedding storage cut for ANN shortlists) with exact "
    "reconstruction-MSE accounting per label. All array math is sequential "
    "JVM folds (bit-reproducible vs DuckDB list_reduce); the per-label mean "
    "accumulates in DECIMAL so it is order-independent at any parallelism.",
)
def q_embedding_int8_quant(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select("label", to_double(F.col("embedding")).alias("vec"))
    s = v.select(
        "label", "vec", F.array_min("vec").alias("mn"), F.array_max("vec").alias("mx")
    )
    p = s.select(
        "label",
        "vec",
        "mn",
        F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
        .otherwise((F.col("mx") - F.col("mn")) / 255.0)
        .alias("sc"),
    )

    def sq_err(x):
        rec = F.col("mn") + F.floor((x - F.col("mn")) / F.col("sc") + 0.5) * F.col("sc")
        return (x - rec) * (x - rec)

    e = p.select(
        "label",
        (
            F.aggregate(
                F.transform(F.col("vec"), sq_err), F.lit(0.0), lambda a, b: a + b
            )
            / F.size("vec")
        ).alias("mse"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _r(
            F.sum(F.col("mse").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_mse"),
        _r(F.max("mse"), 9).alias("max_mse"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K, _BLOOM_BAL = 2048, 3, 9500


def _bloom_pos_sql(j: int, key_expr: str) -> str:
    return (
        oracle_hash_sql(f"concat('{j}', '|', CAST({key_expr} AS VARCHAR))")
        + f" % {_BLOOM_M}"
    )


@register(
    "bloom_join_prune",
    f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL}
    ),
    js AS (SELECT unnest([0, 1, 2]) AS j),
    bits AS (
      SELECT DISTINCT j,
             {oracle_hash_sql("concat(CAST(j AS VARCHAR), '|', CAST(c_custkey AS VARCHAR))")}
               % {_BLOOM_M} AS pos
      FROM build CROSS JOIN js
    ),
    pass AS (
      SELECT o_orderkey FROM orders
      WHERE EXISTS (SELECT 1 FROM bits WHERE j = 0 AND pos = {_bloom_pos_sql(0, 'o_custkey')})
        AND EXISTS (SELECT 1 FROM bits WHERE j = 1 AND pos = {_bloom_pos_sql(1, 'o_custkey')})
        AND EXISTS (SELECT 1 FROM bits WHERE j = 2 AND pos = {_bloom_pos_sql(2, 'o_custkey')})
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_probe,
      (SELECT CAST(count(*) AS BIGINT) FROM pass)   AS n_bloom_pass,
      (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM build)) AS n_true_match,
      (SELECT CAST(count(*) AS BIGINT) FROM pass)
        - (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM build)) AS n_false_pos
    """,
    tags=("pipeline", "sketch", "join-prune"),
    description=f"Bloom-filter join pruning: a {_BLOOM_M}-bit/{_BLOOM_K}-hash "
    "filter over the (rich-customer) build keys collapses to ONE broadcast "
    "row; the orders probe tests membership entirely map-side — no shuffle of "
    "the fact table — before any exact join. No false negatives by "
    "construction; the single-row report counts probe/pass/true/false-positive "
    "so the pruning power is itself hash-gated. Manual portable twin of "
    "spark.sql.optimizer.runtime.bloomFilter join pruning.",
)
def q_bloom_join_prune(spark, sf_dir):
    build = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > _BLOOM_BAL)
        .select("c_custkey")
    )
    pos = bloom_positions(build, "c_custkey", _BLOOM_M, _BLOOM_K)
    probe = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    passed = bloom_prune(probe, pos, "o_custkey", _BLOOM_M, _BLOOM_K)
    true_match = probe.join(
        build, probe.o_custkey == build.c_custkey, "left_semi"
    )
    return (
        probe.agg(F.count(F.lit(1)).alias("n_probe"))
        .crossJoin(passed.agg(F.count(F.lit(1)).alias("n_bloom_pass")))
        .crossJoin(true_match.agg(F.count(F.lit(1)).alias("n_true_match")))
        .select(
            "n_probe",
            "n_bloom_pass",
            "n_true_match",
            (F.col("n_bloom_pass") - F.col("n_true_match")).alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling event-time range window
# ---------------------------------------------------------------------------


@register(
    "rolling_window_1h",
    f"""
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
      FROM events
    )
    SELECT event_id, user_id, epoch_s,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           {_R('CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)', 3)} AS val_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
    tags=("pipeline", "window", "time-series"),
    description="Per-user rolling 1-hour event count + value sum via a RANGE "
    "window frame over epoch seconds — the event-time feature primitive "
    "(rate limits, activity features) without self-joins. RANGE (not ROWS) "
    "frames make tie handling deterministic; the windowed sum accumulates in "
    "DECIMAL so results are order-independent within the frame.",
)
def q_rolling_window_1h(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("epoch_s"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        _r(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 3
        ).alias("val_1h"),
    )


# ---------------------------------------------------------------------------
# Key-skew profiling
# ---------------------------------------------------------------------------


@register(
    "key_skew_profile",
    f"""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT)   AS n_rows,
           CAST(max(n) AS BIGINT)   AS max_n,
           CAST(min(n) AS BIGINT)   AS min_n,
           {_R('avg(n)', 6)}        AS avg_n,
           {_R('CAST(max(n) AS DOUBLE) / sum(n)', 9)} AS top1_share
    FROM k
    """,
    tags=("pipeline", "profiling", "skew"),
    description="Partition-key skew profile: per-key counts reduced to the "
    "shuffle-planning numbers (key cardinality, max/min/mean occupancy, "
    "heaviest key's share). The pre-flight check that decides salting / AQE "
    "skew handling before a 100 TB join — two cheap aggregations, no data "
    "movement beyond the keyed count.",
)
def q_key_skew_profile(spark, sf_dir):
    k = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
        _r(F.avg("n"), 6).alias("avg_n"),
        _r(F.max("n").cast("double") / F.sum("n"), 9).alias("top1_share"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering
# ---------------------------------------------------------------------------

_Z_BITS = 10


def _morton_sql(x_expr: str, y_expr: str) -> str:
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(((({x_expr}) >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"(((({y_expr}) >> {b}) & 1) << {2 * b})")
    return " | ".join(terms)


# morton_col lives with the layout operators (operators/bucketing.py);
# re-exported here next to its DuckDB twin _morton_sql
from .operators.bucketing import morton_col  # noqa: E402


@register(
    "zorder_cells",
    f"""
    WITH m AS (
      SELECT ({_morton_sql('o_custkey % 1024',
                           'CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) % 1024')})
               AS z
      FROM orders
    )
    SELECT (z >> 8) AS cell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(z) AS BIGINT) AS z_min,
           CAST(max(z) AS BIGINT) AS z_max
    FROM m GROUP BY 1
    """,
    tags=("pipeline", "layout", "zorder"),
    description="Z-order (Morton) clustering codes over (customer, order-day): "
    "bit-interleave both dimensions into one sort key so range-partitioned "
    "files get TIGHT min/max footprints on BOTH columns — parquet/iceberg "
    "file skipping works for either predicate, the multi-dimensional layout "
    "trick behind Delta/Iceberg OPTIMIZE ZORDER. Pure bitwise exprs, "
    "bit-identical in the oracle; the actual clustered writer + footer-stats "
    "assertion lives in sources/writers.py::write_zordered + tests.",
)
def q_zorder_cells(spark, sf_dir):
    x = F.col("o_custkey") % 1024
    day = F.floor(F.col("o_orderdate").cast("timestamp").cast("long") / 86400)
    y = day.cast("bigint") % 1024
    z = morton_col(x, y)
    return (
        _t(spark, sf_dir, "orders")
        .select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 8).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM document scoring (perplexity-style quality signal)
# ---------------------------------------------------------------------------


@register(
    "unigram_lm_score",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(src='lower(text)')}) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n_t FROM toks GROUP BY 1
    ),
    total AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM vocab),
    scored AS (
      SELECT doc_id,
             {_R('-ln(CAST(n_t AS DOUBLE) / n)', 9)} AS nll
      FROM toks JOIN vocab USING (term), total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {_R('CAST(sum(CAST(nll AS DECIMAL(18,9))) AS DOUBLE) / count(*)', 6)} AS avg_nll
    FROM scored GROUP BY doc_id
    """,
    tags=("pipeline", "text", "quality", "lm"),
    description="Unigram language-model scoring: corpus token frequencies -> "
    "per-doc mean negative log-likelihood (the cheap perplexity proxy used to "
    "filter gibberish / off-distribution text before training). Two shuffles "
    "(vocab count, per-doc agg); per-token NLLs are portable-rounded then "
    "DECIMAL-accumulated so the per-doc mean is order-independent. At 100 TB "
    "the vocab join shuffles on term — Zipf skew is bounded because the hot "
    "terms are few and the join is agg-side partial-combined.",
)
def q_unigram_lm_score(spark, sf_dir):
    from .functions.text import tokens as _tokens

    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("term"))
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    total = vocab.agg(F.sum("n_t").alias("n"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _r(-F.log(F.col("n_t").cast("double") / F.col("n")), 9).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        _r(
            F.sum(F.col("nll").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )


@register(
    "bigram_lm_score",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS.format(src='lower(text)')} AS toks FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(toks) + 1), i -> toks[i - 1])) AS prev,
             unnest(list_transform(range(2, len(toks) + 1), i -> toks[i]))     AS cur
      FROM t
    ),
    uni AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n_t
      FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1
    ),
    total AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM uni),
    bg AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS n_bc FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT prev, CAST(count(*) AS BIGINT) AS n_ctx FROM pairs GROUP BY 1),
    scored AS (
      SELECT doc_id,
             {_R('-ln(0.7 * (CAST(n_bc AS DOUBLE) / n_ctx) + 0.3 * (CAST(n_t AS DOUBLE) / n))', 9)} AS nll
      FROM pairs
      JOIN bg USING (prev, cur)
      JOIN ctx USING (prev)
      JOIN uni ON uni.term = pairs.cur, total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           {_R('CAST(sum(CAST(nll AS DECIMAL(18,9))) AS DOUBLE) / count(*)', 6)} AS avg_nll
    FROM scored GROUP BY doc_id
    """,
    tags=("pipeline", "text", "quality", "lm"),
    description="Interpolated bigram language-model scoring (CCNet-style "
    "perplexity-proxy quality filter, one order up from unigram_lm_score): "
    "P(cur|prev) = 0.7·MLE_bigram + 0.3·MLE_unigram over corpus counts; per-doc "
    "mean NLL over bigram positions. Bigrams come from ONE lag window per doc "
    "(posexplode + lag — no array duplication per position, no self-join); counts "
    "are two hash aggs; the scoring joins shuffle on prev/bigram with map-side "
    "partials (Zipf-hot heads are few). Per-position NLLs are portable-rounded "
    "then DECIMAL-accumulated, so the per-doc mean is order-independent at any "
    "parallelism.",
)
def q_bigram_lm_score(spark, sf_dir):
    from pyspark.sql import Window

    from .functions.text import tokens as _tokens

    pos = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(_tokens(F.lower(F.col("text")))).alias("pos", "cur"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        pos.withColumn("prev", F.lag("cur").over(w))
        .where(F.col("prev").isNotNull())
        .select("doc_id", "prev", "cur")
    )
    uni = pos.groupBy(F.col("cur").alias("term")).agg(F.count(F.lit(1)).alias("n_t"))
    total = uni.agg(F.sum("n_t").alias("n"))
    bg = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n_bc"))
    ctx = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("n_ctx"))
    scored = (
        pairs.join(bg, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni, pairs["cur"] == uni["term"])
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _r(
                -F.log(
                    F.lit(0.7) * (F.col("n_bc").cast("double") / F.col("n_ctx"))
                    + F.lit(0.3) * (F.col("n_t").cast("double") / F.col("n"))
                ),
                9,
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        _r(
            F.sum(F.col("nll").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (inject-then-redact, fully deterministic)
# ---------------------------------------------------------------------------

# Patterns chosen inside the Java-regex ∩ RE2 common subset so Spark and
# DuckDB match byte-identically: no backrefs, no lookaround, POSIX classes.
_PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PII_PHONE_RE = "\\+1-555-[0-9]{4}"


@register(
    "pii_scrub",
    f"""
    WITH injected AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 5 = 0
                    THEN ' contact ' || substr(md5(text), 1, 8) || '@example.com'
                    ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                    THEN ' call +1-555-' ||
                         lpad(CAST(CAST('0x' || substr(md5(md5(text)), 1, 4) AS INTEGER)
                                   % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_fp
    FROM injected
    """,
    tags=("pipeline", "text", "pii", "redaction"),
    description="PII redaction (Dolma/RefinedWeb-style scrub before training): "
    "deterministic synthetic emails/phones are injected into a known doc subset "
    "(the fixture has none), then redacted with regexes drawn from the "
    "Java-regex ∩ RE2 common subset; emits per-doc match counts plus the md5 "
    "fingerprint of the scrubbed text, so the oracle hash-verifies the exact "
    "redacted bytes. Pure JVM regexp_replace/regexp_count — one scan, no "
    "shuffle, trivially linear at 100 TB.",
)
def q_pii_scrub(spark, sf_dir):
    # 4 decimal digits derived from md5 hex (hex chars a-f would not match
    # the [0-9]{4} phone pattern) — identical conv/lpad arithmetic in the oracle
    digits = F.lpad(
        (F.conv(F.substring(F.md5(F.md5(F.col("text"))), 1, 4), 16, 10).cast("int") % 10000)
        .cast("string"),
        4,
        "0",
    )
    injected = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact "),
                    F.substring(F.md5(F.col("text")), 1, 8),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.lit(" call +1-555-"), digits)
            ).otherwise(""),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "<EMAIL>"),
        _PII_PHONE_RE,
        "<PHONE>",
    )
    return injected.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


@register(
    "corpus_build_manifest",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
      FROM t
    ),
    posts AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    kept_sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM posts)
      WHERE df <= 1000
    ),
    bench_sh AS (
      SELECT doc_id, shingle FROM kept_sh
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0
    ),
    corpus_sh AS (
      SELECT doc_id, shingle FROM kept_sh
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 <> 0
    ),
    contam AS (
      SELECT DISTINCT doc_id FROM (
        SELECT c.doc_id AS doc_id, b.doc_id AS bdoc
        FROM corpus_sh c JOIN bench_sh b USING (shingle)
        GROUP BY 1, 2 HAVING count(*) >= 3)
    ),
    corpus AS (
      SELECT * FROM documents
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 <> 0
    ),
    clean AS (
      SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(lower(trim(text)))
    ),
    kept AS (SELECT * FROM clean WHERE doc_id IN (SELECT doc_id FROM keepers)),
    raw_stats AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM corpus GROUP BY 1),
    cont_stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM corpus WHERE doc_id IN (SELECT doc_id FROM contam) GROUP BY 1
    ),
    kept_stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(len(list_filter(string_split(trim(text), ' '), x -> x <> '')))
                  AS BIGINT) AS n_tokens
      FROM kept GROUP BY 1
    ),
    m AS (
      SELECT r.source, r.n_raw,
             CAST(coalesce(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
             CAST(r.n_raw - coalesce(c.n_contaminated, 0) - coalesce(k.n_kept, 0)
                  AS BIGINT) AS n_dup_removed,
             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
             sqrt(CAST(coalesce(k.n_tokens, 0) AS DOUBLE)) AS w_raw
      FROM raw_stats r
      LEFT JOIN cont_stats c USING (source)
      LEFT JOIN kept_stats k USING (source)
    )
    SELECT source, n_raw, n_contaminated, n_dup_removed, n_kept,
           floor((w_raw / sum(w_raw) OVER ()) * 1e6 + 0.5) / 1e6 AS weight,
           CAST(floor((0.5 * (sum(n_kept) OVER ()))
                      * (w_raw / sum(w_raw) OVER ())) AS BIGINT) AS quota
    FROM m
    """,
    tags=("pipeline", "capstone", "decontamination", "dedup", "mixture"),
    description="Corpus-build manifest — the per-source funnel accounting a 100 TB "
    "pretraining build reports: corpus split (bench held out) → benchmark "
    "decontamination (≥3 shared capped shingles with any bench doc) → exact dedup "
    "keep-min → per-source survivors/token mass → sqrt-temperature mixture weights "
    "and doc quotas for a 50% budget. Composes ngram_collision_pairs, "
    "exact_dedup_groups and the mixture math in ONE lineage; the corpus side never "
    "shuffles for the contamination join (bench side broadcast), dedup is one "
    "hash-groupBy, the mixture window has #sources cardinality. Oracle replays the "
    "full chain.",
)
def q_corpus_build_manifest(spark, sf_dir):
    from pyspark.sql import Window

    from .functions.hashing import portable_hash64
    from .functions.text import token_count
    from .operators.dedup import ngram_collision_pairs

    docs = _t(spark, sf_dir, "documents")
    bench_cond = portable_hash64(F.col("doc_id")) % 20 == 0
    corpus = docs.where(~bench_cond)
    contaminated = (
        ngram_collision_pairs(docs, bench_cond, n=3, min_shared=3, max_df=1000)
        .select(F.col("corpus_doc_id").alias("doc_id"))
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    keepers = clean.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = clean.join(keepers.select("doc_id"), "doc_id", "left_semi")
    raw_stats = corpus.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    cont_stats = (
        corpus.join(contaminated, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    m = (
        raw_stats.join(cont_stats, "source", "left")
        .join(kept_stats, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("bigint").alias("n_raw"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias("n_contaminated"),
            (
                F.col("n_raw")
                - F.coalesce(F.col("n_contaminated"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_dup_removed"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.sqrt(F.coalesce(F.col("n_tokens"), F.lit(0)).cast("double")).alias("w_raw"),
        )
    )
    w_all = Window.partitionBy()
    weight = F.col("w_raw") / F.sum("w_raw").over(w_all)
    total_kept = F.sum("n_kept").over(w_all)
    return m.select(
        "source",
        "n_raw",
        "n_contaminated",
        "n_dup_removed",
        "n_kept",
        _r(weight, 6).alias("weight"),
        # association order pinned to the oracle: (0.5*total) * (w_raw/sum)
        F.floor((F.lit(0.5) * total_kept) * weight).cast("bigint").alias("quota"),
    )


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE round: bigram counts over t{i-1}, argmax with
    (count DESC, pair ASC) tie-break, then the left-to-right non-overlapping
    space-bounded replace producing t{i}."""
    prev, cur = f"t{i - 1}", f"t{i}"
    return f"""
    p{i} AS (
      SELECT unnest(list_transform(range(2, len(toks) + 1),
                                   j -> toks[j - 1] || ' ' || toks[j])) AS pair
      FROM (SELECT list_filter(string_split(trim(t), ' '), x -> x <> '') AS toks
            FROM {prev})
    ),
    b{i} AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p{i}
      GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1
    ),
    {cur} AS (
      SELECT doc_id,
             ' ' || trim(replace(t,
                 ' ' || (SELECT pair FROM b{i}) || ' ',
                 ' ' || replace((SELECT pair FROM b{i}), ' ', '_') || ' ')) || ' ' AS t
      FROM {prev}
    )"""


@register(
    "bpe_merge_rounds",
    f"""
    WITH t0 AS (
      SELECT doc_id, ' ' || lower(trim(text)) || ' ' AS t FROM documents
    ),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT 1 AS round, pair AS merged_pair, n AS n_occurrences FROM b1
    UNION ALL SELECT 2, pair, n FROM b2
    UNION ALL SELECT 3, pair, n FROM b3
    """,
    tags=("pipeline", "tokenizer", "bpe", "iterative"),
    description="BPE merge training (3 rounds) — the tokenizer-training primitive: "
    "each round counts adjacent token pairs corpus-wide, merges the most frequent "
    "(ties broken lexicographically) by joining the pair with '_', and re-tokenises. "
    "Iterative driver loop over DataFrames (the CC-fixpoint pattern: one 1-row "
    "collect per round, pair counting via the lag-window bigram shape — no array "
    "duplication, map-side partial aggs). Merge application is a space-bounded "
    "left-to-right non-overlapping string replace, a semantics both engines share "
    "verbatim, so the oracle (3 unrolled CTE rounds) replays the SAME semantics. "
    "Known deviation from canonical BPE, shared by both engines: n_occurrences "
    "is the OVERLAPPING adjacent-pair count, while the space-bounded string "
    "replace applies merges NON-overlapping left-to-right and the consumed "
    "boundary space blocks the next match — a run ' a a a a ' counts 3 "
    "'a a' pairs, canonical BPE merges 2, this replace merges 1. Counts "
    "therefore overstate applied merges on boundary-sharing runs; training "
    "deviates from canonical BPE there (documented, not hidden). At "
    "100 TB each round is one shuffle on pair + one broadcast scalar — classic "
    "iterative-Spark; real tokenizers run ~30-50k rounds on a bounded corpus "
    "SAMPLE, which this shape serves unchanged.",
)
def q_bpe_merge_rounds(spark, sf_dir):
    merges, _ = _bpe_train(spark, sf_dir, rounds=3)
    return spark.createDataFrame(
        merges, schema="round int, merged_pair string, n_occurrences bigint"
    )


def _bpe_train(spark, sf_dir, rounds: int = 3, round_times: list | None = None):
    """The BPE training loop shared by the merge-table and encode queries:
    returns ([(round, pair, count)], final space-tokenised corpus DF).

    ``round_times`` (optional, mutated) collects per-round wall seconds —
    the depth-rehearsal evidence that cost per merge round stays FLAT as
    rounds accumulate (localCheckpoint truncates lineage each round, so
    round 50 pays the same one pair-count shuffle + one bounded limit(1)
    collect as round 1; SCALING.json["bpe_depth"] records it and
    tests/test_scale_ops.py gates it)."""
    import time as _time

    from pyspark.sql import Window

    txt = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" ")).alias("t")
    )
    out = []
    w = Window.partitionBy("doc_id").orderBy("pos")
    for r in range(1, rounds + 1):
        _t0 = _time.time()
        toks = F.filter(F.split(F.trim(F.col("t")), " "), lambda x: x != "")
        pos = txt.select("doc_id", F.posexplode(toks).alias("pos", "cur"))
        pairs = (
            pos.withColumn("prev", F.lag("cur").over(w))
            .where(F.col("prev").isNotNull())
            .select(F.concat_ws(" ", "prev", "cur").alias("pair"))
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()[0]
        )
        out.append((r, best["pair"], int(best["n"])))
        merged = best["pair"].replace(" ", "_")
        txt = txt.select(
            "doc_id",
            F.concat(
                F.lit(" "),
                F.trim(F.replace(F.col("t"), F.lit(f" {best['pair']} "), F.lit(f" {merged} "))),
                F.lit(" "),
            ).alias("t"),
        ).localCheckpoint(eager=True)  # truncate lineage per round, like the CC loop
        if round_times is not None:
            round_times.append(round(_time.time() - _t0, 3))
    return out, txt


@register(
    "bpe_encode_tokens",
    f"""
    WITH t0 AS (
      SELECT doc_id, ' ' || lower(trim(text)) || ' ' AS t FROM documents
    ),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT t0.doc_id,
           CAST(len(list_filter(string_split(trim(t0.t), ' '), x -> x <> ''))
                AS INTEGER) AS n_tokens_raw,
           CAST(len(list_filter(string_split(trim(t3.t), ' '), x -> x <> ''))
                AS INTEGER) AS n_tokens_bpe
    FROM t0 JOIN t3 ON t0.doc_id = t3.doc_id
    """,
    tags=("pipeline", "tokenizer", "bpe"),
    description="BPE ENCODE — apply the 3 learned merges back to the corpus and "
    "report per-doc token counts before/after (the compression accounting a "
    "tokenizer change ships with). Same training loop as bpe_merge_rounds, then "
    "one per-doc split-count; the oracle replays training AND encoding through "
    "the identical unrolled rounds.",
)
def q_bpe_encode_tokens(spark, sf_dir):
    from .functions.text import token_count

    _, encoded = _bpe_train(spark, sf_dir, rounds=3)
    raw = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.lower(F.trim(F.col("text")))).cast("int").alias("n_tokens_raw")
    )
    bpe = encoded.select(
        "doc_id",
        F.size(F.filter(F.split(F.trim(F.col("t")), " "), lambda x: x != ""))
        .cast("int")
        .alias("n_tokens_bpe"),
    )
    return raw.join(bpe, "doc_id")


@register(
    "recsys_quality_gate",
    """
    SELECT CAST(16 AS INTEGER) AS rank, TRUE AS mae_beats_mean, TRUE AS rmse_beats_mean
    """,
    tags=("recsys", "als", "gate", "ml"),
    description="Model-quality regression gate for the ALS surface (the recall_ok "
    "pattern applied to training): fit rank-16 ALS on the deterministic 80/20 hash "
    "holdout of a DENSE scale-independent low-rank block (50 users × 200 items, "
    "same generative structure as the bench fixture — the events-derived pairs "
    "give ~5 ratings/user at sf≤0.01, unlearnable for any factor model), evaluate "
    "held-out MAE/RMSE against the predict-the-training-mean baseline, and pin "
    "'beats 0.8× baseline' booleans the oracle asserts TRUE. The gate trips only "
    "on genuine training collapse; MLlib's internal factor values stay out of the "
    "hashed surface. Full prediction tables remain available via als_top_recs / "
    "movielens_replay (rows-only by design).",
)
def q_recsys_quality_gate(spark, sf_dir):
    from .functions.hashing import portable_hash64
    from .recsys import ALSConfig, dense_low_rank_block, evaluate, predict, train_als

    ratings = dense_low_rank_block(spark, n_users=50, n_items=200)
    split_key = F.concat(
        F.col("user_id").cast("string"), F.lit("|"), F.col("item_id").cast("string"),
        F.lit("|split"),
    )
    is_test = portable_hash64(split_key) % 10 >= 8
    train = ratings.where(~is_test).cache()
    test = ratings.where(is_test).cache()
    model = train_als(train, ALSConfig(rank=16, max_iter=5))
    m = evaluate(predict(model, test))
    mean = float(train.agg(F.avg("rating")).collect()[0][0])
    base = evaluate(test.withColumn("prediction", F.lit(mean)))
    train.unpersist()
    test.unpersist()
    return spark.createDataFrame(
        [(16, bool(m["mae"] < 0.8 * base["mae"]), bool(m["rmse"] < 0.8 * base["rmse"]))],
        schema="rank int, mae_beats_mean boolean, rmse_beats_mean boolean",
    )


# ---------------------------------------------------------------------------
# GDPR purge cascade audit
# ---------------------------------------------------------------------------

_PURGE_MOD = 97


@register(
    "gdpr_purge_audit",
    f"""
    WITH tomb AS (
      SELECT c_custkey AS key FROM customer WHERE c_custkey % {_PURGE_MOD} = 0
    ),
    ev_tomb AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {_PURGE_MOD} = 0
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM customer
        WHERE c_custkey IN (SELECT key FROM tomb))                       AS customers_purged,
      (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IN (SELECT key FROM tomb))                       AS orders_purged,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_custkey IN (SELECT key FROM tomb))) AS lineitems_purged,
      (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE user_id IN (SELECT user_id FROM ev_tomb))                  AS events_purged,
      (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey NOT IN (SELECT key FROM tomb))                   AS orders_kept,
      (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE user_id NOT IN (SELECT user_id FROM ev_tomb))              AS events_kept
    """,
    tags=("pipeline", "compliance", "purge"),
    description="Right-to-be-forgotten cascade audit: a tombstone key set "
    "propagates customer -> orders -> lineitem (FK chase) and user -> events, "
    "reporting purged/kept row counts per table in one row. Every cascade "
    "level is a broadcast semi/anti join against the (small) tombstone list — "
    "the fact tables never shuffle; at 100 TB this is the delete-compliance "
    "sweep you run before rewriting data files.",
)
def q_gdpr_purge_audit(spark, sf_dir):
    tomb = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % _PURGE_MOD == 0)
        .select(F.col("c_custkey").alias("key"))
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = _t(spark, sf_dir, "events").select("user_id")

    purged_orders = orders.join(
        F.broadcast(tomb), orders.o_custkey == tomb.key, "left_semi"
    )
    kept_orders = orders.join(
        F.broadcast(tomb), orders.o_custkey == tomb.key, "left_anti"
    )
    purged_li = li.join(
        F.broadcast(purged_orders.select("o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    ev_purged = ev.where(F.col("user_id") % _PURGE_MOD == 0)
    ev_kept = ev.where(~(F.col("user_id") % _PURGE_MOD == 0))

    return (
        cust.join(F.broadcast(tomb), cust.c_custkey == tomb.key, "left_semi")
        .agg(F.count(F.lit(1)).alias("customers_purged"))
        .crossJoin(purged_orders.agg(F.count(F.lit(1)).alias("orders_purged")))
        .crossJoin(purged_li.agg(F.count(F.lit(1)).alias("lineitems_purged")))
        .crossJoin(ev_purged.agg(F.count(F.lit(1)).alias("events_purged")))
        .crossJoin(kept_orders.agg(F.count(F.lit(1)).alias("orders_kept")))
        .crossJoin(ev_kept.agg(F.count(F.lit(1)).alias("events_kept")))
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (algebraic partial-agg merge)
# ---------------------------------------------------------------------------

_INC_CUT = "1997-07-01 00:00:00"


@register(
    "incremental_agg_merge",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {_R('CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)', 3)} AS total_value,
           CAST(max(floor(epoch(ts))) AS BIGINT) AS last_epoch_s
    FROM events GROUP BY user_id
    """,
    tags=("pipeline", "incremental", "agg"),
    description="Incremental view maintenance: the per-user aggregate state is "
    f"computed as base (ts < {_INC_CUT}) and delta (ts >= cut) PARTIALS, then "
    "algebraically merged (count add, DECIMAL sum add, max of maxes) via one "
    "full-outer join — never touching base rows again. The oracle is the "
    "direct full recompute, so the hash gate PROVES merge == recompute: the "
    "commutative-monoid property that makes 100 TB rollups maintainable from "
    "deltas alone. DECIMAL accumulation keeps float sums mergeable exactly.",
)
def q_incremental_agg_merge(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "value", F.col("ts").cast("long").alias("epoch_s")
    )
    cut = F.lit(_INC_CUT).cast("timestamp")

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("tot"),
            F.max("epoch_s").alias("last"),
        )

    base = partial(ev.where(F.col("ts") < cut))
    delta = partial(ev.where(F.col("ts") >= cut))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.user_id") == F.col("d.user_id"), "full_outer").select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("b.tot"), F.lit(0).cast("decimal(18,6)"))
            + F.coalesce(F.col("d.tot"), F.lit(0).cast("decimal(18,6)"))
        ).alias("tot"),
        F.greatest(F.col("b.last"), F.col("d.last")).alias("last_epoch_s"),
    )
    return merged.select(
        "user_id",
        "n_events",
        _r(F.col("tot").cast("double"), 3).alias("total_value"),
        "last_epoch_s",
    )


# ---------------------------------------------------------------------------
# Data-quality audit
# ---------------------------------------------------------------------------


@register(
    "data_quality_audit",
    """
    SELECT 'orders_orphan_custkey' AS check_name,
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
             AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'customer_dup_custkey',
           CAST((SELECT count(*) FROM
                  (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1) _d)
             AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'documents_nchar_mismatch',
           CAST((SELECT count(*) FROM documents WHERE length(text) <> n_chars) AS BIGINT),
           CAST((SELECT count(*) FROM documents) AS BIGINT)
    UNION ALL
    SELECT 'events_ts_out_of_range',
           CAST((SELECT count(*) FROM events
                 WHERE ts < TIMESTAMP '1995-01-01 00:00:00'
                    OR ts >= TIMESTAMP '1999-01-01 00:00:00') AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    """,
    tags=("pipeline", "quality", "audit"),
    description="Data-contract audit: referential integrity (orphan FKs via "
    "anti joins), domain constraints (non-positive quantities, out-of-range "
    "timestamps), uniqueness (duplicate keys), and derived-column consistency "
    "(n_chars == length(text)) — one (check, violations, checked) row each. "
    "Each check is a single agg or broadcast anti-join; the whole report is "
    "what a 100 TB ingest gate runs before promoting a snapshot.",
)
def q_data_quality_audit(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")

    def report(name, violations_df, checked_df):
        return (
            violations_df.agg(F.count(F.lit(1)).alias("n_violations"))
            .crossJoin(checked_df.agg(F.count(F.lit(1)).alias("n_checked")))
            .select(
                F.lit(name).alias("check_name"), "n_violations", "n_checked"
            )
        )

    checks = [
        report(
            "orders_orphan_custkey",
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
                "left_anti",
            ),
            orders,
        ),
        report(
            "lineitem_orphan_orderkey",
            li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
            li,
        ),
        report("lineitem_nonpositive_qty", li.where(F.col("l_quantity") <= 0), li),
        report(
            "customer_dup_custkey",
            cust.groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1),
            cust,
        ),
        report(
            "documents_nchar_mismatch",
            docs.where(F.length("text") != F.col("n_chars")),
            docs,
        ),
        report(
            "events_ts_out_of_range",
            ev.where(
                (F.col("ts") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
                | (F.col("ts") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            ),
            ev,
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# PageRank (iterative graph algorithm, exactly-replayable)
# ---------------------------------------------------------------------------

_PR_ITERS = 4
_PR_DAMP = 0.85


def _pagerank_oracle_sql() -> str:
    """Unrolled power-iteration CTE chain — the single-node replay of the
    distributed loop, exact because every iteration's ranks are
    portable-rounded and contributions DECIMAL-accumulated."""
    head = f"""
    WITH base AS (
      SELECT concat('u:', CAST(user_id AS VARCHAR)) AS u,
             concat('t:', event_type) AS t,
             CAST(count(*) AS DOUBLE) AS w
      FROM events GROUP BY 1, 2
    ),
    edges AS (
      SELECT u AS src, t AS dst, w FROM base
      UNION ALL
      SELECT t AS src, u AS dst, w FROM base
    ),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, {_R('1.0 / n', 12)} AS rank FROM nodes CROSS JOIN nn)
    """
    for i in range(1, _PR_ITERS + 1):
        head += f""",
    c{i} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(r.rank * e.w / o.ow AS DECIMAL(28,16))) AS DOUBLE) AS s
      FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN outw o ON e.src = o.src
      GROUP BY 1
    ),
    r{i} AS (
      SELECT nodes.node,
             {_R(f'0.15 / n + {_PR_DAMP} * coalesce(s, 0.0)', 12)} AS rank
      FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node
    )"""
    head += f"""
    SELECT node, {_R('rank', 9)} AS rank FROM r{_PR_ITERS}
    """
    return head


@register(
    "pagerank_bipartite",
    _pagerank_oracle_sql(),
    tags=("pipeline", "graph", "iterative"),
    description=f"PageRank ({_PR_ITERS} power iterations, damping {_PR_DAMP}) "
    "over the bipartite user<->event-type engagement graph — the iterative "
    "join+agg template (contribution scatter on src, gather on dst) that "
    "covers any link-analysis job; at web scale the same loop runs with the "
    "edge list partitioned by src and ranks co-partitioned. Every iteration "
    "portable-rounds ranks and DECIMAL-accumulates contributions, so the "
    "distributed loop and the oracle's unrolled single-node CTE chain agree "
    "bit-for-bit — an EXACT hash gate on an iterative algorithm.",
)
def q_pagerank_bipartite(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("t"),
    )
    base = ev.groupBy("u", "t").agg(F.count(F.lit(1)).cast("double").alias("w"))
    # static across iterations — persist so the 4 unrolled iterations reuse
    # one materialization (and, on a cluster, one src partitioning) instead
    # of re-deriving the edge list from the scan each pass
    edges = (
        base.select(F.col("u").alias("src"), F.col("t").alias("dst"), "w")
        .unionAll(base.select(F.col("t").alias("src"), F.col("u").alias("dst"), "w"))
        .persist()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow")).persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", _r(F.lit(1.0) / F.col("n"), 12).alias("rank")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .select(
                "dst",
                (F.col("rank") * F.col("w") / F.col("ow"))
                .cast("decimal(28,16)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").cast("double").alias("s"))
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                _r(
                    F.lit(0.15) / F.col("n")
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
    return ranks.select("node", _r(F.col("rank"), 9).alias("rank"))


# ---------------------------------------------------------------------------
# SCD2 point-in-time dimension join
# ---------------------------------------------------------------------------


@register(
    "scd2_point_in_time",
    f"""
    WITH p AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS vf,
             CAST(count(*) AS BIGINT) AS k
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    ver AS (
      SELECT user_id, vf, k,
             CAST(sum(k) OVER (PARTITION BY user_id ORDER BY vf
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             lead(vf) OVER (PARTITION BY user_id ORDER BY vf) AS vt
      FROM p
    ),
    tiers AS (
      SELECT user_id, vf, vt,
             least(CAST(floor(cum / 5.0) AS BIGINT), 3) AS tier
      FROM ver
    ),
    clicks AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS cs
      FROM events WHERE event_type = 'click'
    ),
    joined AS (
      SELECT c.event_id, c.user_id, coalesce(t.tier, 0) AS tier
      FROM clicks c LEFT JOIN tiers t
        ON c.user_id = t.user_id
       AND c.cs >= t.vf AND (t.vt IS NULL OR c.cs < t.vt)
    )
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM joined GROUP BY tier
    """,
    tags=("pipeline", "scd2", "temporal-join"),
    description="SCD2 point-in-time join: purchase history builds a versioned "
    "user-tier dimension (valid_from = purchase time, valid_to = next "
    "version's start via lead — classic type-2 intervals), then each click is "
    "joined to the version VALID AT ITS EVENT TIME (not the latest), clicks "
    "before any version defaulting to tier 0. The join shuffles on user_id "
    "with the interval predicate as residual — co-partitioned, no range "
    "explosion; per-user version chains are disjoint so each click matches "
    "at most one version. This is the time-correct feature join that "
    "prevents label leakage in training data.",
)
def q_scd2_point_in_time(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").cast("long").alias("vf"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    w = Window.partitionBy("user_id").orderBy("vf")
    ver = p.select(
        "user_id",
        "vf",
        F.sum("k").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.lead("vf").over(w).alias("vt"),
    )
    tiers = ver.select(
        "user_id",
        "vf",
        "vt",
        F.least(F.floor(F.col("cum") / 5.0).cast("bigint"), F.lit(3)).alias("tier"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("cs")
    )
    c, t = clicks.alias("c"), tiers.alias("t")
    joined = c.join(
        t,
        (F.col("c.user_id") == F.col("t.user_id"))
        & (F.col("c.cs") >= F.col("t.vf"))
        & (F.col("t.vt").isNull() | (F.col("c.cs") < F.col("t.vt"))),
        "left",
    ).select(
        F.col("c.event_id").alias("event_id"),
        F.col("c.user_id").alias("user_id"),
        F.coalesce(F.col("t.tier"), F.lit(0)).alias("tier"),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Z-score outlier detection (portable moments)
# ---------------------------------------------------------------------------


@register(
    "value_outliers_z",
    f"""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                  AS DOUBLE) AS ss
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT event_type, n, s / n AS mean,
             sqrt((ss - s * s / n) / (n - 1)) AS sd
      FROM m
    ),
    z AS (
      SELECT e.event_type, abs((e.value - st.mean) / st.sd) AS az
      FROM events e JOIN stats st USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE az > 3.0) AS BIGINT) AS n_outliers,
           {_R('max(az)', 6)} AS max_abs_z
    FROM z GROUP BY event_type
    """,
    tags=("pipeline", "stats", "outliers"),
    description="Per-type z-score outlier screen: moments accumulate as exact "
    "DECIMAL sums (NOT the engine's streaming variance — Welford vs "
    "sum-of-squares differ across engines and parallelism), so mean/sd are "
    "order-independent and the |z|>3 flag count is bit-reproducible. Two "
    "passes over events: a 5-row stats table (broadcast back) then a map-side "
    "flagging pass — the anomaly gate before training-data ingestion.",
)
def q_value_outliers_z(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    dv = F.col("value").cast("decimal(18,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dv).cast("double").alias("s"),
        F.sum(dv * dv).cast("double").alias("ss"),
    )
    stats = m.select(
        "event_type",
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.abs((F.col("value") - F.col("mean")) / F.col("sd")).alias("az"),
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("az") > 3.0, 1)).alias("n_outliers"),
        _r(F.max("az"), 6).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# Cross-modal metadata correlation (documents x embeddings)
# ---------------------------------------------------------------------------

_VEC_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_NORM_D = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"


@register(
    "quality_embedding_corr",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({_TOKS.format(src='text')}) AS BIGINT) AS x
      FROM documents
    ),
    e AS (
      SELECT vec_id, {_NORM_D.format(v=_VEC_D)} AS y FROM embeddings
    ),
    j AS (SELECT x, y FROM d JOIN e ON doc_id = vec_id),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(x AS DOUBLE) * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy,
             CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT n,
           CASE WHEN (n * sxx - sx * sx) > 1e-6 AND (n * syy - sy * sy) > 1e-6
             THEN {_R('(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))', 6)}
             ELSE NULL END AS pearson_r,
           CASE WHEN (n * sxx - sx * sx) > 1e-6
             THEN {_R('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 9)}
             ELSE NULL END AS ols_slope
    FROM m
    """,
    tags=("pipeline", "multimodal", "stats"),
    description="Cross-modal audit: Pearson correlation + OLS slope between a "
    "text-side signal (token count) and an embedding-side signal (L2 norm), "
    "joined doc_id = vec_id. Moments accumulate as exact DECIMALs (not the "
    "engine's corr(), whose accumulation order varies), so the statistic is "
    "bit-reproducible at any parallelism — the sanity check that embeddings "
    "and their source documents stayed aligned through a 100 TB pipeline.",
)
def q_quality_embedding_corr(spark, sf_dir):
    from .functions.vectors import l2_norm

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("x")
    )
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", l2_norm(to_double(F.col("embedding"))).alias("y")
    )
    j = d.join(e, d.doc_id == e.vec_id).select(
        F.col("x").cast("double").alias("x"), "y"
    )

    def dec(c):
        return F.sum(c.cast("decimal(28,10)")).cast("double")

    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # degenerate-variance guard: a constant column (e.g. unit-normalized
    # embedding norms) makes the true variance 0, and the 1e-10 decimal
    # rounding can land it at a tiny NEGATIVE — sqrt would raise in the
    # oracle and NaN here; correlation is undefined there, so emit NULL
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "n",
        F.when(
            (vx > 1e-6) & (vy > 1e-6), _r(num / F.sqrt(vx * vy), 6)
        ).alias("pearson_r"),
        F.when(vx > 1e-6, _r(num / vx, 9)).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill / resample
# ---------------------------------------------------------------------------


@register(
    "gap_fill_daily",
    f"""
    WITH days AS (
      SELECT unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                    INTERVAL 1 DAY))::DATE AS day
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (SELECT user_id, day FROM users CROSS JOIN days),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_day,
             CAST(max(floor(epoch(ts))) AS BIGINT) AS max_ts
      FROM events
      WHERE ts >= TIMESTAMP '1997-01-01 00:00:00'
        AND ts <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT g.user_id,
           CAST(floor(epoch(g.day)) AS BIGINT) AS day_s,
           coalesce(d.n_day, 0) AS n_day,
           last_value(d.max_ts IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_seen_s
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
    tags=("pipeline", "time-series", "gap-fill"),
    description="Time-series resampling: a dense per-user daily grid (Q1 1997) "
    "left-joined to daily aggregates, gaps filled with 0-counts and a "
    "forward-filled last-seen timestamp (last_value IGNORE NULLS window) — "
    "the regularisation step before any sequence model. The grid is "
    "users x days via a broadcast calendar explode (never a range join); "
    "forward fill is one window per user, no self-joins.",
)
def q_gap_fill_daily(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    days = users.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1997-01-01").cast("date"),
                F.lit("1997-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    grid = users.crossJoin(F.broadcast(days))
    daily = (
        ev.where(
            (F.col("ts") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_day"),
            F.max(F.col("ts").cast("long")).alias("max_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("timestamp").cast("long").alias("day_s"),
            F.coalesce(F.col("n_day"), F.lit(0)).alias("n_day"),
            F.last("max_ts", ignorenulls=True).over(w).alias("last_seen_s"),
        )
    )


# ---------------------------------------------------------------------------
# Co-purchase pair mining (market-basket step 1)
# ---------------------------------------------------------------------------


@register(
    "copurchase_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
    tags=("pipeline", "market-basket", "self-join"),
    description="Co-purchase pair mining (A-priori candidate step): distinct "
    "items per order self-joined within the order key, support-thresholded. "
    "The pair blowup is bounded by C(order_size, 2) per order (TPC-H orders "
    "hold <= 7 items), NOT corpus-quadratic — the same posting-list shape as "
    "jaccard_pairs; the join co-partitions on orderkey. An in-array "
    "rewrite (collect_set + nested TRANSFORM combination expansion) was "
    "measured head-to-head at sf10 and LOST 3.6x (138s vs 38s warm: the "
    "struct explode breaks codegen and the array build costs more than "
    "the co-partitioned sort-merge join) — the join stays, and the one "
    "super-linear-looking rehearsal sample that prompted the experiment "
    "re-measured sub-linear on an idle host (SCALING.json).",
)
def q_copurchase_pairs(spark, sf_dir):
    items = (
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


# ---------------------------------------------------------------------------
# Winsorized robust stats (exact distributed order statistics)
# ---------------------------------------------------------------------------


@register(
    "winsorized_stats",
    f"""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    b AS (
      SELECT event_type,
             min(CASE WHEN rn = greatest(1, CAST(floor(n * 0.05) AS BIGINT)) THEN value END) AS lo,
             min(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS hi
      FROM r GROUP BY 1
    ),
    w AS (
      SELECT e.event_type,
             least(greatest(e.value, b.lo), b.hi) AS wv
      FROM events e JOIN b USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {_R('CAST(sum(CAST(wv AS DECIMAL(18,6))) AS DOUBLE) / count(*)', 6)} AS wins_mean,
           {_R('min(wv)', 6)} AS wins_min,
           {_R('max(wv)', 6)} AS wins_max
    FROM w GROUP BY event_type
    """,
    tags=("pipeline", "stats", "robust"),
    description="Winsorized per-type value stats: the EXACT 5th/95th order "
    "statistics come from a rank window (row_number with an event_id "
    "tiebreak — discrete k-th smallest, no engine-specific interpolation), "
    "tails are clamped to them, and the winsorized mean accumulates in "
    "DECIMAL. Robust against the heavy-tail outliers value_outliers_z "
    "flags; exact order statistics stay well-defined (and oracle-matched) "
    "at any parallelism, unlike percentile interpolation variants.",
)
def q_winsorized_stats(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.floor(F.col("n") * 0.05).cast("bigint")),
                F.col("value"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.95).cast("bigint"),
                F.col("value"),
            )
        ).alias("hi"),
    )
    w = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("wv"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _r(
            F.sum(F.col("wv").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("wins_mean"),
        _r(F.min("wv"), 6).alias("wins_min"),
        _r(F.max("wv"), 6).alias("wins_max"),
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (funnel regex over ordered event strings)
# ---------------------------------------------------------------------------


@register(
    "sequence_pattern_match",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_users,
      CAST(count(*) FILTER (WHERE regexp_matches(s, 's.*c.*p')) AS BIGINT)
        AS n_signup_click_purchase,
      CAST(count(*) FILTER (WHERE regexp_matches(s, 'cc')) AS BIGINT)
        AS n_double_click,
      CAST(count(*) FILTER (WHERE regexp_matches(s, 'e[^p]*$')) AS BIGINT)
        AS n_error_never_purchased_again
    FROM seq
    """,
    tags=("pipeline", "sequence", "pattern"),
    description="MATCH_RECOGNIZE-style sequence analytics without the "
    "operator: each user's event history collapses to an ordered initial "
    "string (deterministic ORDER BY ts, event_id inside the aggregate), and "
    "funnel/pattern questions become regexes — signup->click->purchase "
    "subsequence, immediate re-click, error with no later purchase. One "
    "groupBy; per-user state is one string; the regex pass is JVM-side. "
    "The string_agg ordering contract is the same one user_event_sequences "
    "already hash-gates.",
)
def q_sequence_pattern_match(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("es"),
        "event_id",
        F.substring("event_type", 1, 1).alias("c"),
    )
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("es", "event_id", "c"))
                ),
                lambda s: s.getField("c"),
            ),
        ).alias("s")
    )
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("s").rlike("s.*c.*p"), 1)).alias(
            "n_signup_click_purchase"
        ),
        F.count(F.when(F.col("s").rlike("cc"), 1)).alias("n_double_click"),
        F.count(F.when(F.col("s").rlike("e[^p]*$"), 1)).alias(
            "n_error_never_purchased_again"
        ),
    )


# ---------------------------------------------------------------------------
# Multimodal content-addressable manifest (exact media dedup)
# ---------------------------------------------------------------------------


@register(
    "multimodal_manifest",
    """
    WITH b AS (
      SELECT doc_id,
             unhex(md5(text)) || unhex(md5(text)) || unhex(md5(text)) || unhex(md5(text))
               AS media_bytes
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(octet_length(media_bytes) AS INTEGER) AS byte_len,
             md5(hex(media_bytes)) AS media_digest
      FROM b
    )
    SELECT media_digest,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(byte_len) AS INTEGER) AS byte_len
    FROM m GROUP BY media_digest
    """,
    tags=("pipeline", "multimodal", "dedup"),
    description="Content-addressable media manifest: the opaque binary column "
    "(operators/multimodal.py::attach_fake_media shape) is digested and "
    "grouped — exact media-level dedup, byte-length accounting, and a stable "
    "keep-lowest-id representative per blob. The digest runs JVM-side over "
    "the bytes (no decode, no Python); at 100 TB this is the first pass that "
    "collapses re-crawled images/videos before ANY expensive decoding. The "
    "oracle rebuilds the same synthetic bytes and digests them bit-for-bit.",
)
def q_multimodal_manifest(spark, sf_dir):
    from .operators.multimodal import attach_fake_media

    media = attach_fake_media(_t(spark, sf_dir, "documents"), copies=4)
    m = media.select(
        "doc_id",
        F.length("media_bytes").cast("int").alias("byte_len"),
        F.md5(F.hex(F.col("media_bytes"))).alias("media_digest"),
    )
    return m.groupBy("media_digest").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("byte_len").alias("byte_len"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two table versions)
# ---------------------------------------------------------------------------

_SNAP_CUT = "1997-07-01 00:00:00"


@register(
    "snapshot_diff",
    f"""
    WITH snap_a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             md5(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS VARCHAR))
               AS row_hash
      FROM events WHERE ts < TIMESTAMP '{_SNAP_CUT}' GROUP BY user_id
    ),
    snap_b AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             md5(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS VARCHAR))
               AS row_hash
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT coalesce(a.user_id, b.user_id) AS user_id,
             CASE
               WHEN a.user_id IS NULL THEN 'added'
               WHEN b.user_id IS NULL THEN 'removed'
               WHEN a.row_hash <> b.row_hash OR a.n <> b.n THEN 'changed'
               ELSE 'unchanged'
             END AS change
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id
    )
    SELECT change, CAST(count(*) AS BIGINT) AS n_keys
    FROM d GROUP BY change
    """,
    tags=("pipeline", "cdc", "diff"),
    description="Snapshot diff / CDC derivation: two versions of the per-user "
    "rollup (as-of a cut vs current) compared by key with value fingerprints "
    "— added / removed / changed / unchanged counts, the change feed you "
    "derive when the upstream can't emit one. One full-outer merge join on "
    "the key (co-partitioned at scale); fingerprints make the value compare "
    "O(1) per key regardless of payload width. DECIMAL-summed values keep "
    "fingerprints deterministic, so the oracle matches exactly.",
)
def q_snapshot_diff(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")

    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.md5(
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .cast("string")
            ).alias("row_hash"),
        )

    a = snap(ev.where(F.col("ts") < F.lit(_SNAP_CUT).cast("timestamp"))).alias("a")
    b = snap(ev).alias("b")
    d = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer").select(
        F.when(F.col("a.user_id").isNull(), F.lit("added"))
        .when(F.col("b.user_id").isNull(), F.lit("removed"))
        .when(
            (F.col("a.row_hash") != F.col("b.row_hash"))
            | (F.col("a.n") != F.col("b.n")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change")
    )
    return d.groupBy("change").agg(F.count(F.lit(1)).alias("n_keys"))


# ---------------------------------------------------------------------------
# Gopher-style heuristic quality filter — rule-based doc gating
# ---------------------------------------------------------------------------

# Rule thresholds. The rule SHAPES are the published Gopher/C4 heuristics
# (Rae et al. 2021 §A.1.1: word-count bounds, mean-word-length band,
# symbol-to-word ratio, alphabetic-word fraction, stopword floor; the
# repetition rule is the doc-level analogue of Gopher's duplicate-line
# fractions). Two bounds are tightened so the rules actually discriminate
# on the synthetic single-space corpus (measured sf0.01 quantiles:
# wc p10=21/p50=56, mwl p10=4.26/p90=4.77, top-token share p90=0.14);
# production values are noted inline.
_GQ_WC_LO, _GQ_WC_HI = 30, 100_000        # Gopher: 50 .. 100k words
_GQ_MWL_LO, _GQ_MWL_HI = 3.0, 4.6          # Gopher: 3 .. 10 chars
_GQ_STOP_MIN = 2                           # Gopher: >= 2 stopwords
_GQ_ALPHA_MIN = 0.8                        # Gopher: >= 80% words alphabetic
_GQ_SYM_MAX = 0.1                          # Gopher: # / '...' per word <= 0.1
_GQ_REP_MAX = 0.125                        # top-token share cap (dup-line analogue)
_GQ_STOPS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


@register(
    "gopher_quality_filter",
    f"""
    WITH g AS (
      SELECT lang, text, {_TOKS.format(src='lower(text)')} AS ltoks
      FROM documents),
    m AS (
      SELECT lang,
             len(ltoks) AS wc,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len(ltoks) AS mwl,
             len(list_filter(ltoks, t -> t IN {str(_GQ_STOPS)})) AS stop_n,
             len(list_filter(ltoks, t -> regexp_matches(t, '[a-z]'))) * 1.0
               / len(ltoks) AS alpha_frac,
             ((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) / 3.0) * 1.0
               / len(ltoks) AS sym_ratio,
             len(list_filter(ltoks, t -> t = list_aggregate(ltoks, 'mode'))) * 1.0
               / len(ltoks) AS top_share
      FROM g WHERE len(ltoks) > 0),
    r AS (
      SELECT lang,
             (wc < {_GQ_WC_LO} OR wc > {_GQ_WC_HI}) AS f_wc,
             (mwl < {_GQ_MWL_LO} OR mwl > {_GQ_MWL_HI}) AS f_mwl,
             (stop_n < {_GQ_STOP_MIN}) AS f_stop,
             (alpha_frac < {_GQ_ALPHA_MIN}) AS f_alpha,
             (sym_ratio > {_GQ_SYM_MAX}) AS f_sym,
             (top_share > {_GQ_REP_MAX}) AS f_rep
      FROM m)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
           CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
           CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
           CAST(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
           CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_repetition,
           CAST(sum(CASE WHEN NOT (f_wc OR f_mwl OR f_stop OR f_alpha OR f_sym OR f_rep)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           {_R('sum(CASE WHEN NOT (f_wc OR f_mwl OR f_stop OR f_alpha OR f_sym OR f_rep) '
               'THEN 1 ELSE 0 END) * 1.0 / count(*)', 6)} AS keep_rate
    FROM r GROUP BY lang
    """,
    tags=("pipeline", "quality", "gopher", "text"),
    description="Gopher-style heuristic quality gate: six doc-level rules "
    "(word-count bounds, mean-word-length band, stopword floor, alphabetic-"
    "word fraction, symbol-to-word ratio, top-token repetition share) -> "
    "per-lang rule-failure counts and keep rate. Pure Catalyst expressions "
    "(one HOF pass per rule family, no explode, no shuffle before the "
    "per-lang agg) — the doc-local shape that streams at 100 TB.",
)
def q_gopher_quality_filter(spark, sf_dir):
    from .functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    ltoks = tokens(F.lower(F.col("text")))
    d = docs.select("lang", "text", ltoks.alias("ltoks")).where(
        F.size("ltoks") > 0
    )
    wc = F.size("ltoks")
    mwl = (
        F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
        * F.lit(1.0)
        / wc
    )
    stop_n = F.size(F.filter(F.col("ltoks"), lambda t: t.isin(*_GQ_STOPS)))
    alpha_frac = (
        F.size(F.filter(F.col("ltoks"), lambda t: t.rlike("[a-z]")))
        * F.lit(1.0)
        / wc
    )
    n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    n_ell = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / F.lit(3.0)
    sym_ratio = (n_hash + n_ell) * F.lit(1.0) / wc
    # max token frequency == longest run in the sorted array: one fold,
    # no per-doc explode+groupBy shuffle (the mode twin in the oracle)
    srt = F.array_sort(F.col("ltoks"))
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    max_freq = F.aggregate(
        srt,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_share = max_freq * F.lit(1.0) / wc
    r = d.select(
        "lang",
        ((wc < _GQ_WC_LO) | (wc > _GQ_WC_HI)).alias("f_wc"),
        ((mwl < _GQ_MWL_LO) | (mwl > _GQ_MWL_HI)).alias("f_mwl"),
        (stop_n < _GQ_STOP_MIN).alias("f_stop"),
        (alpha_frac < _GQ_ALPHA_MIN).alias("f_alpha"),
        (sym_ratio > _GQ_SYM_MAX).alias("f_sym"),
        (top_share > _GQ_REP_MAX).alias("f_rep"),
    )
    keep = ~(
        F.col("f_wc")
        | F.col("f_mwl")
        | F.col("f_stop")
        | F.col("f_alpha")
        | F.col("f_sym")
        | F.col("f_rep")
    )

    def n_fail(c):
        return F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")

    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        n_fail("f_wc").alias("fail_word_count"),
        n_fail("f_mwl").alias("fail_mean_word_len"),
        n_fail("f_stop").alias("fail_stopword"),
        n_fail("f_alpha").alias("fail_alpha"),
        n_fail("f_sym").alias("fail_symbol"),
        n_fail("f_rep").alias("fail_repetition"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_keep"),
        _r(
            F.sum(F.when(keep, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# Length-outlier trimming — per-lang rank-based percentile filter
# ---------------------------------------------------------------------------


@register(
    "length_percentile_filter",
    """
    WITH r AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    k AS (
      SELECT lang, n_chars,
             CAST(floor(n * 5 / 100.0) AS BIGINT) AS cut, rk, n
      FROM r)
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(min(CASE WHEN rk > cut AND rk <= n - cut THEN n_chars END) AS BIGINT)
             AS min_kept_chars,
           CAST(max(CASE WHEN rk > cut AND rk <= n - cut THEN n_chars END) AS BIGINT)
             AS max_kept_chars,
           CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN n_chars ELSE 0 END) AS BIGINT)
             AS bytes_kept,
           CAST(sum(CASE WHEN rk <= cut OR rk > n - cut THEN n_chars ELSE 0 END) AS BIGINT)
             AS bytes_dropped
    FROM k GROUP BY lang
    """,
    tags=("pipeline", "quality", "percentile", "window"),
    description="Per-language length-outlier removal: drop the shortest and "
    "longest 5% of docs by exact rank (row_number over (lang, n_chars, doc_id) "
    "vs floor(n*0.05) cuts — deterministic integer logic, bit-exact across "
    "engines) and report kept/dropped byte budgets. Exact ranks need a "
    "per-lang sort; at 100 TB swap the window for approxQuantile cutoffs "
    "(one pass, mergeable GK sketches) — the trimming semantics stay the same.",
)
def q_length_percentile_filter(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    k = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("cut", F.floor(F.col("n") * 5 / 100.0))
    kept = (F.col("rk") > F.col("cut")) & (F.col("rk") <= F.col("n") - F.col("cut"))
    return k.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.min(F.when(kept, F.col("n_chars"))).cast("long").alias("min_kept_chars"),
        F.max(F.when(kept, F.col("n_chars"))).cast("long").alias("max_kept_chars"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).cast("long").alias("bytes_kept"),
        F.sum(F.when(~kept, F.col("n_chars")).otherwise(0)).cast("long").alias("bytes_dropped"),
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 extension point) — oracle-gated source
# ---------------------------------------------------------------------------

_SYNTH_N_DOCS = 2000

from .sources.python_datasource import synthetic_docs_oracle_sql as _synth_oracle_sql


@register(
    "synthetic_source_stats",
    _synth_oracle_sql(_SYNTH_N_DOCS),
    tags=("sources", "python-datasource", "pushdown"),
    description="Custom Python DataSource (pyspark.sql.datasource, Spark 4): "
    "a deterministic synthetic document corpus generated source-side in "
    "pure Python — planner-integrated input partitions (disjoint id ranges, "
    "partition-count invariant) and lang-equality pushFilters. The oracle "
    "replays the GENERATOR in DuckDB (generate_series + md5 word picks) and "
    "pins per-lang counts plus summed per-doc text fingerprints, so the "
    "source's exact text BYTES are gated, not just its row counts. The "
    "source surface a 100 TB engine needs for internal services/formats "
    "Spark has no built-in reader for.",
)
def q_synthetic_source_stats(spark, sf_dir):
    from .functions.hashing import portable_hash64
    from .sources.python_datasource import register_synthetic_docs

    register_synthetic_docs(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", _SYNTH_N_DOCS)
        .option("n_partitions", 8)
        .load()
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.sum(portable_hash64(F.col("text"))).cast("long").alias("text_fp"),
    )


@register(
    "synthetic_source_pushdown",
    f"""
    WITH src AS ({_synth_oracle_sql(_SYNTH_N_DOCS)})
    SELECT * FROM src WHERE lang = 'en'
    """,
    tags=("sources", "python-datasource", "pushdown"),
    description="The pushFilters path of the Python DataSource under the "
    "oracle gate: the SAME per-lang stats but read with a lang='en' "
    "predicate, which the source prunes at generation time (rows of other "
    "langs are never materialised). Oracle = the full-replay stats "
    "filtered after the fact — equality proves pushed-filter pruning "
    "changes WHAT is generated, never what is returned.",
)
def q_synthetic_source_pushdown(spark, sf_dir):
    from .functions.hashing import portable_hash64
    from .sources.python_datasource import register_synthetic_docs

    register_synthetic_docs(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", _SYNTH_N_DOCS)
        .option("n_partitions", 8)
        .load()
        .where(F.col("lang") == "en")
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.sum(portable_hash64(F.col("text"))).cast("long").alias("text_fp"),
    )


# ---------------------------------------------------------------------------
# Snapshot-log table format (sources/snapshot_table.py) — time travel gate
# ---------------------------------------------------------------------------


@register(
    "snapshot_time_travel",
    f"""
    SELECT 1 AS version, lang,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE lang = 'en' GROUP BY lang
    UNION ALL
    SELECT 2 AS version, lang,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
    """,
    tags=("sources", "table-format", "time-travel"),
    description="Snapshot-log table format end-to-end under the oracle gate: "
    "commit the en-language documents as table version 1, APPEND the de-"
    "language documents as version 2, then time-travel-read BOTH versions "
    "back and fingerprint their text bytes. The oracle recomputes each "
    "version's stats straight from the source table, so the gate proves "
    "(a) version 1 stays byte-identical after the append — snapshot "
    "isolation — and (b) version 2 is exactly old-plus-new — append "
    "atomicity. The capability layer (numbered snapshot chain, put-if-"
    "absent commit, schema evolution) a 100 TB corpus pipeline sits on; "
    "protocol details in sources/snapshot_table.py.",
)
def q_snapshot_time_travel(spark, sf_dir):

    from .sources.snapshot_table import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snaptable")
    v1 = write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    v2 = write_snapshot(docs.where(F.col("lang") == "de"), table, mode="append")

    def stats(version):
        return _lang_fp(read_snapshot(spark, table, version)).select(
            F.lit(version).alias("version"), "lang", "n_docs", "sum_chars", "text_fp"
        )

    return stats(v1).unionByName(stats(v2))


@register(
    "snapshot_time_travel_ts",
    f"""
    SELECT 1 AS version, lang,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE lang = 'en' GROUP BY lang
    UNION ALL
    SELECT 2 AS version, lang,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
    """,
    tags=("sources", "table-format", "time-travel"),
    description="AS OF <timestamp> time travel (Delta timestampAsOf / "
    "Iceberg as-of-timestamp semantics): commit en as v1 and de as v2, "
    "then read back by each version's own commit stamp — as_of=t(v1) "
    "must resolve to v1 (NOT v2, proving 'last commit at or before ts' "
    "with strictly-monotonic stamps even when the two commits land in "
    "the same clock tick), and as_of=t(v2) to v2. The version column "
    "carries what version_as_of actually resolved, so a resolution "
    "regression flips the labels and fails the hash gate; the stats "
    "prove the resolved snapshot scans the right shard set. Version-"
    "pinned companion: snapshot_time_travel; stamping discipline in "
    "sources/snapshot_table.py::_claim_snapshot.",
)
def q_snapshot_time_travel_ts(spark, sf_dir):

    from .sources.snapshot_table import (
        read_snapshot,
        snapshot_history,
        version_as_of,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snaptable-ts")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    write_snapshot(docs.where(F.col("lang") == "de"), table, mode="append")
    stamps = {s["version"]: s["committed_at"] for s in snapshot_history(table)}

    def stats(ts):
        # deliberately resolves twice: version_as_of labels the output
        # (a resolution regression flips the version column) AND the
        # as_of= kwarg path does its own resolution inside
        # read_snapshot — both surfaces stay under the oracle. Two
        # snapshot-JSON walks on a private two-commit table; a real
        # consumer resolves once and reads by the pinned version
        v = version_as_of(table, ts)
        return _lang_fp(read_snapshot(spark, table, as_of=ts)).select(
            F.lit(v).alias("version"), "lang", "n_docs", "sum_chars", "text_fp"
        )

    return stats(stamps[1]).unionByName(stats(stamps[2]))


@register(
    "snapshot_cdc_read",
    f"""
    WITH en AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'en'
    ),
    de AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'de'
    ),
    v3del AS (
      SELECT * FROM (SELECT * FROM en UNION ALL SELECT * FROM de)
      WHERE n_chars < 500
    ),
    upd AS (
      SELECT * FROM en WHERE n_chars >= 500 AND doc_id % 10 = 0
    )
    SELECT CAST(2 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
           lang, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM de GROUP BY lang
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delete', lang, count(*),
           CAST(sum(n_chars) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT)
    FROM v3del GROUP BY lang
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'delete', lang, count(*),
           CAST(sum(n_chars) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT)
    FROM upd GROUP BY lang
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'insert', lang, count(*),
           CAST(sum(n_chars + 1000) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT)
    FROM upd GROUP BY lang
    """,
    tags=("sources", "table-format", "cdc"),
    description="Change-data-feed read (read_cdc) end-to-end under the "
    "oracle gate: append en (v1), append de (v2), copy-on-write DELETE "
    "n_chars<500 (v3), MERGE-update a doc_id slice with n_chars+1000 "
    "(v4), then read the feed over (1,4] and fingerprint per (commit, "
    "change_type, lang). The oracle recomputes each commit's exact "
    "row-level delta from the source table: v2 = de inserts, v3 = the "
    "deleted rows of BOTH langs, v4 = the updated rows as delete(pre-"
    "image)+insert(post-image) pairs — proving the visible-row diff "
    "emits net changes only (rows rewritten unchanged by the CoW "
    "commits cancel and appear nowhere). Append-only companion: "
    "snapshot_incremental_read; derivation and O(changed files) scale "
    "argument in sources/snapshot_table.py::read_cdc.",
)
def q_snapshot_cdc_read(spark, sf_dir):

    from .sources.snapshot_table import (
        delete_where,
        merge_upsert,
        read_cdc,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapcdc")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    write_snapshot(docs.where(F.col("lang") == "de"), table, mode="append")
    delete_where(spark, table, "n_chars < 500")
    upd = (
        read_snapshot(spark, table)
        .where((F.col("lang") == "en") & (F.col("doc_id") % 10 == 0))
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
    )
    merge_upsert(upd, table, key_cols=["doc_id"])
    return (
        read_cdc(spark, table, 1)
        .groupBy("_commit_version", "_change_type", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(portable_hash64(F.col("text"))).cast("long").alias("text_fp"),
        )
    )


@register(
    "snapshot_cdc_aggregate",
    """
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE lang IN ('en', 'de', 'fr')
    ),
    survivors AS (
      SELECT * FROM base WHERE NOT (n_chars < 500 OR lang = 'fr')
    ),
    final AS (
      SELECT lang,
             CASE WHEN lang = 'en' AND doc_id % 10 = 0
                  THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM survivors
    )
    SELECT lang, count(*) AS cnt,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS incremental_ok
    FROM final GROUP BY lang
    """,
    tags=("sources", "table-format", "cdc", "incremental"),
    description="Incremental VIEW MAINTENANCE from the CDC feed — the "
    "canonical read_cdc consumer: a per-lang aggregate table is built "
    "once, the source then takes a CoW DELETE (which empties one whole "
    "group) and a MERGE update, and the aggregate is refreshed by "
    "APPLYING THE DELTA ONLY — signed counts/sums from read_cdc, then "
    "ONE merge_upsert commit whose delete_condition drops groups that "
    "hit zero (MERGE WHEN MATCHED THEN DELETE) — never by rescanning "
    "the source. incremental_ok compares "
    "the incrementally-maintained table against a full recompute "
    "(null-safe, full-outer so a spurious or missing group also "
    "fails); the oracle pins it TRUE plus the exact final aggregates. "
    "At 100 TB this is the pattern that keeps derived tables O(delta) "
    "per refresh; append-only companion: snapshot_table_chain.",
)
def q_snapshot_cdc_aggregate(spark, sf_dir):

    from .sources.snapshot_table import (
        delete_where,
        merge_upsert,
        read_cdc,
        read_snapshot,
        write_snapshot,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .where(F.col("lang").isin("en", "de", "fr"))
    )
    src = scratch_dir("cdcagg-src")
    dst = scratch_dir("cdcagg-dst")

    def agg(df):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )

    write_snapshot(docs, src, mode="append")                       # src v1
    write_snapshot(agg(read_snapshot(spark, src)), dst, mode="append")
    delete_where(spark, src, "n_chars < 500 OR lang = 'fr'")       # src v2
    upd = (
        read_snapshot(spark, src)
        .where((F.col("lang") == "en") & (F.col("doc_id") % 10 == 0))
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
    )
    merge_upsert(upd, src, key_cols=["doc_id"])                    # src v3

    # refresh dst from the feed: signed deltas, changed groups only
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        read_cdc(spark, src, 1)
        .groupBy("lang")
        .agg(
            F.sum(sign).cast("long").alias("cnt_d"),
            F.sum(sign * F.col("n_chars")).cast("long").alias("chars_d"),
        )
    )
    changed = (
        read_snapshot(spark, dst)
        .join(delta, "lang", "full_outer")
        .select(
            "lang",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("cnt_d", F.lit(0)))
            .cast("long").alias("cnt"),
            (
                F.coalesce("sum_chars", F.lit(0))
                + F.coalesce("chars_d", F.lit(0))
            ).cast("long").alias("sum_chars"),
        )
        .join(delta.select("lang"), "lang", "left_semi")
    )
    # ONE commit: changed groups upsert, groups that hit zero delete
    # (MERGE WHEN MATCHED AND cnt=0 THEN DELETE)
    merge_upsert(
        changed, dst, key_cols=["lang"], delete_condition="cnt = 0"
    )                                                              # dst v2

    full = agg(read_snapshot(spark, src)).withColumnsRenamed(
        {"cnt": "cnt_f", "sum_chars": "chars_f"}
    )
    return (
        read_snapshot(spark, dst)
        .join(full, "lang", "full_outer")
        .select(
            "lang",
            "cnt",
            "sum_chars",
            (
                F.col("cnt").eqNullSafe(F.col("cnt_f"))
                & F.col("sum_chars").eqNullSafe(F.col("chars_f"))
            ).alias("incremental_ok"),
        )
    )


@register(
    "length_percentile_filter_scalable",
    """
    SELECT lang,
           count(*) AS n_docs,
           TRUE AS lo_rank_ok,
           TRUE AS hi_rank_ok,
           TRUE AS kept_ge_ok
    FROM documents GROUP BY lang
    """,
    tags=("pipeline", "quality", "percentile", "sketch"),
    description="The 100 TB form of length_percentile_filter: per-lang 5%/95% "
    "cutoffs from ONE mergeable-sketch pass (percentile_approx, GK with rank "
    "error eps=1/accuracy=0.01) + a broadcast cutoff join — no per-lang sort "
    "window, so 5 langs never become 5 giant skewed sort partitions. The "
    "gate booleans assert exactly what the GK bound guarantees and nothing "
    "more: each returned cutoff's rank sits within eps*n of its target "
    "(checked two-sided via strict-below / at-or-below counts, which "
    "bracket rank under ties), and the kept count is at least "
    "(0.90-2*eps)*n. The oracle pins all three TRUE plus exact per-lang "
    "n_docs — a sketch regression (wrong quantile, broken accuracy knob) "
    "flips a boolean and fails the driver hash gate. Exact-rank companion: "
    "length_percentile_filter.",
)
def q_length_percentile_filter_scalable(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    eps = 0.01  # GK rank error = 1/accuracy
    cuts = (
        docs.groupBy("lang")
        .agg(
            F.percentile_approx(
                "n_chars", F.array(F.lit(0.05), F.lit(0.95)), F.lit(100)
            ).alias("pc")
        )
        .select("lang", F.col("pc")[0].alias("lo"), F.col("pc")[1].alias("hi"))
    )
    x = F.col("n_chars")
    counts = (
        docs.join(F.broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((x < F.col("lo")).cast("long")).alias("n_below_lo"),
            F.sum((x <= F.col("lo")).cast("long")).alias("n_le_lo"),
            F.sum((x < F.col("hi")).cast("long")).alias("n_below_hi"),
            F.sum((x <= F.col("hi")).cast("long")).alias("n_le_hi"),
            F.sum((x > F.col("hi")).cast("long")).alias("n_above_hi"),
        )
    )
    n = F.col("n")
    kept = n - F.col("n_below_lo") - F.col("n_above_hi")
    return counts.select(
        "lang",
        n.alias("n_docs"),
        (
            (F.col("n_below_lo") <= (0.05 + eps) * n + 1)
            & (F.col("n_le_lo") >= (0.05 - eps) * n - 1)
        ).alias("lo_rank_ok"),
        (
            (F.col("n_below_hi") <= (0.95 + eps) * n + 1)
            & (F.col("n_le_hi") >= (0.95 - eps) * n - 1)
        ).alias("hi_rank_ok"),
        (kept >= (0.90 - 2 * eps) * n - 2).alias("kept_ge_ok"),
    )


@register(
    "snapshot_merge_mor",
    f"""
    WITH cur AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'en'
    ),
    up1 AS (
      SELECT doc_id, lang, text, n_chars + 1000 AS n_chars
      FROM cur WHERE doc_id % 6 = 0),
    up2 AS (
      SELECT doc_id, lang, text, n_chars + 2000 AS n_chars
      FROM cur WHERE doc_id % 9 = 0),
    merged AS (
      SELECT * FROM cur
      WHERE doc_id % 6 <> 0 AND doc_id % 9 <> 0
      UNION ALL SELECT * FROM up1 WHERE doc_id % 9 <> 0
      UNION ALL SELECT * FROM up2
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS mor_ok
    FROM merged GROUP BY lang
    """,
    tags=("sources", "table-format", "merge", "deletion-vectors"),
    description="MERGE-ON-READ with positional deletion vectors (Delta "
    "DV / Iceberg positional-delete shaped): two STACKED "
    "merge_upsert(mor=True) commits — every 6th en doc updated, then "
    "every 9th updated AGAIN (the second vector must tombstone the "
    "first merge's appended rows, which are the visible versions, "
    "never double-delete) — writing only the updates plus two small "
    "(file, row_index) coordinate parquets while ZERO matched files "
    "rewrite; readers subtract the vectors with per-vector broadcast "
    "anti-joins over the covered shards only. compact_table then "
    "materialises both vectors and the final state must equal the "
    "pre-compaction read. mor_ok pins: no shard rewritten by either "
    "merge (all pre-merge files still live), exactly two pending "
    "vectors before compaction and zero after, and time travel to the "
    "pre-merge version reading the original rows. The oracle replays "
    "the two-round upsert algebra from the source table. The "
    "update-heavy 100 TB path: CDC apply / GDPR / backfill cost drops "
    "from O(matched files) rewrite to O(updates). Engine: "
    "sources/snapshot_table.py::merge_upsert(mor=True) + "
    "_scan_with_deletes.",
)
def q_snapshot_merge_mor(spark, sf_dir):

    from .sources.snapshot_table import (
        compact_table,
        merge_upsert,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    en = docs.where(F.col("lang") == "en")
    table = scratch_dir("mor")
    write_snapshot(en, table, stats_cols=["doc_id"])
    files_v1 = {s["file"] for s in snapshot_history(table)[-1]["shards"]}
    up1 = en.where(F.col("doc_id") % 6 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    merge_upsert(up1, table, key_cols=["doc_id"], mor=True)
    up2 = en.where(F.col("doc_id") % 9 == 0).withColumn(
        "n_chars", F.col("n_chars") + 2000
    )
    merge_upsert(up2, table, key_cols=["doc_id"], mor=True)
    snap = snapshot_history(table)[-1]
    n_dv = len([d for d in snap.get("deletes", []) if "positions" in d])
    no_rewrites = files_v1 <= {s["file"] for s in snap["shards"]}
    before = read_snapshot(spark, table)
    pre_compact = {tuple(r) for r in _lang_fp(before).collect()}
    compact_table(spark, table, target_shards=4)
    final = _lang_fp(read_snapshot(spark, table))
    mor_ok = bool(
        n_dv == 2
        and no_rewrites
        and not snapshot_history(table)[-1].get("deletes")
        and {tuple(r) for r in final.collect()} == pre_compact
        and read_snapshot(spark, table, 1).count() == en.count()
    )
    return final.withColumn("mor_ok", F.lit(mor_ok))


@register(
    "snapshot_merge_upsert",
    f"""
    WITH cur AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'en'
    ),
    upd AS (
      SELECT doc_id, lang, text, n_chars * 2 AS n_chars
      FROM documents WHERE lang = 'en' AND doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, lang, text, n_chars
      FROM documents WHERE lang = 'de'
    ),
    merged AS (
      SELECT * FROM cur WHERE doc_id NOT IN (SELECT doc_id FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM merged GROUP BY lang
    """,
    tags=("sources", "table-format", "merge"),
    description="Copy-on-write MERGE on the snapshot table under the oracle "
    "gate: commit the en documents, then merge_upsert a batch that UPDATES "
    "every third en doc (doubled n_chars) and INSERTS the de docs — one "
    "atomic snapshot, key = doc_id. The oracle recomputes the anti-join + "
    "union semantics straight from the source table and fingerprints the "
    "merged text bytes, so a row updated twice, dropped, or duplicated "
    "fails the hash gate. The WHEN MATCHED UPDATE / WHEN NOT MATCHED "
    "INSERT surface a corpus pipeline needs for re-crawls and metadata "
    "backfills; protocol in sources/snapshot_table.py.",
)
def q_snapshot_merge_upsert(spark, sf_dir):

    from .sources.snapshot_table import merge_upsert, read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    en = docs.where(F.col("lang") == "en")
    table = scratch_dir("snapmerge")
    write_snapshot(en, table, mode="append")
    upd = en.where(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.col("n_chars") * 2
    ).unionByName(docs.where(F.col("lang") == "de"))
    merge_upsert(upd, table, key_cols=["doc_id"])
    return _lang_fp(read_snapshot(spark, table))


@register(
    "snapshot_stream_ingest",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           CAST(3 AS BIGINT)            AS n_snapshots
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "exactly-once"),
    description="Streaming ingestion INTO the snapshot table under the oracle "
    "gate: the documents fixture split into three files, replayed as three "
    "micro-batches (maxFilesPerTrigger=1, availableNow) through "
    "streaming_snapshot_sink — each batch one atomic batch-id-stamped APPEND "
    "snapshot. The final table must fingerprint byte-identically to the "
    "source (no loss, duplication, or reorder across the batch boundaries) "
    "and n_snapshots pins that three separate commits actually happened. "
    "Replay idempotence and stop/restart for the same sink are gated in "
    "tests/test_snapshot_table.py.",
)
def q_snapshot_stream_ingest(spark, sf_dir):

    from .sources.snapshot_table import (
        latest_version,
        read_snapshot,
        streaming_snapshot_sink,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    src = _file_replay(
        spark, [docs.where(F.col("doc_id") % 3 == i) for i in range(3)],
        "snapingest-src",
    )
    table = scratch_dir("snapingest-table")
    ckpt = scratch_dir("snapingest-ckpt")
    drain(
        src.writeStream.foreachBatch(streaming_snapshot_sink(table))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "n_snapshots", F.lit(latest_version(table)).cast("long")
    )


@register(
    "snapshot_stream_upsert",
    f"""
    WITH en AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'en'),
    de AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'de'),
    final AS (
      SELECT doc_id, lang, text,
             CASE WHEN doc_id % 8 = 0 THEN n_chars + 3000
                  WHEN doc_id % 4 = 0 THEN n_chars + 1000
                  WHEN doc_id % 4 = 1 THEN n_chars + 2000
                  ELSE n_chars END AS n_chars
      FROM en
      UNION ALL SELECT doc_id, lang, text, n_chars FROM de)
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS stream_ok
    FROM final GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "merge",
          "deletion-vectors"),
    description="Continuous CDC-apply: streaming UPSERT into the snapshot "
    "table via streaming_merge_sink — the Delta 'MERGE in foreachBatch' "
    "pattern with MoR deletion vectors, so each micro-batch costs "
    "O(batch) instead of a CoW rewrite of every matched file. Three "
    "live micro-batches over a file stream (availableNow, one file per "
    "trigger): update every 4th en doc, update every 4th+1 AND insert "
    "the de docs, then RE-update every 8th (the second vector must "
    "tombstone the first batch's appended versions). stream_ok pins: "
    "exactly 3 merge commits each with mor=True and zero shards "
    "rewritten, 3 stacked vectors pending, and a direct REPLAY of "
    "batch 0 through the sink being skipped by the snapshot-log "
    "idempotence protocol (version unchanged — at-least-once "
    "foreachBatch becomes exactly-once table state). The oracle "
    "replays the three batches' upsert algebra in order. Engine: "
    "sources/snapshot_table.py::streaming_merge_sink.",
)
def q_snapshot_stream_upsert(spark, sf_dir):

    from .sources.snapshot_table import (
        latest_version,
        read_snapshot,
        snapshot_history,
        streaming_merge_sink,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    en = docs.where(F.col("lang") == "en")
    table = scratch_dir("streamupsert")
    write_snapshot(en, table, stats_cols=["doc_id"])            # v1
    batches = [
        en.where(F.col("doc_id") % 4 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        ),
        en.where(F.col("doc_id") % 4 == 1).withColumn(
            "n_chars", F.col("n_chars") + 2000
        ).unionByName(docs.where(F.col("lang") == "de")),
        en.where(F.col("doc_id") % 8 == 0).withColumn(
            "n_chars", F.col("n_chars") + 3000
        ),
    ]
    src = _file_replay(spark, batches, "streamupsert-src")
    ckpt = scratch_dir("streamupsert-ckpt")
    sink = streaming_merge_sink(table, ["doc_id"], app_id="cdc")
    drain(
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    head = latest_version(table)
    merges = [s for s in snapshot_history(table) if s["operation"] == "merge"]
    n_dv = len(
        [
            d
            for d in snapshot_history(table)[-1].get("deletes", [])
            if "positions" in d
        ]
    )
    sink(batches[0], 0)  # at-least-once replay: must be a no-op
    stream_ok = bool(
        head == 4
        and latest_version(table) == head  # the replay committed nothing
        and len(merges) == 3
        and all(
            s["properties"].get("mor") is True
            and s["properties"]["shards_rewritten"] == 0
            for s in merges
        )
        and n_dv == 3
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "stream_ok", F.lit(stream_ok)
    )


@register(
    "snapshot_cdc_stream",
    f"""
    WITH en AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'),
    de AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de'),
    state2 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM en
      UNION ALL SELECT doc_id, lang, n_chars FROM de),
    feed AS (
      SELECT doc_id, lang, n_chars,
             'insert' AS ct, 1 AS v FROM en
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete', 2
      FROM en WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars + 1000, 'insert', 2
      FROM en WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars, 'insert', 2 FROM de
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete', 3
      FROM state2 WHERE doc_id % 15 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars + 7, 'insert', 3
      FROM state2 WHERE doc_id % 15 = 0)
    SELECT CAST(v AS BIGINT)  AS commit_version,
           ct                 AS change_type,
           lang,
           count(*)           AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('doc_id')}) AS BIGINT) AS id_fp,
           TRUE               AS parity_ok
    FROM feed GROUP BY v, ct, lang
    """,
    tags=("sources", "table-format", "streaming", "cdc",
          "deletion-vectors"),
    description="The table→table CDC loop CLOSED: a snapshot table "
    "taking row-level DML (a MoR merge updating every 10th en doc and "
    "inserting the de docs, then a MoR update_where bumping every "
    "15th doc of the merged state) is subscribed to as a STREAM via "
    "the snapshot_cdc Python DataSource (Delta readChangeFeed "
    "streaming shaped) — offsets are snapshot versions, each commit's "
    "changes plan as per-file insert/delete-coordinate partitions "
    "read executor-side with pyarrow (pre-images = rows at the new "
    "vector's coordinates; the stack-over-visible-rows invariant "
    "guarantees no double-delete), so no downstream job ever polls "
    "versions by hand. The result aggregates the DRAINED feed per "
    "(commit, change_type, lang); parity_ok pins the streamed multiset "
    "bit-equal (signed multiset diff) to batch read_cdc over the same "
    "range. The oracle replays the three commits' change algebra. "
    "Engine: sources/snapshot_stream.py (snapshot_cdc), "
    "sources/snapshot_table.py::read_cdc.",
)
def q_snapshot_cdc_stream(spark, sf_dir):

    from .sources.snapshot_stream import register_snapshot_cdc
    from .sources.snapshot_table import (
        merge_upsert,
        read_cdc,
        update_where,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    table = scratch_dir("cdcstream")
    write_snapshot(en, table, stats_cols=["doc_id"])                 # v1
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    merge_upsert(upd.unionByName(de), table, key_cols=["doc_id"],
                 mor=True)                                           # v2
    update_where(
        spark, table, {"n_chars": "n_chars + 7"},
        "doc_id % 15 = 0", mor=True,
    )                                                                # v3

    register_snapshot_cdc(spark)
    out = scratch_dir("cdcstream-out") + "/feed"
    ckpt = scratch_dir("cdcstream-ckpt")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    drain(
        spark.readStream.format("snapshot_cdc")
        .option("path", table)
        .option("start_version", 0)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    feed_schema = (
        "doc_id long, lang string, n_chars long, "
        "_change_type string, _commit_version long"
    )
    streamed = spark.read.schema(feed_schema).parquet(out)
    batch = read_cdc(spark, table, 0).select(
        "doc_id", "lang", "n_chars", "_change_type", "_commit_version"
    )
    # one action, one pass per side (signed multiset diff — same
    # boolean as exceptAll both ways, half the scan/agg work)
    parity_ok = _multiset_diff(streamed, batch).isEmpty()
    return (
        streamed.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            "lang",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(portable_hash64(F.col("doc_id"))).cast("long").alias(
                "id_fp"
            ),
        )
        .withColumn("parity_ok", F.lit(parity_ok))
    )


@register(
    "snapshot_cdc_replication",
    f"""
    WITH en AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'),
    de AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de'),
    state2 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM en
      UNION ALL SELECT doc_id, lang, n_chars FROM de),
    state3 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 15 = 0 THEN n_chars + 7
                  ELSE n_chars END AS n_chars
      FROM state2),
    final AS (
      SELECT * FROM state3 WHERE doc_id % 12 <> 3)
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('doc_id')}) AS BIGINT) AS id_fp,
           TRUE                         AS replication_ok
    FROM final GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "cdc", "merge",
          "deletion-vectors"),
    description="The table→table CDC loop end to end — REPLICATION: an "
    "upstream snapshot table takes three MoR DML commits (merge "
    "updating every 10th en doc + inserting the de docs; update_where "
    "bumping every 15th doc; a delete-only merge removing every "
    "doc_id%12==3 row), and a downstream replica bootstrapped from v1 "
    "subscribes via the snapshot_cdc STREAM, applying each micro-batch "
    "through streaming_cdc_apply_sink: the feed reduces to one "
    "decision per key (highest _commit_version; insert beats delete "
    "within a version, so an update's pre/post pair nets to its "
    "post-image), post-images upsert and deleted keys remove via "
    "merge_upsert(delete_keys=) in ONE exactly-once commit per batch — "
    "CDC metadata columns never touch the replica's schema. "
    "replication_ok pins replica == upstream (signed multiset diff) AND "
    "a replayed batch committing nothing (snapshot-log idempotence). "
    "The result aggregates the REPLICA per lang; the oracle replays "
    "the three commits' state algebra. Engine: snapshot_stream.py "
    "(snapshot_cdc), snapshot_table.py::streaming_cdc_apply_sink, "
    "merge_upsert(delete_keys=).",
)
def q_snapshot_cdc_replication(spark, sf_dir):

    from .sources.snapshot_stream import register_snapshot_cdc
    from .sources.snapshot_table import (
        latest_version,
        merge_upsert,
        read_cdc,
        read_snapshot,
        streaming_cdc_apply_sink,
        update_where,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    en = docs.where(F.col("lang") == "en")
    de = docs.where(F.col("lang") == "de")
    up = scratch_dir("cdcrepl") + "/up"
    down = scratch_dir("cdcrepl") + "/down"
    write_snapshot(en, up, stats_cols=["doc_id"])                    # v1
    write_snapshot(en, down, stats_cols=["doc_id"])  # bootstrap = v1
    upd = en.where(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    merge_upsert(upd.unionByName(de), up, key_cols=["doc_id"],
                 mor=True)                                           # v2
    update_where(
        spark, up, {"n_chars": "n_chars + 7"}, "doc_id % 15 = 0",
        mor=True,
    )                                                                # v3
    victims = read_snapshot(spark, up).where(F.col("doc_id") % 12 == 3)
    merge_upsert(
        victims, up, key_cols=["doc_id"], mor=True,
        delete_condition="true",
    )                                                                # v4

    register_snapshot_cdc(spark)
    ckpt = scratch_dir("cdcrepl-ckpt")
    sink = streaming_cdc_apply_sink(down, ["doc_id"], app_id="repl")
    drain(
        spark.readStream.format("snapshot_cdc")
        .option("path", up)
        .option("start_version", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    replica = read_snapshot(spark, down)
    upstream = read_snapshot(spark, up)
    v_now = latest_version(down)
    sink(read_cdc(spark, up, 1, 2), 0)  # replay: must commit nothing
    replication_ok = (
        # one action, one pass per side (signed multiset diff — same
        # boolean as exceptAll both ways, half the scan/agg work)
        _multiset_diff(replica, upstream).isEmpty()
        and latest_version(down) == v_now
    )
    return (
        replica.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(portable_hash64(F.col("doc_id"))).cast("long").alias(
                "id_fp"
            ),
        )
        .withColumn("replication_ok", F.lit(replication_ok))
    )


@register(
    "snapshot_sink_ingest",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           CAST(3 AS BIGINT)            AS n_snapshots
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "extension-point"),
    description="Streaming ingestion INTO the snapshot table through the "
    "OFFICIAL Spark 4 sink extension point (DataSourceStreamArrowWriter — "
    "sources/snapshot_sink.py): writeStream.format('snapshot_sink'), three "
    "micro-batches, each task streaming its Arrow batches into one staged "
    "shard (stats computed from the batches in passing) and each batch one "
    "atomic batch-id-stamped APPEND snapshot committed by the driver. Twin "
    "of snapshot_stream_ingest (foreachBatch) — same oracle: the table must "
    "fingerprint byte-identically to the source and n_snapshots pins three "
    "separate commits. Restart idempotence, constraint rejection, and the "
    "source+sink round trip are gated in tests/test_snapshot_sink.py.",
)
def q_snapshot_sink_ingest(spark, sf_dir):

    from .sources.snapshot_sink import register_snapshot_sink
    from .sources.snapshot_table import latest_version, read_snapshot

    register_snapshot_sink(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    src = _file_replay(
        spark, [docs.where(F.col("doc_id") % 3 == i) for i in range(3)],
        "sinkingest-src",
    )
    table = scratch_dir("sinkingest-table")
    ckpt = scratch_dir("sinkingest-ckpt")
    drain(
        src.writeStream.format("snapshot_sink")
        .option("path", table)
        .option("app_id", "snapshot_sink_ingest")
        .option("stats_cols", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "n_snapshots", F.lit(latest_version(table)).cast("long")
    )


@register(
    "snapshot_delete_where",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(doc_id) / 4.0) AS BIGINT) AS t FROM documents
    ),
    kept AS (
      SELECT d.* FROM documents d, thr WHERE d.doc_id > thr.t
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS skipped_ok
    FROM kept GROUP BY lang
    """,
    tags=("sources", "table-format", "delete", "pruning"),
    description="Row-level DELETE on the snapshot table under the oracle "
    "gate: commit the documents, cluster-compact by doc_id (so per-shard "
    "min/max stats cover narrow key ranges), then delete_where the bottom "
    "quarter of the doc_id range with a prune bound. The survivors must "
    "fingerprint byte-identically to the SQL complement, and skipped_ok "
    "pins that at least one disjoint shard was CARRIED OVER untouched — "
    "the copy-on-write shard-skipping that makes a ranged delete on a "
    "clustered 100 TB table touch O(range/shard_span) files instead of "
    "rewriting the table. Protocol in sources/snapshot_table.py.",
)
def q_snapshot_delete_where(spark, sf_dir):

    from .sources.snapshot_table import (
        compact_table,
        delete_where,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapdelete")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=8, cluster_by=["doc_id"])
    thr = int(docs.agg(F.max("doc_id")).collect()[0][0] // 4)
    delete_where(
        spark, table, f"doc_id <= {thr}", prune=("doc_id", -(2**62), thr)
    )
    props = snapshot_history(table)[-1]["properties"]
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "skipped_ok", F.lit(bool(props["shards_skipped"] > 0))
    )


@register(
    "snapshot_update_where",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(doc_id) / 4.0) AS BIGINT) AS t FROM documents
    ),
    upd AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id <= t THEN 'redacted' ELSE d.lang END AS lang,
             d.text,
             CASE WHEN d.doc_id <= t THEN d.n_chars + 1000000
                  ELSE d.n_chars END AS n_chars
      FROM documents d, thr
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS skipped_ok
    FROM upd GROUP BY lang
    """,
    tags=("sources", "table-format", "update", "pruning"),
    description="Row-level UPDATE on the snapshot table under the oracle "
    "gate: commit the documents, cluster-compact by doc_id, then "
    "update_where the bottom quarter of the doc_id range (bump n_chars, "
    "re-tag lang) with a prune bound. The post-update table must "
    "fingerprint byte-identically to the SQL CASE-WHEN projection, and "
    "skipped_ok pins that at least one stats-disjoint shard was CARRIED "
    "OVER untouched — copy-on-write UPDATE with shard skipping, the "
    "Delta/Iceberg ranged-update shape that touches O(range/shard_span) "
    "files on a clustered 100 TB table. Protocol in "
    "sources/snapshot_table.py (update_where).",
)
def q_snapshot_update_where(spark, sf_dir):

    from .sources.snapshot_table import (
        compact_table,
        read_snapshot,
        snapshot_history,
        update_where,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapupdate")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=8, cluster_by=["doc_id"])
    thr = int(docs.agg(F.max("doc_id")).collect()[0][0] // 4)
    update_where(
        spark, table,
        {"lang": "'redacted'", "n_chars": "n_chars + CAST(1000000 AS BIGINT)"},
        f"doc_id <= {thr}", prune=("doc_id", -(2**62), thr),
    )
    props = snapshot_history(table)[-1]["properties"]
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "skipped_ok", F.lit(bool(props["shards_skipped"] > 0))
    )


@register(
    "snapshot_column_evolution",
    """
    SELECT doc_id,
           n_chars AS chars,
           CASE WHEN doc_id % 3 = 2 THEN lang END AS lang,
           TRUE AS history_ok
    FROM documents
    """,
    tags=("sources", "table-format", "schema-evolution"),
    description="Column evolution WITHOUT rewriting data files (Iceberg "
    "field-mapping / Delta column-mapping shaped): commit a third of the "
    "documents, RENAME n_chars->chars (metadata-only — readers alias the "
    "old physical bytes via per-shard logical->physical maps), append a "
    "second third under the new name (two physical layouts, one logical "
    "table), DROP lang, re-ADD a column named lang, then append the last "
    "third with real lang values. The final read must match the SQL twin "
    "exactly: chars carries every original n_chars value across both "
    "layouts, and lang is NULL for the first two thirds — pre-drop bytes "
    "NEVER resurface under the re-added name (the name-reuse trap the "
    "mapping closes). history_ok pins that time travel to v1 still shows "
    "the ORIGINAL schema (n_chars + populated lang) and that no data "
    "file was rewritten by any of the three ALTERs. Protocol in "
    "sources/snapshot_table.py (rename_column/drop_column/add_column).",
)
def q_snapshot_column_evolution(spark, sf_dir):

    from .sources.snapshot_table import (
        _load_snapshot,
        add_column,
        drop_column,
        read_snapshot,
        rename_column,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("snapevolve")
    write_snapshot(docs.where(F.col("doc_id") % 3 == 0), table)       # v1
    rename_column(spark, table, "n_chars", "chars")                   # v2
    write_snapshot(
        docs.where(F.col("doc_id") % 3 == 1).withColumnRenamed(
            "n_chars", "chars"
        ),
        table, mode="append",
    )                                                                 # v3
    drop_column(spark, table, "lang")                                 # v4
    add_column(spark, table, "lang", "string")                        # v5
    write_snapshot(
        docs.where(F.col("doc_id") % 3 == 2).select(
            "doc_id", F.col("n_chars").alias("chars"), "lang"
        ),
        table, mode="append",
    )                                                                 # v6
    v1_files = {s["file"] for s in _load_snapshot(table, 1)["shards"]}
    v5_files = {s["file"] for s in _load_snapshot(table, 5)["shards"]}
    old = read_snapshot(spark, table, 1)
    history_ok = (
        old.columns == ["doc_id", "lang", "n_chars"]
        and old.where(F.col("lang").isNull()).count() == 0
        and v1_files <= v5_files  # three ALTERs rewrote zero files
    )
    return read_snapshot(spark, table).select(
        "doc_id", "chars", "lang"
    ).withColumn("history_ok", F.lit(bool(history_ok)))


@register(
    "snapshot_metadata_agg",
    """
    SELECT CAST(count(*) AS BIGINT)  AS n_rows,
           CAST(min(doc_id) AS BIGINT)  AS min_doc_id,
           CAST(max(doc_id) AS BIGINT)  AS max_doc_id,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           TRUE AS metadata_only
    FROM documents
    """,
    tags=("sources", "table-format", "metadata", "pruning"),
    description="Metadata-only aggregates (Delta metadata-query "
    "optimisation / Iceberg manifest stats): commit the documents with "
    "per-shard doc_id/n_chars stats, then answer COUNT(*)/MIN/MAX from "
    "the snapshot log alone via table_stats — zero parquet files opened "
    "(the result row is BUILT from the metadata dict; there is no scan "
    "to push anything into). The values must hash-match the full-scan "
    "SQL twin exactly, proving the per-shard stats the pruning paths "
    "rely on compose to the true global extrema. At 100 TB this is the "
    "O(metadata)-vs-O(table) gap on the most common dashboard queries.",
)
def q_snapshot_metadata_agg(spark, sf_dir):

    from pyspark.sql import types as T

    from .sources.snapshot_table import table_stats, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    table = scratch_dir("snapmeta")
    write_snapshot(
        docs.repartition(8, "doc_id"), table,
        mode="append", stats_cols=["doc_id", "n_chars"],
    )
    s = table_stats(table)
    row = {
        "n_rows": int(s["n_rows"]),
        "min_doc_id": int(s["min"]["doc_id"]),
        "max_doc_id": int(s["max"]["doc_id"]),
        "min_chars": int(s["min"]["n_chars"]),
        "max_chars": int(s["max"]["n_chars"]),
        "metadata_only": True,
    }
    schema = T.StructType(
        [
            T.StructField("n_rows", T.LongType()),
            T.StructField("min_doc_id", T.LongType()),
            T.StructField("max_doc_id", T.LongType()),
            T.StructField("min_chars", T.LongType()),
            T.StructField("max_chars", T.LongType()),
            T.StructField("metadata_only", T.BooleanType()),
        ]
    )
    return spark.createDataFrame([row], schema)


@register(
    "snapshot_source_pushdown",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(doc_id) / 4.0) AS BIGINT) AS t FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS pruned_ok
    FROM documents, thr WHERE doc_id <= t GROUP BY lang
    """,
    tags=("sources", "table-format", "pushdown", "extension-api"),
    description="The snapshot table read through the OFFICIAL Spark 4 "
    "Python DataSource API (spark.read.format('snapshot_table')) with "
    "Catalyst-pushed filters driving the table's own metadata skipping: "
    "cluster-compact the documents by doc_id, read via the format with a "
    "plain .where() range predicate — pushFilters narrows the shard "
    "interval and partitions() plans ONLY the surviving shards (pruned "
    "shards never become tasks or open a footer). pruned_ok pins, from "
    "the planning-time log, that pushdown changed what was PLANNED "
    "(planned < total), while the rows must fingerprint exactly to the "
    "SQL filter twin — every filter is also retained by Spark, so "
    "correctness never depends on the skipping. The no-manual-prune "
    "Iceberg/Delta integration shape. Engine: "
    "sources/snapshot_datasource.py.",
)
def q_snapshot_source_pushdown(spark, sf_dir):
    import json

    from .sources.snapshot_datasource import register_snapshot_table_source
    from .sources.snapshot_table import compact_table, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapsrc")
    write_snapshot(docs, table, mode="append")
    compact_table(spark, table, target_shards=8, cluster_by=["doc_id"])
    register_snapshot_table_source(spark)
    thr = int(docs.agg(F.max("doc_id")).collect()[0][0] // 4)
    log = scratch_dir("snapsrc-plan") + "/plan.json"
    out = _lang_fp(
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load()
        .where(F.col("doc_id") <= thr)
    )
    rows = out.collect()  # materialise so the plan log exists
    plan = json.load(open(log))
    pruned_ok = bool(0 < plan["planned"] < plan["total"])
    return spark.createDataFrame(rows, out.schema).withColumn(
        "pruned_ok", F.lit(pruned_ok)
    )


@register(
    "snapshot_roundtrip_official",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(doc_id) / 4.0) AS BIGINT) AS t FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS pruned_ok
    FROM documents, thr WHERE doc_id <= t GROUP BY lang
    """,
    tags=("sources", "table-format", "extension-api", "pushdown"),
    description="Write AND read the snapshot table purely through the "
    "official Spark APIs: df.write.format('snapshot_table') range-"
    "clustered with Arrow-computed per-shard stats+blooms (two-phase "
    "commit — executors stage, the driver claims one atomic snapshot), "
    "then spark.read.format('snapshot_table') with a plain range "
    ".where() whose Catalyst-pushed filter prunes planned shards from "
    "those write-side stats. pruned_ok pins planned < total from the "
    "planning log; the rows must fingerprint exactly to the SQL filter "
    "twin. No engine-private calls anywhere in the data path — a user "
    "of the public format API gets the whole table format. Engine: "
    "sources/snapshot_datasource.py.",
)
def q_snapshot_roundtrip_official(spark, sf_dir):
    import json

    from .sources.snapshot_datasource import register_snapshot_table_source

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapofficial")
    register_snapshot_table_source(spark)
    (
        docs.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.format("snapshot_table")
        .option("stats_cols", "doc_id").option("bloom_cols", "doc_id")
        .mode("append").save(table)
    )
    thr = int(docs.agg(F.max("doc_id")).collect()[0][0] // 4)
    log = scratch_dir("snapofficial-plan") + "/plan.json"
    out = _lang_fp(
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load()
        .where(F.col("doc_id") <= thr)
    )
    rows = out.collect()  # materialise so the plan log exists
    plan = json.load(open(log))
    pruned_ok = bool(0 < plan["planned"] < plan["total"])
    return spark.createDataFrame(rows, out.schema).withColumn(
        "pruned_ok", F.lit(pruned_ok)
    )


@register(
    "snapshot_bloom_skip",
    """
    WITH m AS (SELECT max(doc_id) AS mx FROM documents),
    probes AS (
      SELECT 0 AS p FROM m
      UNION ALL SELECT CAST(floor(mx / 2) AS BIGINT) FROM m
      UNION ALL SELECT mx FROM m
    )
    SELECT d.doc_id, d.lang, d.n_chars, TRUE AS bloom_skipped_ok
    FROM documents d JOIN probes ON d.doc_id = probes.p
    """,
    tags=("sources", "table-format", "bloom", "pruning"),
    description="Bloom-filter FILE SKIPPING from snapshot metadata (Delta "
    "bloom-index shaped): commit the documents hash-split 8 ways with a "
    "per-shard doc_id bloom (2048 bits x 3 portable md5 hashes, stored as "
    "the sorted set-bit list), then point-look-up three deterministic keys "
    "via read_snapshot(bloom_point=...). Min/max stats cannot skip a point "
    "probe on a hash layout — every shard's range covers every key; the "
    "bloom skips all but the owning shard (+rare false positives), the "
    "100 TB needle-in-haystack read. Rows must equal the plain filter "
    "(no false negatives, by construction); bloom_skipped_ok pins that "
    "every probe scanned STRICTLY fewer shards than the table holds.",
)
def q_snapshot_bloom_skip(spark, sf_dir):

    from .sources.snapshot_table import (
        _bloom_may_contain,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("snapbloom")
    write_snapshot(
        docs.repartition(8, "doc_id"), table,
        mode="append", bloom_cols=["doc_id"],
    )
    mx = int(docs.agg(F.max("doc_id")).collect()[0][0])
    probes = [0, mx // 2, mx]
    snap = snapshot_history(table)[-1]
    n_shards = len(snap["shards"])
    skipped_ok = all(
        sum(
            1 for s in snap["shards"] if _bloom_may_contain(s, "doc_id", p)
        ) < n_shards
        for p in probes
    )
    parts = [
        read_snapshot(spark, table, bloom_point=("doc_id", p)).where(
            F.col("doc_id") == p
        )
        for p in probes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("bloom_skipped_ok", F.lit(bool(skipped_ok)))


@register(
    "snapshot_partition_prune",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS partition_pruned_ok
    FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
    """,
    tags=("sources", "table-format", "partitioning", "pruning"),
    description="PARTITION COLUMNS for the snapshot table (Delta/Iceberg "
    "PARTITIONED BY, hidden-partitioning flavor): commit documents with "
    "partition_by=['lang'] — staging splits shards so each holds exactly "
    "one lang while the column stays INSIDE the files, and the log records "
    "each shard's value — then read with partition_filter={lang: [en,de]} "
    "plus an official-source .where() probe. Partition pruning is the "
    "coarsest, EXACT skip tier (no false positives, unlike stats/blooms): "
    "at 100 TB a per-language job reads only its language's files from "
    "metadata alone. partition_pruned_ok pins BOTH paths scanning strictly "
    "fewer shards than the table holds AND exact per-shard purity; rows "
    "must fingerprint to the plain SQL filter twin. Engine: "
    "sources/snapshot_table.py (_stage_publish hive-shadow split, "
    "_partition_match), sources/snapshot_datasource.py (pushFilters tier).",
)
def q_snapshot_partition_prune(spark, sf_dir):
    import json

    from .sources.snapshot_datasource import register_snapshot_table_source
    from .sources.snapshot_table import (
        _partition_match,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snappart")
    write_snapshot(docs, table, partition_by=["lang"])
    snap = snapshot_history(table)[-1]
    total = len(snap["shards"])
    kept = [
        s for s in snap["shards"] if _partition_match(s, "lang", ["en", "de"])
    ]
    # exact tier: kept shards are PRECISELY the wanted partitions, and
    # the official source's pushed equality prunes its plan the same way
    exact_ok = 0 < len(kept) < total and all(
        s["partition"]["lang"] in ("en", "de") for s in kept
    )
    register_snapshot_table_source(spark)
    log = scratch_dir("snappart-plan") + "/plan.json"
    probe = (
        spark.read.format("snapshot_table")
        .option("path", table).option("plan_log", log)
        .load().where(F.col("lang") == "en")
    )
    n_en = probe.count()  # materialise so the plan log exists
    plan = json.load(open(log))
    pruned_ok = bool(
        exact_ok
        and 0 < plan["planned"] < plan["total"]
        and n_en == sum(
            s["n_rows"] for s in kept if s["partition"]["lang"] == "en"
        )
    )
    return _lang_fp(
        read_snapshot(
            spark, table, partition_filter={"lang": ["en", "de"]}
        )
        .where(F.col("lang").isin("en", "de"))
    ).withColumn("partition_pruned_ok", F.lit(pruned_ok))


@register(
    "snapshot_spec_evolution",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS spec_ok
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "partitioning", "evolution"),
    description="Partition SPEC EVOLUTION (Iceberg update_spec): half the "
    "docs commit under partition_by=['lang'], set_partition_spec switches "
    "to bucket(4, doc_id) METADATA-ONLY (same physical files, one JSON "
    "commit), the other half appends under the new spec — the table then "
    "holds mixed-spec shards, which the conservative triage makes safe: "
    "a probe on the new field prunes new shards and keeps old ones, "
    "show_partitions lists old shards under the visible None tuple (never "
    "conflated with a recorded NULL), and drop_partition refuses until "
    "compact_partitions migrates. spec_ok pins the no-rewrite claim "
    "(file-set equality across the spec commit), mixed recordings "
    "present, and show_partitions totals equal exact rows. At 100 TB "
    "this is how a table re-keys (new tenant scheme, finer time grain) "
    "without an O(table) rewrite. Engine: snapshot_table.py::"
    "set_partition_spec / show_partitions.",
)
def q_snapshot_spec_evolution(spark, sf_dir):

    from .sources.snapshot_table import (
        _load_snapshot,
        read_snapshot,
        set_partition_spec,
        show_partitions,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snapspec")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table,
                   partition_by=["lang"])                       # v1
    v2 = set_partition_spec(table, ["bucket(4, doc_id)"])       # v2
    write_snapshot(docs.where(F.col("doc_id") % 2 == 1), table)  # v3
    s1, s2, s3 = (
        _load_snapshot(table, v) for v in (1, v2, v2 + 1)
    )
    parts = show_partitions(table)
    spec_ok = bool(
        {s["file"] for s in s2["shards"]}
        == {s["file"] for s in s1["shards"]}  # metadata-only switch
        and s2["partition_by"] == ["bucket(4, doc_id)"]
        and any("lang" in s.get("partition", {}) for s in s3["shards"])
        and any(
            "bucket(4, doc_id)" in s.get("partition", {})
            for s in s3["shards"]
        )
        and sum(p["n_rows"] for p in parts) == s3["n_rows"]
        and any(p["partition"] is None for p in parts)  # old spec visible
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "spec_ok", F.lit(spec_ok)
    )


@register(
    "snapshot_partition_compaction",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS scoped_ok
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "partitioning", "maintenance"),
    description="Partition-SCOPED compaction (Iceberg rewrite_data_files "
    "with a filter / Delta OPTIMIZE WHERE): after three small appends "
    "into one hot partition, compact_partitions({lang: en}) merges ONLY "
    "that partition's shards — every other partition's files carry into "
    "the new snapshot verbatim (same physical names, zero read, zero "
    "write), the op is row-preserving (properties.compaction — CDC/"
    "incremental readers skip it), and unstamped straggler shards get "
    "re-split and stamped under the spec. At 100 TB this is THE standing "
    "maintenance job for streaming ingest into a partitioned table: "
    "O(hot partition), never O(table). scoped_ok pins the carried files "
    "byte-identical by name, the hot partition collapsing to the target "
    "shard count, and total rows unchanged. Engine: snapshot_table.py::"
    "compact_partitions.",
)
def q_snapshot_partition_compaction(spark, sf_dir):

    from .sources.snapshot_table import (
        _load_snapshot,
        compact_partitions,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snapcompactp")
    write_snapshot(docs, table, partition_by=["lang"])
    en = docs.where(F.col("lang") == "en")
    for i in (0, 1, 2):  # hot-partition small-file appends
        write_snapshot(en.where(F.col("doc_id") % 3 == i), table)
    snap = snapshot_history(table)[-1]
    en_before = [
        s for s in snap["shards"] if s["partition"]["lang"] == "en"
    ]
    others = sorted(
        s["file"] for s in snap["shards"] if s["partition"]["lang"] != "en"
    )
    total = snap["n_rows"]
    v = compact_partitions(spark, table, {"lang": "en"}, target_shards=1)
    after = _load_snapshot(table, v)
    scoped_ok = bool(
        after["properties"]["shards_rewritten"] == len(en_before)
        and sorted(
            s["file"] for s in after["shards"]
            if s["partition"]["lang"] != "en"
        ) == others
        and len(
            [s for s in after["shards"] if s["partition"]["lang"] == "en"]
        ) == 1
        and after["n_rows"] == total
    )
    # the result reads the WHOLE table (en duplicated by the appends is
    # part of the layout story, not the rows: dedupe back to the base
    # set so the oracle is the plain documents aggregate)
    return _lang_fp(
        read_snapshot(spark, table).dropDuplicates(["doc_id"])
    ).withColumn("scoped_ok", F.lit(scoped_ok))


@register(
    "snapshot_hidden_partition",
    """
    WITH m AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    probes AS (
      SELECT mn AS p FROM m
      UNION ALL SELECT CAST(floor((mn + mx) / 2) AS BIGINT) FROM m
      UNION ALL SELECT mx FROM m
    )
    SELECT d.doc_id, d.lang, d.n_chars, TRUE AS hidden_prune_ok
    FROM documents d JOIN probes ON d.doc_id = probes.p
    """,
    tags=("sources", "table-format", "partitioning", "pushdown"),
    description="HIDDEN partitioning via transforms (Iceberg partition "
    "spec): commit documents with partition_by=['bucket(16, doc_id)'] — "
    "staging records portable_hash64(doc_id) %% 16 per shard — then "
    "point-look-up three deterministic keys through the official source "
    "with plain .where(doc_id = k) filters. The reader maps each pushed "
    "equality through the bucket transform, so the user NEVER addresses "
    "buckets (the Iceberg fix for hive-layout leakage), yet each probe "
    "plans ~1/16 of the shards. bucket() gives point-skipping on a key "
    "with no cluster order — the partition-tier twin of the bloom index, "
    "but exact and O(1) metadata per shard. hidden_prune_ok pins every "
    "probe planning strictly fewer shards than the table holds AND the "
    "transform twin agreeing (Python md5 == JVM md5). Engine: "
    "snapshot_table.py::_parse_partition_spec, snapshot_datasource.py.",
)
def q_snapshot_hidden_partition(spark, sf_dir):
    import json

    from .sources.snapshot_datasource import register_snapshot_table_source
    from .sources.snapshot_table import (
        _parse_partition_spec,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("snaphidden")
    write_snapshot(docs, table, partition_by=["bucket(16, doc_id)"])
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    probes = [int(mn), int((mn + mx) // 2), int(mx)]
    register_snapshot_table_source(spark)
    bucket = _parse_partition_spec("bucket(16, doc_id)")["py"]
    shards = snapshot_history(table)[-1]["shards"]

    def _probe(p):
        log = scratch_dir("snaphidden-plan") + "/plan.json"
        out = (
            spark.read.format("snapshot_table")
            .option("path", table).option("plan_log", log)
            .load().where(F.col("doc_id") == p)
        )
        rows = out.collect()
        plan = json.load(open(log))
        p_ok = 0 < plan["planned"] < plan["total"]
        # twin agreement, for real: the reader must have planned
        # EXACTLY the shards whose JVM-recorded bucket equals the
        # Python twin's bucket of the probe — if the two md5 paths
        # ever diverged, planned would disagree with this count (and
        # the probe's row would vanish from rows)
        owning = [
            s for s in shards
            if s["partition"]["bucket(16, doc_id)"] == bucket(p)
        ]
        p_ok = p_ok and plan["planned"] == len(owning) > 0 and len(rows) == 1
        return spark.createDataFrame(rows, out.schema), p_ok

    # the three probes are independent reads; each pays ~0.5s of
    # Python-DataSource planning gap before a ~0.2s job — overlap them
    # (guide §2.6) so the gaps back-fill instead of serialising
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(probes)) as pool:
        results = list(pool.map(_probe, probes))
    parts = [df for df, _ in results]
    ok = all(p_ok for _, p_ok in results)
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.withColumn("hidden_prune_ok", F.lit(bool(ok)))


@register(
    "snapshot_drop_partition",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS drop_ok
    FROM documents WHERE lang <> 'zh' GROUP BY lang
    """,
    tags=("sources", "table-format", "partitioning", "dml"),
    description="DROP PARTITION as a metadata-only commit (Iceberg DROP "
    "PARTITION / Delta partition-predicate delete fast path): commit "
    "documents partitioned by lang, then drop_partition(lang='zh') — one "
    "JSON commit removes exactly the partition's shards from the live set "
    "with zero rows read or written (shards are partition-pure, so the "
    "drop is EXACT). drop_ok pins the three claims: no new data files "
    "exist after the commit (metadata-only), rows_dropped equals the "
    "partition's recorded count, and time travel to v1 still reads the "
    "dropped rows. The 100 TB retention primitive — expiring a day/"
    "language/tenant costs O(shards) driver work regardless of data size. "
    "Composes with partition_prune on delete_where/update_where for "
    "WITHIN-partition DML (tested). Engine: sources/snapshot_table.py::"
    "drop_partition.",
)
def q_snapshot_drop_partition(spark, sf_dir):
    import glob as _glob
    import os as _os

    from .sources.snapshot_table import (
        _load_snapshot,
        drop_partition,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snapdrop")
    write_snapshot(docs, table, partition_by=["lang"])
    files_before = set(
        _glob.glob(_os.path.join(table, "data", "part-*.parquet"))
    )
    n_zh = docs.where(F.col("lang") == "zh").count()
    v = drop_partition(table, {"lang": "zh"})
    snap = _load_snapshot(table, v)
    files_after = set(
        _glob.glob(_os.path.join(table, "data", "part-*.parquet"))
    )
    drop_ok = bool(
        files_after == files_before  # metadata-only: zero files written
        and snap["properties"]["rows_dropped"] == n_zh
        and read_snapshot(spark, table, 1)
        .where(F.col("lang") == "zh")
        .count() == n_zh
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "drop_ok", F.lit(drop_ok)
    )


@register(
    "snapshot_replace_partition",
    f"""
    WITH final AS (
      SELECT doc_id, lang, text,
             CASE WHEN lang = 'en' THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE lang <> 'en' OR doc_id % 10 <> 0)
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS replace_ok
    FROM final GROUP BY lang
    """,
    tags=("sources", "table-format", "partitioning", "dml"),
    description="ATOMIC partition overwrite (Iceberg replacePartitions / "
    "INSERT OVERWRITE ... PARTITION): commit documents partitioned by "
    "lang, then replace_partition swaps the 'en' partition for a "
    "re-materialized version (n_chars corrected by +1000, every 10th doc "
    "dropped — a REPLACE, not an upsert) in ONE commit, so no reader can "
    "see the hole the drop_partition+write composition exposes between "
    "its two commits. replace_ok pins the three claims: every non-en "
    "shard is carried into the new snapshot under the SAME file name "
    "(byte-identical, zero read/write), time travel to v1 still reads "
    "the full original en partition, and the whole replace is exactly "
    "one version. The daily re-materialization primitive at 100 TB: "
    "rebuilding one day touches one partition's files plus O(shards) "
    "metadata. Engine: sources/snapshot_table.py::replace_partition.",
)
def q_snapshot_replace_partition(spark, sf_dir):

    from .sources.snapshot_table import (
        _load_snapshot,
        read_snapshot,
        replace_partition,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snapreplace")
    write_snapshot(docs, table, partition_by=["lang"])
    v1_files = {
        s["file"]: s["partition"]["lang"]
        for s in snapshot_history(table)[-1]["shards"]
    }
    en = docs.where(F.col("lang") == "en")
    n_en = en.count()
    fixed_en = en.where(F.col("doc_id") % 10 != 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    v = replace_partition(fixed_en, table, {"lang": "en"})
    snap = _load_snapshot(table, v)
    carried = {
        s["file"] for s in snap["shards"] if s["partition"]["lang"] != "en"
    }
    replace_ok = bool(
        v == 2  # ONE commit — never a drop+write hole
        and carried == {f for f, l in v1_files.items() if l != "en"}
        and snap["properties"]["rows_replaced"] == n_en
        and read_snapshot(spark, table, 1)
        .where(F.col("lang") == "en")
        .count() == n_en
    )
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "replace_ok", F.lit(replace_ok)
    )


@register(
    "snapshot_incremental_read",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang
    """,
    tags=("sources", "table-format", "incremental", "cdc"),
    description="Incremental append scan (Iceberg incremental read / Delta "
    "CDF append fast path) under the oracle gate: three appends with a "
    "small-file compaction between the last two, then read_changes since "
    "version 1 — purely from snapshot metadata, reading ONLY the files the "
    "later appends added. The result must fingerprint exactly batch-2-plus-"
    "batch-3: batch 1 excluded (already present at the start version) and "
    "the compaction contributing nothing (layout-only rewrite, skipped like "
    "an Iceberg replace snapshot). The primitive that lets downstream jobs "
    "refresh derived tables without rescanning a 100 TB base table.",
)
def q_snapshot_incremental_read(spark, sf_dir):

    from .sources.snapshot_table import (
        compact_table,
        read_changes,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapcdc")
    write_snapshot(docs.where(F.col("doc_id") % 3 == 0), table, mode="append")
    write_snapshot(docs.where(F.col("doc_id") % 3 == 1), table, mode="append")
    compact_table(spark, table, target_shards=2)
    write_snapshot(docs.where(F.col("doc_id") % 3 == 2), table, mode="append")
    return _lang_fp(read_changes(spark, table, start_version=1))


@register(
    "snapshot_rollback",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           CAST(3 AS BIGINT)            AS n_versions
    FROM documents WHERE lang = 'en' GROUP BY lang
    """,
    tags=("sources", "table-format", "rollback"),
    description="RESTORE/rollback on the snapshot table under the oracle "
    "gate: commit the en documents (v1), overwrite with the fr documents "
    "(v2 — the 'bad' commit), then rollback to v1 as a NEW audited commit "
    "(v3). The latest read must fingerprint byte-identically to v1's rows "
    "(same shard files, zero rewrite) and n_versions pins that the bad "
    "commit stays in history — rollback is a commit, not an erasure. The "
    "recover-from-a-bad-load primitive every production table layer needs.",
)
def q_snapshot_rollback(spark, sf_dir):

    from .sources.snapshot_table import (
        latest_version,
        read_snapshot,
        rollback,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snaprollback")
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="append")
    write_snapshot(docs.where(F.col("lang") == "fr"), table, mode="overwrite")
    rollback(table, 1)
    return _lang_fp(read_snapshot(spark, table)).withColumn(
        "n_versions", F.lit(latest_version(table)).cast("long")
    )


@register(
    "snapshot_changes_stream",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "cdc"),
    description="The snapshot table as a live Structured Streaming SOURCE "
    "(Delta readStream shaped) under the oracle gate: three appends with a "
    "compaction between the last two, then a real streaming query over the "
    "snapshot_changes Python DataSource (offsets = snapshot versions, "
    "availableNow drain into a memory sink) starting from version 1. The "
    "drained rows must fingerprint exactly batch-2-plus-batch-3 — batch 1 "
    "behind the start offset, the compaction contributing nothing. Offsets "
    "being versions and file resolution being a pure function of the "
    "version range makes restart exactly-once BY CONSTRUCTION (gated live "
    "in tests/test_streaming_live.py). Batch twin: "
    "snapshot_incremental_read (same oracle, metadata-only read).",
)
def q_snapshot_changes_stream(spark, sf_dir):
    import uuid as _uuid

    from .sources.snapshot_stream import register_snapshot_changes
    from .sources.snapshot_table import compact_table, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    table = scratch_dir("snapchgq")
    write_snapshot(docs.where(F.col("doc_id") % 3 == 0), table, mode="append")
    write_snapshot(docs.where(F.col("doc_id") % 3 == 1), table, mode="append")
    compact_table(spark, table, target_shards=2)
    write_snapshot(docs.where(F.col("doc_id") % 3 == 2), table, mode="append")
    register_snapshot_changes(spark)
    sink = f"snapchg_{_uuid.uuid4().hex[:8]}"
    drain(
        spark.readStream.format("snapshot_changes")
        .option("path", table)
        .option("start_version", 1)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return _lang_fp(spark.table(sink))


@register(
    "snapshot_table_chain",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
    FROM documents WHERE n_chars >= 100 GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "pipeline"),
    description="Chained incremental tables end-to-end under the oracle "
    "gate — the shape a 100 TB corpus pipeline actually runs as: raw "
    "documents stream-ingested into table A (three batch-id-stamped "
    "append snapshots via streaming_snapshot_sink), then a SECOND "
    "streaming query reads A as a snapshot_changes source, applies a "
    "quality filter (n_chars >= 100), and commits the survivors into "
    "table B through the same exactly-once sink. Table B must "
    "fingerprint byte-identically to the SQL filter over the source — "
    "no loss, duplication, or reorder across TWO table boundaries and "
    "two streaming checkpoints. Each stage is restartable at its own "
    "checkpoint (gated individually in tests); the chain is why tables "
    "double as sources: downstream refresh is O(new data), never "
    "O(table).",
)
def q_snapshot_table_chain(spark, sf_dir):

    from .sources.snapshot_stream import register_snapshot_changes
    from .sources.snapshot_table import read_snapshot, streaming_snapshot_sink

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    src = _file_replay(
        spark, [docs.where(F.col("doc_id") % 3 == i) for i in range(3)],
        "chain-src",
    )
    table_a = scratch_dir("chain-a")
    table_b = scratch_dir("chain-b")
    # stage 1: raw files -> table A (exactly-once snapshot ingest)
    drain(
        src.writeStream.foreachBatch(streaming_snapshot_sink(table_a))
        .option("checkpointLocation", scratch_dir("chain-ck1"))
        .trigger(availableNow=True)
        .start()
    )
    # stage 2: table A as a stream -> filter -> table B
    register_snapshot_changes(spark)
    sink_b = streaming_snapshot_sink(table_b)
    drain(
        spark.readStream.format("snapshot_changes")
        .option("path", table_a)
        .option("start_version", 0)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: sink_b(df.where(F.col("n_chars") >= 100), bid)
        )
        .option("checkpointLocation", scratch_dir("chain-ck2"))
        .trigger(availableNow=True)
        .start()
    )
    return _lang_fp(read_snapshot(spark, table_b))


@register(
    "snapshot_lazy_delete",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(n_chars) / 2.0) AS BIGINT) AS t
      FROM documents WHERE lang = 'en'
    ),
    v AS (
      SELECT d.* FROM documents d, thr
      WHERE d.lang = 'en' AND NOT (d.n_chars > thr.t)
      UNION ALL
      SELECT d.* FROM documents d WHERE d.lang = 'de'
    ),
    agg AS (
      SELECT lang,
             count(*)                     AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp
      FROM v GROUP BY lang
    )
    SELECT 3 AS version, TRUE AS metadata_only_ok, agg.* FROM agg
    UNION ALL
    SELECT 4 AS version, TRUE AS metadata_only_ok, agg.* FROM agg
    """,
    tags=("sources", "table-format", "delete", "merge-on-read"),
    description="MERGE-ON-READ delete under the oracle gate (Iceberg "
    "equality-delete / Hudi MOR shaped): commit the en documents, lazy-"
    "delete the upper half of the n_chars range as a METADATA-ONLY "
    "tombstone (metadata_only_ok pins that not one data file changed), "
    "then append the de documents — whose matching rows must SURVIVE, "
    "because the tombstone names only the shards live when it committed "
    "(the sequence-number rule, encoded explicitly). Version 3 reads "
    "merge-on-read (NOT-filter applied at scan time); version 4 is the "
    "same table after compact_table materialised the tombstone — both "
    "must fingerprint identically to the SQL twin, proving read-time "
    "apply and rewrite-time materialise agree byte-for-byte. The "
    "update-heavy-workload answer where copy-on-write would rewrite hot "
    "files over and over.",
)
def q_snapshot_lazy_delete(spark, sf_dir):
    import os as _os

    from .sources.snapshot_table import (
        compact_table,
        delete_where,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    en = docs.where(F.col("lang") == "en")
    table = scratch_dir("snaplazy")
    write_snapshot(en, table, mode="append")
    thr = int(en.agg(F.max("n_chars")).collect()[0][0] // 2)
    data_dir = _os.path.join(table, "data")
    before = sorted(_os.listdir(data_dir))
    delete_where(spark, table, f"n_chars > {thr}", lazy=True)
    metadata_only = sorted(_os.listdir(data_dir)) == before
    write_snapshot(docs.where(F.col("lang") == "de"), table, mode="append")

    def stats(version, label):
        return _lang_fp(read_snapshot(spark, table, version)).select(
            F.lit(label).alias("version"),
            F.lit(bool(metadata_only)).alias("metadata_only_ok"),
            "lang", "n_docs", "sum_chars", "text_fp",
        )

    mor = stats(3, 3)  # merge-on-read: tombstone applied at scan time
    compact_table(spark, table, target_shards=2)  # materialises -> v4
    return mor.unionByName(stats(4, 4))


@register(
    "udtf_sentence_explode",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, '. '), x -> x <> '') AS parts
      FROM documents),
    w AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(parts)),
                    i -> struct_pack(i := i - 1, sent := parts[i]))) AS u
      FROM t)
    SELECT lang,
           COUNT(*) AS n_sentences,
           CAST(SUM(length(u.sent)) AS BIGINT) AS sum_chars,
           CAST(SUM({oracle_hash_sql(
               "concat(CAST(doc_id AS VARCHAR), '|', CAST(u.i AS VARCHAR), '|', u.sent)"
           )}) AS BIGINT) AS sent_fp
    FROM w GROUP BY lang
    """,
    tags=("functions", "udtf", "extension-point"),
    description="Python UDTF — the third Spark-4 Python extension point, "
    "completing the surface next to the custom DataSource and two-phase "
    "DataSink: a SQL-callable table function (LATERAL sentence_explode) "
    "splitting each document into indexed sentences with a deliberately "
    "trivial portable rule (literal '. ' split, empties dropped, index "
    "after filtering). The oracle replays the split in DuckDB and "
    "fingerprints every (doc, idx, sentence) triple, so ordering, "
    "filtering, or boundary drift in the UDTF row stream fails the hash "
    "gate. UDTFs are per-row Python — the SLOW path, kept out of "
    "relational hot paths by the JVM-only plan gate, exactly like the "
    "codec boundary (functions/udtfs.py).",
)
def q_udtf_sentence_explode(spark, sf_dir):
    import uuid as _uuid

    from .functions.hashing import HASH_SPACE  # noqa: F401 (parity family)
    from .functions.udtfs import register_udtfs

    register_udtfs(spark)
    view = f"docs_udtf_{_uuid.uuid4().hex[:8]}"
    _t(spark, sf_dir, "documents").select("doc_id", "lang", "text").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT d.lang,
               COUNT(*) AS n_sentences,
               CAST(SUM(length(s.sentence)) AS BIGINT) AS sum_chars,
               CAST(SUM(CAST(conv(substr(md5(concat(
                   CAST(s.doc_id AS STRING), '|',
                   CAST(s.sent_idx AS STRING), '|', s.sentence)), 1, 8),
                   16, 10) AS BIGINT)) AS BIGINT) AS sent_fp
        FROM {view} d, LATERAL sentence_explode(d.doc_id, d.text) s
        GROUP BY d.lang
    """)


@register(
    "variant_json_extract",
    """
    WITH j AS (
      SELECT doc_id, lang,
             concat('{"id":', CAST(doc_id AS VARCHAR),
                    ',"meta":{"lang":"', lang,
                    '","nc":', CAST(n_chars AS VARCHAR),
                    '},"tags":["t', CAST(doc_id % 3 AS VARCHAR),
                    '","x"]}') AS js
      FROM documents)
    SELECT json_extract_string(js, '$.meta.lang')            AS vlang,
           count(*)                                          AS n_docs,
           CAST(sum(CAST(json_extract(js, '$.meta.nc') AS BIGINT))
                AS BIGINT)                                   AS sum_nc,
           CAST(sum(CASE WHEN json_extract_string(js, '$.tags[0]') = 't1'
                         THEN 1 ELSE 0 END) AS BIGINT)       AS n_tag1
    FROM j
    WHERE CAST(json_extract(js, '$.id') AS BIGINT) % 2 = 0
    GROUP BY 1
    """,
    tags=("functions", "variant", "semi-structured"),
    description="Spark-4 VARIANT path for semi-structured metadata "
    "columns (the shape every training-data pipeline carries alongside "
    "text/bytes): a deterministic JSON document is built per row with "
    "the SAME concat in both engines, then parse_json lifts it to "
    "VARIANT once and try_variant_get extracts typed fields — a nested "
    "object string, a nested bigint summed, an array element tested, "
    "and a top-level id filtered on — grouped by the extracted value. "
    "The DuckDB twin replays extraction with json_extract, so any "
    "path-semantics, type-coercion, or NULL-on-miss drift between the "
    "two engines fails the hash gate. VARIANT's binary encoding parses "
    "the JSON once per row instead of once per ...variant_get (the "
    "Spark-4 advantage over chained get_json_object at 100 TB); "
    "extraction is JVM-side, fully inside whole-stage codegen.",
)
def q_variant_json_extract(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    js = F.concat(
        F.lit('{"id":'), F.col("doc_id").cast("string"),
        F.lit(',"meta":{"lang":"'), F.col("lang"),
        F.lit('","nc":'), F.col("n_chars").cast("string"),
        F.lit('},"tags":["t'), (F.col("doc_id") % 3).cast("string"),
        F.lit('","x"]}'),
    )
    v = F.parse_json(js)
    return (
        docs.select(
            F.try_variant_get(v, "$.meta.lang", "string").alias("vlang"),
            F.try_variant_get(v, "$.meta.nc", "bigint").alias("vnc"),
            F.try_variant_get(v, "$.tags[0]", "string").alias("tag0"),
            F.try_variant_get(v, "$.id", "bigint").alias("vid"),
        )
        .where(F.col("vid") % 2 == 0)
        .groupBy("vlang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("vnc").cast("long").alias("sum_nc"),
            F.sum((F.col("tag0") == "t1").cast("long")).cast("long").alias(
                "n_tag1"
            ),
        )
    )


@register(
    "snapshot_files_metadata",
    """
    SELECT lang,
           count(*)                      AS n_docs,
           CAST(min(doc_id) AS BIGINT)   AS min_doc,
           CAST(max(doc_id) AS BIGINT)   AS max_doc,
           TRUE                          AS meta_ok
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "metadata", "inspection"),
    description="Iceberg-style INSPECTION TABLES (read_metadata_table: "
    "history/files/partitions as DataFrames, zero data files opened): "
    "commit documents lang-partitioned with doc_id stats, then answer a "
    "real per-language COUNT/MIN/MAX query FROM THE FILES METADATA ALONE "
    "— partition values give exact group keys (shards are partition-"
    "pure), per-shard recorded [min,max] fold to exact group extrema, "
    "n_rows sums to exact counts — and the DuckDB oracle computes the "
    "same answer by SCANNING the data. O(shards) metadata vs O(table) "
    "scan, the audit/ops surface a 100 TB table is actually managed "
    "through. meta_ok pins the partitions inspection table agreeing "
    "with the files table on totals and the history table recording the "
    "commit. Engine: snapshot_table.py::read_metadata_table.",
)
def q_snapshot_files_metadata(spark, sf_dir):

    from .sources.snapshot_table import (
        read_metadata_table,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("snapmeta")
    write_snapshot(
        docs, table, partition_by=["lang"], stats_cols=["doc_id"]
    )
    files = read_metadata_table(spark, table, "files")
    parts = read_metadata_table(spark, table, "partitions")
    hist = read_metadata_table(spark, table, "history")
    n_total = docs.count()
    meta_ok = bool(
        parts.agg(F.sum("n_rows")).collect()[0][0] == n_total
        and files.agg(F.sum("n_rows")).collect()[0][0] == n_total
        and hist.where(
            (F.col("version") == 1) & (F.col("operation") == "append")
        ).count() == 1
    )
    return (
        files.select(
            F.col("partition")["lang"].alias("lang"),
            F.col("n_rows"),
            F.element_at(F.col("stats")["doc_id"], 1)
            .cast("bigint").alias("lo"),
            F.element_at(F.col("stats")["doc_id"], 2)
            .cast("bigint").alias("hi"),
        )
        .groupBy("lang")
        .agg(
            F.sum("n_rows").cast("long").alias("n_docs"),
            F.min("lo").cast("long").alias("min_doc"),
            F.max("hi").cast("long").alias("max_doc"),
        )
        .withColumn("meta_ok", F.lit(meta_ok))
    )


@register(
    "recursive_tree_depth",
    f"""
    WITH RECURSIVE tree AS (
      SELECT doc_id, 1 AS depth FROM documents WHERE doc_id = 1
      UNION ALL
      SELECT d.doc_id, t.depth + 1
      FROM documents d
      JOIN tree t ON CAST(floor(d.doc_id / 2) AS BIGINT) = t.doc_id
    )
    SELECT t.depth,
           count(*)                     AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('d.text')}) AS BIGINT) AS text_fp
    FROM tree t JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY t.depth
    """,
    tags=("functions", "recursive-cte", "iterative", "sql"),
    description="Recursive CTE (new in Spark 4): transitive closure over "
    "the implicit binary tree parent(id) = floor(id/2) rooted at 1 — "
    "every document joins the frontier of its parent's depth, so the "
    "recursion runs exactly ceil(log2 N) rounds (the scale-safe "
    "recursion shape: iteration count grows with log of data, each round "
    "one hash join; contrast a linked-list chain, which would need N "
    "rounds). Depth histogram with per-depth char sums and text "
    "fingerprints; DuckDB executes the IDENTICAL WITH RECURSIVE text, so "
    "the gate pins frontier semantics (UNION ALL, no cycle dedup), join "
    "re-entry, and termination across both engines. A closed form "
    "(depth = floor(log2 id) + 1) makes the result independently "
    "checkable.",
)
def q_recursive_tree_depth(spark, sf_dir):
    from .sources.readers import load_tables

    load_tables(spark, sf_dir, ["documents"])
    return spark.sql(
        f"""
        WITH RECURSIVE tree AS (
          SELECT doc_id, 1 AS depth FROM documents WHERE doc_id = 1
          UNION ALL
          SELECT d.doc_id, t.depth + 1
          FROM documents d
          JOIN tree t ON CAST(floor(d.doc_id / 2) AS BIGINT) = t.doc_id
        )
        SELECT t.depth,
               count(*) AS n_docs,
               CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(CAST(conv(substring(md5(CAST(d.text AS STRING)),
                    1, 8), 16, 10) AS BIGINT)) AS BIGINT) AS text_fp
        FROM tree t JOIN documents d ON d.doc_id = t.doc_id
        GROUP BY t.depth
        """
    )


@register(
    "lateral_order_extremes",
    """
    SELECT o.o_orderpriority,
           count(*)                 AS n_orders,
           CAST(sum(t.n) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(t.mx * 100 + 0.5) AS BIGINT)) AS BIGINT)
                                    AS sum_max_cents
    FROM orders o,
    LATERAL (SELECT max(l.l_extendedprice) AS mx, count(*) AS n
             FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) t
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "lateral", "subquery", "sql"),
    description="Correlated LATERAL subquery (SQL:1999 lateral derived "
    "table, Spark 4 surface next to the UDTF lateral): each order row "
    "feeds a per-order aggregate over its lineitems (max price, item "
    "count), then the outer query aggregates by priority. Catalyst "
    "decorrelates the lateral into a join + partial aggregate rather "
    "than executing per-row — the plan shape that keeps LATERAL usable "
    "at 100 TB — and DuckDB runs the identical SQL text, pinning "
    "decorrelation semantics (empty inner group -> one NULL/0 row, "
    "NULL-skipping sums) across engines. Money folds as exact integer "
    "cents so float association order can never drift the gate.",
)
def q_lateral_order_extremes(spark, sf_dir):
    from .sources.readers import load_tables

    load_tables(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(
        """
        SELECT o.o_orderpriority,
               count(*)                 AS n_orders,
               CAST(sum(t.n) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(t.mx * 100 + 0.5) AS BIGINT)) AS BIGINT)
                                        AS sum_max_cents
        FROM orders o,
        LATERAL (SELECT max(l.l_extendedprice) AS mx, count(*) AS n
                 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) t
        GROUP BY o.o_orderpriority
        """
    )


@register(
    "variant_ragged_fields",
    """
    WITH j AS (
      SELECT doc_id, lang,
             CASE doc_id % 4
               WHEN 0 THEN concat('{"lang":"', lang, '","score":',
                                  CAST(n_chars AS VARCHAR), '}')
               WHEN 1 THEN concat('{"lang":"', lang, '","score":"',
                                  CAST(n_chars AS VARCHAR), '"}')
               WHEN 2 THEN concat('{"lang":"', lang, '"}')
               ELSE        concat('{"lang":"', lang, '","score":null}')
             END AS js
      FROM documents)
    SELECT lang,
           count(*)                                           AS n_docs,
           CAST(count(TRY_CAST(json_extract_string(js, '$.score')
                               AS BIGINT)) AS BIGINT)         AS n_scored,
           CAST(sum(TRY_CAST(json_extract_string(js, '$.score')
                             AS BIGINT)) AS BIGINT)           AS sum_score
    FROM j GROUP BY lang
    """,
    tags=("functions", "variant", "semi-structured", "ragged"),
    description="RAGGED semi-structured metadata — the real-world shape "
    "where per-document JSON disagrees on fields: a quarter of docs "
    "carry a numeric score, a quarter the SAME value as a quoted "
    "string, a quarter omit the key, a quarter carry JSON null. "
    "try_variant_get('$.score','bigint') must treat all four "
    "consistently — numeric passes, quoted-numeric coerces, missing "
    "and JSON-null both yield SQL NULL and drop out of count/sum — and "
    "the DuckDB twin (TRY_CAST(json_extract_string)) replays exactly "
    "those semantics, so any drift in NULL-on-miss, JSON-null, or "
    "string-coercion behavior fails the hash gate. This is the "
    "contract a 100 TB metadata column actually needs: schema-free "
    "ingest, typed reads that degrade to NULL instead of failing the "
    "job.",
)
def q_variant_ragged_fields(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    nc = F.col("n_chars").cast("string")
    js = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit('{"lang":"'), F.col("lang"),
                     F.lit('","score":'), nc, F.lit("}")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit('{"lang":"'), F.col("lang"),
                     F.lit('","score":"'), nc, F.lit('"}')),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit('{"lang":"'), F.col("lang"), F.lit('"}')),
        )
        .otherwise(
            F.concat(F.lit('{"lang":"'), F.col("lang"),
                     F.lit('","score":null}')),
        )
    )
    v = F.parse_json(js)
    score = F.try_variant_get(v, "$.score", "bigint")
    return (
        docs.select(
            F.try_variant_get(v, "$.lang", "string").alias("lang"),
            score.alias("score"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("score").cast("long").alias("n_scored"),
            F.sum("score").cast("long").alias("sum_score"),
        )
    )


@register(
    "snapshot_tiered_pruning",
    f"""
    WITH m AS (
      SELECT max(doc_id) AS probe FROM documents WHERE lang = 'en'
    )
    SELECT d.lang,
           count(*)                     AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('d.text')}) AS BIGINT) AS text_fp,
           TRUE                         AS tiers_ok
    FROM documents d, m
    WHERE d.lang = 'en' AND d.doc_id = m.probe
    GROUP BY d.lang
    """,
    tags=("sources", "table-format", "pruning", "capstone"),
    description="The three skip tiers COMPOSED in one read — partition "
    "(exact, coarsest), min/max stats (range), bloom (point) — on a "
    "table laid out the way a 100 TB corpus actually is: lang-"
    "partitioned, doc_id-clustered within each partition "
    "(compact_partitions cluster_by re-sorts inside the tuple split), "
    "blooms recorded at compaction. A single point probe (lang='en', "
    "doc_id=k) goes partition_filter -> prune -> bloom_point; tiers_ok "
    "pins a STRICT monotone reduction with each tier enabled in turn "
    "(partition < all, +stats < partition, +bloom <= +stats with the "
    "final set non-empty) — proving the tiers stack rather than "
    "shadow each other. Rows must fingerprint to the plain SQL filter. "
    "Engine: read_snapshot's reducer pipeline (snapshot_table.py).",
)
def q_snapshot_tiered_pruning(spark, sf_dir):

    from .sources.snapshot_table import (
        _bloom_may_contain,
        _partition_match,
        _stats_overlap,
        _transform_probes,
        compact_partitions,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("snaptier")
    write_snapshot(docs, table, partition_by=["lang"])
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    for lg in sorted(langs):  # cluster + stats + bloom each partition
        compact_partitions(
            spark, table, {"lang": lg}, target_shards=4,
            cluster_by=["doc_id"], stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
        )
    probe = int(
        docs.where(F.col("lang") == "en").agg(
            F.max("doc_id")
        ).collect()[0][0]
    )
    snap = snapshot_history(table)[-1]
    shards = snap["shards"]
    pb = snap["partition_by"]
    t_en = _transform_probes(pb, "lang", "en")
    tier1 = [s for s in shards if _partition_match(s, "lang", t_en)]
    tier2 = [s for s in tier1 if _stats_overlap(s, "doc_id", probe, probe)]
    tier3 = [
        s for s in tier2 if _bloom_may_contain(s, "doc_id", probe)
    ]
    tiers_ok = bool(
        0 < len(tier1) < len(shards)
        and 0 < len(tier2) < len(tier1)
        and 0 < len(tier3) <= len(tier2)
    )
    out = read_snapshot(
        spark, table,
        partition_filter={"lang": "en"},
        prune=("doc_id", probe, probe),
        bloom_point=("doc_id", probe),
    ).where((F.col("lang") == "en") & (F.col("doc_id") == probe))
    return _lang_fp(out).withColumn("tiers_ok", F.lit(tiers_ok))


@register(
    "snapshot_incremental_dedup",
    """
    WITH fp AS (
      SELECT doc_id, lang, md5(lower(trim(text))) AS fp FROM documents),
    v1 AS (
      SELECT fp, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
      FROM fp WHERE doc_id % 2 = 0 GROUP BY fp),
    bd AS (
      SELECT fp, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
      FROM fp WHERE doc_id % 2 = 1 GROUP BY fp),
    ing AS (SELECT b.* FROM bd b ANTI JOIN v1 USING (fp)),
    skip AS (
      SELECT b.lang, count(*) AS n_skipped
      FROM bd b SEMI JOIN v1 USING (fp) GROUP BY b.lang),
    fin AS (
      SELECT lang, doc_id FROM v1 UNION ALL SELECT lang, doc_id FROM ing)
    SELECT f.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f.doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_base,
           CAST(sum(CASE WHEN f.doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ingested,
           CAST(coalesce(any_value(s.n_skipped), 0) AS BIGINT) AS n_skipped
    FROM fin f LEFT JOIN skip s ON s.lang = f.lang
    GROUP BY f.lang
    """,
    tags=("sources", "table-format", "dedup", "incremental"),
    description="Dedup-on-ingest — the daily 100 TB pattern: the corpus "
    "lives as a snapshot table keyed by content fingerprint "
    "(md5(lower(trim(text))), the exact_dedup_groups key); a new batch is "
    "deduped WITHIN itself (keep-min doc_id per fingerprint) and then "
    "anti-joined against the table's fingerprints, so only genuinely new "
    "content is APPENDED as the next snapshot version — the existing "
    "corpus is never rewritten. Fingerprints are recorded as per-shard "
    "stats + Bloom metadata at write time, the layout that lets the "
    "next day's anti-join skip non-overlapping shards. The oracle "
    "replays base build, batch self-dedup, anti/semi splits, and the "
    "final union straight from the source table — so the gate proves the "
    "append landed exactly the new fingerprints and nothing else.",
)
def q_snapshot_incremental_dedup(spark, sf_dir):

    from .sources.snapshot_table import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    fp = docs.select(
        "doc_id", "lang", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )

    def self_dedup(df):
        return df.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
        )

    table = scratch_dir("incdedup")
    v1 = self_dedup(fp.where(F.col("doc_id") % 2 == 0))
    write_snapshot(
        v1.select("fp", "doc_id", "lang"), table,
        stats_cols=["fp"], bloom_cols=["fp"],
    )
    existing = read_snapshot(spark, table).select("fp")
    batch = self_dedup(fp.where(F.col("doc_id") % 2 == 1))
    ingest = batch.join(existing, "fp", "left_anti")
    skipped = (
        batch.join(existing, "fp", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_skipped"))
    )
    write_snapshot(
        ingest.select("fp", "doc_id", "lang"), table,
        stats_cols=["fp"], bloom_cols=["fp"],
    )
    final = read_snapshot(spark, table)
    return (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") % 2 == 0).cast("int"))
            .cast("bigint")
            .alias("n_from_base"),
            F.sum((F.col("doc_id") % 2 == 1).cast("int"))
            .cast("bigint")
            .alias("n_ingested"),
        )
        .join(skipped, "lang", "left")
        .select(
            "lang", "n_docs", "n_from_base", "n_ingested",
            F.coalesce(F.col("n_skipped"), F.lit(0)).cast("bigint").alias("n_skipped"),
        )
    )


@register(
    "snapshot_wap_publish",
    """
    WITH fin AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id % 2 = 0 OR doc_id % 13 <> 0),
    q AS (
      SELECT lang, count(*) AS n_q FROM documents
      WHERE doc_id % 2 = 1 AND doc_id % 13 = 0 GROUP BY lang)
    SELECT f.lang,
           count(*) AS n_docs,
           CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
           CAST(coalesce(any_value(q.n_q), 0) AS BIGINT) AS n_quarantined,
           TRUE AS isolation_ok,
           TRUE AS audit_clean_ok,
           CAST(2 AS BIGINT) AS published_version
    FROM fin f LEFT JOIN q ON q.lang = f.lang
    GROUP BY f.lang
    """,
    tags=("sources", "table-format", "wap", "branches"),
    description="Write-audit-publish, the Iceberg WAP flow end-to-end "
    "on real refs: the corpus lives at main v1 (even doc_ids); a new "
    "batch (odd doc_ids, with doc_id%13 rows deterministically "
    "corrupted to negative n_chars — a bad upstream extraction) is "
    "committed to an AUDIT BRANCH (create_branch + "
    "write_snapshot(branch=...)), NOT to main. The audit reads the "
    "branch, counts violations per lang, and probes main mid-audit — "
    "isolation_ok pins that main still serves exactly v1 while the "
    "dirty batch sits on the branch. Remediation is a row-level "
    "DELETE IN PLACE ON THE BRANCH (delete_where(branch=), pruned by "
    "the recorded n_chars stats so clean forked shards carry over "
    "untouched), a re-audit pins zero violations, and publish_branch "
    "cherry-picks the branch head onto "
    "main as version 2 (conflicting loudly had main advanced past the "
    "fork). The oracle replays the final published state, the per-lang "
    "quarantine counts, and pins the audit booleans and published "
    "version. At 100 TB this is the daily ingest gate: dirty data "
    "never becomes readable, audits run against real table state, and "
    "the publish is one O(metadata) commit.",
)
def q_snapshot_wap_publish(spark, sf_dir):

    from .sources.snapshot_table import (
        create_branch, delete_where, publish_branch, read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = docs.where(F.col("doc_id") % 2 == 0)
    # deterministic corruption: a bad extractor flipped n_chars negative
    batch = docs.where(F.col("doc_id") % 2 == 1).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 13 == 0, -F.col("n_chars")).otherwise(
            F.col("n_chars")
        ),
    )
    table = scratch_dir("wap")
    write_snapshot(base, table, stats_cols=["n_chars"])  # main v1
    n_main_before = read_snapshot(spark, table).count()
    create_branch(table, "audit")
    write_snapshot(batch, table, branch="audit")  # dirty batch, staged
    on_branch = read_snapshot(spark, table, branch="audit")
    quarantined = (
        on_branch.where(F.col("n_chars") < 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_q"))
    )
    # the WAP property: main is untouched while the dirty batch audits
    isolation_ok = read_snapshot(spark, table).count() == n_main_before
    # remediation IN PLACE on the branch: row-level DELETE of the
    # quarantined rows, pruned by the recorded n_chars stats — every
    # matching row has n_chars in [lo, -1], so the clean forked shards
    # (min > 0) carry over untouched and only the dirty batch's shards
    # rewrite; the commit lands in the branch log, main still sees v1
    delete_where(
        spark, table, "n_chars < 0",
        prune=("n_chars", -(1 << 40), -1), branch="audit",
    )
    audit_clean_ok = (
        read_snapshot(spark, table, branch="audit")
        .where(F.col("n_chars") < 0).count() == 0
    )
    published_version = publish_branch(table, "audit")
    final = read_snapshot(spark, table)  # main head == published state
    return (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .join(F.broadcast(quarantined), "lang", "left")
        .select(
            "lang", "n_docs", "sum_chars",
            F.coalesce(F.col("n_q"), F.lit(0)).cast("bigint")
            .alias("n_quarantined"),
            F.lit(bool(isolation_ok)).alias("isolation_ok"),
            F.lit(bool(audit_clean_ok)).alias("audit_clean_ok"),
            F.lit(int(published_version)).cast("bigint")
            .alias("published_version"),
        )
    )


@register(
    "pipeline_daily_e2e",
    """
    WITH fp AS (
      SELECT doc_id, lang, n_chars, md5(lower(trim(text))) AS fp
      FROM documents),
    d1 AS (
      SELECT fp, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(n_chars, doc_id) AS n_chars
      FROM fp WHERE doc_id % 3 = 0 GROUP BY fp),
    b2 AS (
      SELECT fp, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(n_chars, doc_id) AS n_chars
      FROM fp WHERE doc_id % 3 = 1 GROUP BY fp),
    i2 AS (SELECT b.* FROM b2 b ANTI JOIN d1 USING (fp)),
    s2 AS (
      SELECT b.lang, count(*) AS n FROM b2 b SEMI JOIN d1 USING (fp)
      GROUP BY b.lang),
    q2 AS (SELECT lang, count(*) AS n FROM i2 WHERE doc_id % 11 = 0
           GROUP BY lang),
    d2 AS (
      SELECT * FROM d1
      UNION ALL SELECT * FROM i2 WHERE doc_id % 11 <> 0),
    b3 AS (
      SELECT fp, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(n_chars, doc_id) AS n_chars
      FROM fp WHERE doc_id % 3 = 2 GROUP BY fp),
    i3 AS (SELECT b.* FROM b3 b ANTI JOIN d2 USING (fp)),
    s3 AS (
      SELECT b.lang, count(*) AS n FROM b3 b SEMI JOIN d2 USING (fp)
      GROUP BY b.lang),
    fin AS (SELECT * FROM d2 UNION ALL SELECT * FROM i3)
    SELECT f.lang,
           count(*) AS n_docs,
           CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN f.doc_id % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_day1,
           CAST(sum(CASE WHEN f.doc_id % 3 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_day2,
           CAST(sum(CASE WHEN f.doc_id % 3 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_day3,
           CAST(coalesce(any_value(q2.n), 0) AS BIGINT) AS n_quarantined,
           CAST(coalesce(any_value(s2.n), 0) AS BIGINT) AS n_skipped_d2,
           CAST(coalesce(any_value(s3.n), 0) AS BIGINT) AS n_skipped_d3,
           TRUE AS pipeline_ok
    FROM fin f
    LEFT JOIN q2 ON q2.lang = f.lang
    LEFT JOIN s2 ON s2.lang = f.lang
    LEFT JOIN s3 ON s3.lang = f.lang
    GROUP BY f.lang
    """,
    tags=("pipeline", "table-format", "wap", "dedup", "retention"),
    description="Daily-pipeline CAPSTONE — three simulated days on ONE "
    "snapshot table, chaining every table-format piece the way a real "
    "100 TB corpus runs: day 1 bootstraps the corpus (fp-keyed exact "
    "dedup, fingerprints recorded as per-shard stats + Bloom so later "
    "anti-joins can skip shards); day 2 is a WAP window — the batch is "
    "dirty (doc_id%11 rows corrupted negative), deduped against the "
    "table AND itself, committed to an audit BRANCH (main provably "
    "untouched mid-audit), remediated IN PLACE with a stats-pruned "
    "branch delete_where, re-audited clean, then published as main v2 "
    "and tagged 'day2-release'; day 3 is a plain incremental-dedup "
    "append (v3) followed by small-file compaction (v4, row-"
    "preserving) and retention: expire_snapshots(keep_last=1) drops "
    "v1+v3 while the TAG pins v2 forever — pipeline_ok pins isolation, "
    "clean re-audit, version arithmetic (publish=2/append=3/compact=4), "
    "compaction row-preservation, the post-expiry surviving set "
    "{tagged v2, head v4}, tag-read equality with the published day-2 "
    "state, and the refs listing after the branch drops. The oracle "
    "replays all three days' dedup/quarantine/union algebra from the "
    "source table. Engine: sources/snapshot_table.py (refs, DML, "
    "compaction, retention) + the dedup-on-ingest pattern.",
)
def q_pipeline_daily_e2e(spark, sf_dir):

    from .sources.snapshot_table import (
        compact_table,
        create_branch,
        create_tag,
        delete_where,
        drop_branch,
        expire_snapshots,
        list_refs,
        publish_branch,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    fp = docs.select(
        "doc_id", "lang", "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )

    def self_dedup(df):
        return df.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        ).select("fp", "doc_id", "lang", "n_chars")

    table = scratch_dir("daily")
    # n_chars stats are what make the remediation delete's prune real:
    # without them every shard (incl. day-1's clean fork) is
    # conservatively rewritten
    fpcols = dict(stats_cols=["fp", "n_chars"], bloom_cols=["fp"])
    # ---- day 1: bootstrap ingest (main v1)
    write_snapshot(self_dedup(fp.where(F.col("doc_id") % 3 == 0)),
                   table, **fpcols)
    n_day1 = read_snapshot(spark, table).count()
    # ---- day 2: WAP window on a branch
    create_branch(table, "day2")
    dirty = self_dedup(
        fp.where(F.col("doc_id") % 3 == 1).withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 11 == 0, -F.col("n_chars"))
            .otherwise(F.col("n_chars")),
        )
    )
    existing = read_snapshot(spark, table, branch="day2").select("fp")
    ingest2 = dirty.join(existing, "fp", "left_anti")
    write_snapshot(ingest2, table, branch="day2", **fpcols)
    isolation_ok = read_snapshot(spark, table).count() == n_day1
    quarantined = (
        read_snapshot(spark, table, branch="day2")
        .where(F.col("n_chars") < 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_q"))
    ).collect()
    delete_where(
        spark, table, "n_chars < 0",
        prune=("n_chars", -(1 << 40), -1), branch="day2",
    )
    audit_clean = (
        read_snapshot(spark, table, branch="day2")
        .where(F.col("n_chars") < 0).count() == 0
    )
    v_pub = publish_branch(table, "day2")
    drop_branch(table, "day2")  # the WAP cycle: window closed
    create_tag(table, "day2-release")  # pins v2 through retention
    n_after_d2 = read_snapshot(spark, table).count()
    # ---- day 3: incremental-dedup append on main, then maintenance
    existing = read_snapshot(spark, table).select("fp")
    ingest3 = (
        self_dedup(fp.where(F.col("doc_id") % 3 == 2))
        .join(existing, "fp", "left_anti")
    )
    v_d3 = write_snapshot(ingest3, table, **fpcols)
    n_after_d3 = read_snapshot(spark, table).count()
    v_compact = compact_table(
        spark, table, target_shards=4, stats_cols=["fp"],
    )
    expire_snapshots(table, keep_last=1)
    surviving = [s["version"] for s in snapshot_history(table)]
    refs = list_refs(table)
    pipeline_ok = bool(
        isolation_ok
        and audit_clean
        and (v_pub, v_d3, v_compact) == (2, 3, 4)
        and read_snapshot(spark, table).count() == n_after_d3  # compaction
        and surviving == [2, 4]  # tag pinned v2; v1+v3 expired
        and read_snapshot(spark, table, tag="day2-release").count()
        == n_after_d2
        and refs == [{"name": "day2-release", "type": "tag", "version": 2}]
    )
    qmap = {r["lang"]: r["n_q"] for r in quarantined}
    qdf = spark.createDataFrame(
        [(l, int(n)) for l, n in qmap.items()] or [(None, 0)],
        "lang string, n_q long",
    )
    sk2 = (
        self_dedup(
            fp.where(F.col("doc_id") % 3 == 1)
        ).join(
            self_dedup(fp.where(F.col("doc_id") % 3 == 0)).select("fp"),
            "fp", "left_semi",
        ).groupBy("lang").agg(F.count(F.lit(1)).alias("n_s2"))
    )
    sk3 = (
        self_dedup(fp.where(F.col("doc_id") % 3 == 2))
        .join(
            read_snapshot(spark, table, tag="day2-release").select("fp"),
            "fp", "left_semi",
        ).groupBy("lang").agg(F.count(F.lit(1)).alias("n_s3"))
    )
    return (
        read_snapshot(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum((F.col("doc_id") % 3 == 0).cast("int")).cast("bigint")
            .alias("n_day1"),
            F.sum((F.col("doc_id") % 3 == 1).cast("int")).cast("bigint")
            .alias("n_day2"),
            F.sum((F.col("doc_id") % 3 == 2).cast("int")).cast("bigint")
            .alias("n_day3"),
        )
        .join(F.broadcast(qdf), "lang", "left")
        .join(F.broadcast(sk2), "lang", "left")
        .join(F.broadcast(sk3), "lang", "left")
        .select(
            "lang", "n_docs", "sum_chars", "n_day1", "n_day2", "n_day3",
            F.coalesce(F.col("n_q"), F.lit(0)).cast("bigint")
            .alias("n_quarantined"),
            F.coalesce(F.col("n_s2"), F.lit(0)).cast("bigint")
            .alias("n_skipped_d2"),
            F.coalesce(F.col("n_s3"), F.lit(0)).cast("bigint")
            .alias("n_skipped_d3"),
            F.lit(pipeline_ok).alias("pipeline_ok"),
        )
    )


@register(
    "snapshot_tag_retention",
    """
    WITH tagged AS (
      SELECT lang, count(*) AS n_docs_tagged,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars_tagged
      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
    latest AS (
      SELECT lang, count(*) AS n_docs_latest
      FROM documents WHERE lang = 'en' GROUP BY lang)
    SELECT t.lang, t.n_docs_tagged, t.sum_chars_tagged,
           CAST(coalesce(any_value(l.n_docs_latest), 0) AS BIGINT)
             AS n_docs_latest,
           TRUE AS tag_survived,
           TRUE AS middle_expired,
           CAST(1 AS BIGINT) AS n_expired
    FROM tagged t LEFT JOIN latest l ON l.lang = t.lang
    GROUP BY t.lang, t.n_docs_tagged, t.sum_chars_tagged
    """,
    tags=("sources", "table-format", "tags", "retention"),
    description="Tags as retention pins (Iceberg tag semantics): main "
    "v1 (even doc_ids) is tagged 'baseline', v2 appends the odds, v3 "
    "overwrites with the en-only corpus, then expire_snapshots("
    "keep_last=1) runs retention. The tagged v1 MUST survive expiry "
    "(the audit that cites the tag stays reproducible) while the "
    "untagged v2 is removed — middle_expired pins that reading v2 now "
    "fails loudly, n_expired pins exactly one snapshot removed, and "
    "the per-lang aggregates replay BOTH the tag read (v1 content) and "
    "the post-retention latest read (v3 content) from the source "
    "table. At 100 TB tags are how published corpus releases stay "
    "readable under an aggressive retention policy.",
)
def q_snapshot_tag_retention(spark, sf_dir):

    from .sources.snapshot_table import (
        create_tag, expire_snapshots, read_snapshot, snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("tag")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table)  # v1
    create_tag(table, "baseline")  # pins v1
    write_snapshot(docs.where(F.col("doc_id") % 2 == 1), table)  # v2
    write_snapshot(docs.where(F.col("lang") == "en"), table, mode="overwrite")
    out = expire_snapshots(table, keep_last=1)  # v2 goes; v1 is tagged
    try:
        read_snapshot(spark, table, version=2)
        middle_expired = False
    except FileNotFoundError:
        middle_expired = True
    # a real probe, not a pinned literal: the tagged version's snapshot
    # file must still be in the surviving history after retention
    tag_survived = 1 in [s["version"] for s in snapshot_history(table)]
    tagged = (
        read_snapshot(spark, table, tag="baseline")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_tagged"),
            F.sum("n_chars").cast("bigint").alias("sum_chars_tagged"),
        )
    )
    latest = (
        read_snapshot(spark, table)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_latest"))
    )
    return tagged.join(F.broadcast(latest), "lang", "left").select(
        "lang", "n_docs_tagged", "sum_chars_tagged",
        F.coalesce(F.col("n_docs_latest"), F.lit(0)).cast("bigint")
        .alias("n_docs_latest"),
        F.lit(bool(tag_survived)).alias("tag_survived"),
        F.lit(bool(middle_expired)).alias("middle_expired"),
        F.lit(int(out["snapshots_removed"])).cast("bigint").alias("n_expired"),
    )


@register(
    "url_canonical_domains",
    f"""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars,
             CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'de'
                  WHEN 'fr' THEN 'fr' WHEN 'es' THEN 'es'
                  ELSE 'cn' END AS tld
      FROM documents),
    u AS (
      SELECT doc_id, lang, n_chars,
             concat('https://',
                    CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,
                    source, '.Example.', tld,
                    '/p/', CAST(doc_id % 50 AS VARCHAR),
                    CASE WHEN doc_id % 2 = 0
                         THEN concat('?utm_source=feed&ref=', lang,
                                     '&utm_campaign=x')
                         ELSE concat('?ref=', lang) END,
                    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
             ) AS url
      FROM d),
    n AS (
      SELECT doc_id, lang, n_chars,
             substr(string_split(url, '#')[1], 9) AS rest
      FROM u),
    h AS (SELECT *, string_split(rest, '/')[1] AS host_raw FROM n),
    h2 AS (
      SELECT *, lower(host_raw) AS host,
             substr(rest, length(host_raw) + 1) AS pathq
      FROM h),
    h3 AS (
      SELECT *,
             CASE WHEN starts_with(host, 'www.')
                  THEN substr(host, 5) ELSE host END AS host_norm,
             string_split(pathq, '?')[1] AS path,
             coalesce(string_split(pathq, '?')[2], '') AS query
      FROM h2),
    p AS (
      SELECT *,
             list_filter(string_split(query, '&'),
                         x -> x <> '' AND NOT starts_with(x, 'utm_'))
               AS params,
             len(list_filter(string_split(query, '&'),
                             x -> starts_with(x, 'utm_'))) AS n_removed
      FROM h3),
    c AS (
      SELECT *,
             concat(host_norm, path,
                    CASE WHEN len(params) > 0
                         THEN concat('?',
                              array_to_string(list_sort(params), '&'))
                         ELSE '' END) AS canon,
             CASE WHEN starts_with(host, 'www.') THEN 1 ELSE 0 END AS www_i,
             string_split(host_norm, '.') AS labels
      FROM p),
    c2 AS (
      SELECT *, concat(labels[len(labels) - 1], '.', labels[len(labels)])
               AS domain
      FROM c)
    SELECT domain,
           count(*) AS n_docs,
           count(DISTINCT canon) AS n_unique,
           CAST(sum(n_removed) AS BIGINT) AS n_utm_removed,
           CAST(sum(www_i) AS BIGINT) AS n_www_stripped,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           (domain LIKE '%.cn') AS blocked,
           CAST(sum({oracle_hash_sql("canon")}) AS BIGINT) AS canon_fp
    FROM c2 GROUP BY domain
    """,
    tags=("text", "web-corpus", "llm-pipeline", "normalization"),
    description="URL canonicalization + registered-domain rollup — the "
    "web-corpus gate every CommonCrawl-style pipeline runs before "
    "dedup: deterministic URLs are built per doc with the SAME concat "
    "in both engines (mixed-case WWW hosts, utm_* tracking params, "
    "fragments, per-lang TLDs), then normalized WITHOUT regex — strip "
    "fragment, lowercase host, strip www., drop utm_* params, sort the "
    "survivors — so URL variants that differ only in tracking noise "
    "collapse to one canonical form (n_unique < n_docs proves real "
    "collapses; canon_fp fingerprints every canonical string). The "
    "registered domain (last two host labels) drives the rollup and a "
    "policy blocklist flag (.cn TLD here). Scale shape: pure "
    "whole-stage-codegen string expressions, one shuffle for the "
    "domain agg (count-distinct expands once on the uniform canonical "
    "key); no UDF, no regex engine divergence to reconcile.",
)
def q_url_canonical_domains(spark, sf_dir):
    from .functions.hashing import portable_hash64

    big = F.lit(1 << 20)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tld = (
        F.when(F.col("lang") == "en", "com")
        .when(F.col("lang") == "de", "de")
        .when(F.col("lang") == "fr", "fr")
        .when(F.col("lang") == "es", "es")
        .otherwise("cn")
    )
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example."), tld,
        F.lit("/p/"), (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="), F.col("lang"),
                F.lit("&utm_campaign=x"),
            ),
        ).otherwise(F.concat(F.lit("?ref="), F.col("lang"))),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    rest = F.get(F.split(url, "#"), 0).substr(F.lit(9), big)
    host_raw = F.get(F.split(rest, "/"), 0)
    host = F.lower(host_raw)
    host_norm = F.when(
        host.startswith("www."), host.substr(F.lit(5), big)
    ).otherwise(host)
    pathq = rest.substr(F.length(host_raw) + 1, big)
    path = F.get(F.split(pathq, "\\?"), 0)
    query = F.coalesce(F.get(F.split(pathq, "\\?"), 1), F.lit(""))
    qparts = F.split(query, "&")
    params = F.filter(
        qparts, lambda x: (x != "") & ~x.startswith("utm_")
    )
    n_removed = F.size(F.filter(qparts, lambda x: x.startswith("utm_")))
    canon = F.concat(
        host_norm, path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )
    labels = F.split(host_norm, "\\.")
    rows = d.select(
        "n_chars",
        F.concat(
            F.element_at(labels, -2), F.lit("."), F.element_at(labels, -1)
        ).alias("domain"),
        canon.alias("canon"),
        n_removed.alias("n_removed"),
        host.startswith("www.").cast("int").alias("www_i"),
    )
    return rows.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canon").alias("n_unique"),
        F.sum("n_removed").cast("bigint").alias("n_utm_removed"),
        F.sum("www_i").cast("bigint").alias("n_www_stripped"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.max(F.col("domain").endswith(".cn")).alias("blocked"),
        F.sum(portable_hash64(F.col("canon"))).cast("bigint").alias("canon_fp"),
    )


@register(
    "snapshot_branch_changes",
    f"""
    WITH staged AS (
      SELECT lang, n_chars, doc_id FROM documents WHERE doc_id % 2 = 1),
    late AS (
      SELECT lang, count(*) AS n_late FROM documents
      WHERE doc_id % 4 = 3 GROUP BY lang),
    after AS (
      SELECT lang, count(*) AS n_main_after FROM documents GROUP BY lang)
    SELECT s.lang,
           count(*) AS n_staged,
           CAST(coalesce(any_value(l.n_late), 0) AS BIGINT) AS n_late,
           CAST(sum(s.n_chars) AS BIGINT) AS sum_chars_staged,
           CAST(any_value(a.n_main_after) AS BIGINT) AS n_main_after,
           CAST(sum({oracle_hash_sql(
               "concat(CAST(s.doc_id AS VARCHAR), '|', s.lang)"
           )}) AS BIGINT) AS staged_fp
    FROM staged s
    LEFT JOIN late l ON l.lang = s.lang
    JOIN after a ON a.lang = s.lang
    GROUP BY s.lang
    """,
    tags=("sources", "table-format", "wap", "incremental"),
    description="Branch incremental read — the WAP audit report 'what "
    "exactly will this publish add': the corpus is main v1 (even "
    "doc_ids), an ingest branch accumulates the odds across TWO branch "
    "commits (doc_id%4==1 then doc_id%4==3), and "
    "read_changes(branch=, start=1-the-fork) returns precisely the "
    "staged rows from branch METADATA alone — no main scan, no fork "
    "rescan; a sub-range read (start=2) isolates just the second "
    "commit (n_late). The audit aggregates and fingerprints the staged "
    "rows per lang, then publish_branch exposes them and the main head "
    "count confirms the delta landed. Oracle replays staged/late/after "
    "splits from the source table. At 100 TB this is the publish gate's "
    "O(new files) review of a day's ingest against a corpus-sized "
    "table.",
)
def q_snapshot_branch_changes(spark, sf_dir):

    from .functions.hashing import portable_hash64
    from .sources.snapshot_table import (
        create_branch, publish_branch, read_changes, read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    table = scratch_dir("bchanges")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table)  # main v1
    create_branch(table, "ingest")
    write_snapshot(docs.where(F.col("doc_id") % 4 == 1), table, branch="ingest")
    write_snapshot(docs.where(F.col("doc_id") % 4 == 3), table, branch="ingest")
    staged = read_changes(spark, table, 1, branch="ingest")
    late = (
        read_changes(spark, table, 2, branch="ingest")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    audit = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_staged"),
        F.sum("n_chars").cast("bigint").alias("sum_chars_staged"),
        F.sum(
            portable_hash64(
                F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("lang"))
            )
        )
        .cast("bigint")
        .alias("staged_fp"),
    )
    publish_branch(table, "ingest")
    after = (
        read_snapshot(spark, table)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_main_after"))
    )
    return (
        audit.join(F.broadcast(late), "lang", "left")
        .join(F.broadcast(after), "lang")
        .select(
            "lang", "n_staged",
            F.coalesce(F.col("n_late"), F.lit(0)).cast("bigint").alias("n_late"),
            "sum_chars_staged", "n_main_after", "staged_fp",
        )
    )


@register(
    "snapshot_branch_cdc",
    f"""
    WITH en AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'en'),
    de AS (
      SELECT doc_id, lang, text, n_chars FROM documents WHERE lang = 'de'),
    s3del AS (
      SELECT * FROM (SELECT * FROM en UNION ALL SELECT * FROM de)
      WHERE n_chars < 500),
    s4upd AS (
      SELECT * FROM en WHERE n_chars >= 500 AND doc_id % 10 = 0)
    SELECT CAST(2 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
           lang, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE AS main_untouched
    FROM de GROUP BY lang
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delete', lang, count(*),
           CAST(sum(n_chars) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT), TRUE
    FROM s3del GROUP BY lang
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'delete', lang, count(*),
           CAST(sum(n_chars) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT), TRUE
    FROM s4upd GROUP BY lang
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'insert', lang, count(*),
           CAST(sum(n_chars + 1000) AS BIGINT),
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT), TRUE
    FROM s4upd GROUP BY lang
    """,
    tags=("sources", "table-format", "cdc", "wap"),
    description="Row-level CDC over a BRANCH log (read_cdc(branch=)) — "
    "the WAP-audit diff 'exactly which rows did this window's writes "
    "AND remediation change' read BEFORE publishing: main holds en "
    "(v1), an audit branch takes a dirty de append (seq 2), a "
    "remediation delete_where n_chars<500 (seq 3 — note it also "
    "cleans matching rows of the FORKED en corpus, exactly what a "
    "branch-wide rule does), and an update_where n_chars+1000 on an "
    "en doc_id slice (seq 4, surfacing as delete(pre-image)+"
    "insert(post-image) pairs). The feed is read per branch sequence "
    "from the branch's own log; main_untouched pins that main is "
    "still v1 with exactly the en rows while all of this is visible "
    "on the branch — the audit reviews row-level changes the "
    "append-only read_changes(branch=) cannot represent. Engine: "
    "sources/snapshot_table.py::read_cdc (branch=).",
)
def q_snapshot_branch_cdc(spark, sf_dir):

    from .sources.snapshot_table import (
        create_branch,
        delete_where,
        latest_version,
        read_cdc,
        read_snapshot,
        update_where,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    en = docs.where(F.col("lang") == "en")
    table = scratch_dir("bcdc")
    write_snapshot(en, table)                                   # main v1
    create_branch(table, "audit")                               # seq 1
    write_snapshot(
        docs.where(F.col("lang") == "de"), table, branch="audit"
    )                                                           # seq 2
    delete_where(spark, table, "n_chars < 500", branch="audit")  # seq 3
    update_where(
        spark, table, {"n_chars": "n_chars + 1000"},
        "lang = 'en' AND doc_id % 10 = 0", branch="audit",
    )                                                           # seq 4
    main_untouched = bool(
        latest_version(table) == 1
        and read_snapshot(spark, table).count() == en.count()
    )
    return (
        read_cdc(spark, table, 1, branch="audit")
        .groupBy("_commit_version", "_change_type", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(portable_hash64(F.col("text"))).cast("long").alias(
                "text_fp"
            ),
        )
        .withColumn("main_untouched", F.lit(main_untouched))
    )


@register(
    "snapshot_refs_inspection",
    """
    WITH e AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
         a AS (SELECT count(*) AS n FROM documents)
    SELECT 'baseline' AS name, 'tag' AS type,
           CAST(1 AS BIGINT) AS pinned, CAST(e.n AS BIGINT) AS n_rows
    FROM e
    UNION ALL
    SELECT 'dev' AS name, 'branch' AS type,
           CAST(1 AS BIGINT) AS pinned, CAST(a.n AS BIGINT) AS n_rows
    FROM a
    """,
    tags=("sources", "table-format", "refs", "inspection"),
    description="Refs inspection surface (Iceberg .refs): the table is "
    "built as v1 = even doc_ids, tagged 'baseline', and a 'dev' branch "
    "appends the odds; read_metadata_table(kind='refs') lists both refs "
    "(tag's pinned main version, branch's fork base), and each ref is "
    "then READ THROUGH — read_snapshot(tag=) must serve exactly v1's "
    "rows and read_snapshot(branch=) the fork-plus-append — so the "
    "gate ties the metadata rows to the data each ref actually "
    "resolves to, not just to pinned literals. Metadata listing is "
    "O(refs); the per-ref counts are ordinary snapshot scans.",
)
def q_snapshot_refs_inspection(spark, sf_dir):

    from .sources.snapshot_table import (
        create_branch, create_tag, read_metadata_table, read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    table = scratch_dir("refs")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 0), table)  # v1
    create_tag(table, "baseline")
    create_branch(table, "dev")
    write_snapshot(docs.where(F.col("doc_id") % 2 == 1), table, branch="dev")
    refs = read_metadata_table(spark, table, "refs").select(
        "name", "type",
        F.coalesce(F.col("version"), F.col("base_version")).alias("pinned"),
    )
    counts = (
        read_snapshot(spark, table, tag="baseline")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("baseline").alias("name"), "n_rows")
        .unionByName(
            read_snapshot(spark, table, branch="dev")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit("dev").alias("name"), "n_rows")
        )
    )
    return refs.join(F.broadcast(counts), "name").select(
        "name", "type", "pinned", F.col("n_rows").cast("bigint").alias("n_rows")
    )


@register(
    "snapshot_manifest_scale",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS manifest_ok
    FROM documents WHERE doc_id % 10 <> 0 GROUP BY lang
    """,
    tags=("sources", "table-format", "metadata", "scale"),
    description="Manifest-segmented snapshot metadata (Iceberg manifest "
    "list): a self-contained snapshot rewrites O(live files) of JSON "
    "per commit — the metadata write-amplification ceiling at 100 TB "
    "(~1e6 shards). With segmentation, ten appends roll their shard "
    "lists into immutable segment files that later commits carry BY "
    "NAME; manifest_ok pins (1) every append's snapshot JSON holds at "
    "most the inline bound of shard entries, (2) consecutive appends "
    "reuse the parent's segments verbatim (metadata cost O(new files + "
    "segment names): the final snapshot inlines at most the bound "
    "while referencing strictly more files through carried segments, "
    "entries conserved exactly), (3) a metadata-only drop_partition "
    "of one batch re-rolls ONLY the segments holding that batch's "
    "files — the rest carry through the removal commit, (4) "
    "rewrite_manifests compacts the segment list to ONE in a metadata-"
    "only commit that read_cdc sees as empty, (5) time travel "
    "behind the delete still reads all rows through the old segments, "
    "and (6) segment-level pruning: each roll records a partition/"
    "stats summary, and a one-partition read OPENS strictly fewer "
    "segments than the snapshot references (the manifest-list skip — "
    "a filtered read of a 1M-file table never parses the full file "
    "list). "
    "Storage-level only: loaded snapshots materialise the classic "
    "self-contained form, so every operator composes unchanged. "
    "Engine: sources/snapshot_table.py::_encode_manifests / "
    "rewrite_manifests.",
)
def q_snapshot_manifest_scale(spark, sf_dir):

    from .sources import snapshot_table as st
    from .sources.snapshot_table import (
        drop_partition,
        read_cdc,
        read_snapshot,
        rewrite_manifests,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars",
        (F.col("doc_id") % 10).alias("b"),
    )
    table = scratch_dir("manifest")
    keep = st._MANIFEST_INLINE_MAX
    st._MANIFEST_INLINE_MAX = 2
    try:
        for i in range(10):
            write_snapshot(
                docs.where(F.col("b") == i), table,
                mode="append", stats_cols=["doc_id"],
                partition_by=["b"],
            )
        raws = [st._raw_snapshot(table, v) for v in range(1, 11)]
        inline_bounded = all(len(r.get("shards", [])) <= 2 for r in raws)
        carried = all(
            set(a.get("manifests", [])) <= set(b.get("manifests", []))
            for a, b in zip(raws, raws[1:])
        )
        seg_entries = sum(
            len(st._load_manifest(table, n))
            for n in raws[-1].get("manifests", [])
        )
        n_inline = len(raws[-1].get("shards", []))
        total = len(st._load_snapshot(table, 10)["shards"])
        # the head inlines at most the bound while referencing strictly
        # more files via carried segments; entries conserved exactly
        amortized = n_inline <= 2 < total and seg_entries + n_inline == total
        segs_before = set(raws[-1].get("manifests", []))
        v_del = drop_partition(table, {"b": 0})  # metadata-only removal
        raw_del = st._raw_snapshot(table, v_del)
        # batch-0's files live only in the first rolled segment(s), so
        # exactly those re-roll; every segment not holding them carries
        touched = {
            n
            for n in segs_before
            if any(
                e.get("partition", {}).get("b") in (0, "0")
                for e in st._load_manifest(table, n)
            )
        }
        n_carried = len(segs_before & set(raw_del.get("manifests", [])))
        partial_carry = (
            len(touched) < len(segs_before)
            and n_carried == len(segs_before) - len(touched)
        )
        v_rw = rewrite_manifests(table)
        raw_rw = st._raw_snapshot(table, v_rw)
        compacted = (
            v_rw == v_del + 1
            and len(raw_rw.get("manifests", [])) == 1
            and raw_rw.get("shards") == []
            and read_cdc(spark, table, v_del, v_rw).count() == 0
        )
        full_history = (
            read_snapshot(spark, table, version=10).count() == docs.count()
        )
        # segment-level pruning (Iceberg manifest-list skip): a read of
        # one partition at v10 must OPEN strictly fewer segments than
        # the snapshot references (each roll recorded a partition/stats
        # summary) while returning exactly that partition's rows
        opened: list = []
        orig_lm = st._load_manifest
        st._load_manifest = lambda t, n: (opened.append(n), orig_lm(t, n))[1]
        try:
            pruned = read_snapshot(
                spark, table, version=10, partition_filter={"b": 3},
            )
            segment_prune = (
                pruned.count() == docs.where(F.col("b") == 3).count()
                and len(opened) < len(raws[-1].get("manifests", []))
            )
        finally:
            st._load_manifest = orig_lm
        manifest_ok = bool(
            inline_bounded and carried and amortized and partial_carry
            and compacted and full_history and segment_prune
        )
        return _lang_fp(read_snapshot(spark, table)).withColumn(
            "manifest_ok", F.lit(manifest_ok)
        )
    finally:
        st._MANIFEST_INLINE_MAX = keep


@register(
    "snapshot_stream_paced",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS paced_ok
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "admission-control"),
    description="Admission-controlled streaming read under the oracle "
    "gate (Delta maxFilesPerTrigger, file-granular): ONE commit of 8 "
    "files — the fresh-subscription initial-snapshot shape — drained "
    "by a continuous (processingTime) query with "
    "max_files_per_trigger=2. paced_ok pins that the drain took >=4 "
    "non-empty micro-batches, every batch's (version, index) offsets "
    "advanced at most 2 files within the version, and offsets carry "
    "the file index (the sub-version paging a 100 TB initial snapshot "
    "needs — without it the first batch IS the table). The drained "
    "rows must fingerprint byte-identically to the full table: paging "
    "loses nothing, duplicates nothing, and the budget bounds every "
    "batch including the first. Engine: sources/snapshot_stream.py::"
    "_capped_end_indexed / _norm_off.",
)
def q_snapshot_stream_paced(spark, sf_dir):
    import ast
    import uuid as _uuid

    from .sources.snapshot_stream import _norm_off, register_snapshot_changes
    from .sources.snapshot_table import write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    n_expected = docs.count()
    table = scratch_dir("paced")
    write_snapshot(docs.repartition(8), table, mode="append")  # 1 commit
    register_snapshot_changes(spark)
    sink = f"paced_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", table)
        .option("start_version", 0)
        .option("max_files_per_trigger", 2)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        # nonzero interval: the query rehearses TRIGGER pacing on top of
        # the per-batch file budget (r13 tried 0 ms; the driver measured
        # 0.73x — back-to-back latestOffset churn + poll-job contention)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    drain(q)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    bounded = True
    for p in fed:
        so = p["sources"][0]
        end = ast.literal_eval(so["endOffset"])
        start = _norm_off(
            ast.literal_eval(so["startOffset"] or "None") or {"version": 0}
        )
        if "index" not in end:
            bounded = False  # paced offsets must carry the file index
        elif end["version"] == start[0] and end["index"] - start[1] > 2:
            bounded = False  # budget blown inside the version
    paced_ok = bool(
        len(fed) >= 4  # 8 files / 2-file budget: never one monster batch
        and bounded
        and spark.table(sink).count() == n_expected
    )
    return _lang_fp(spark.table(sink)).withColumn(
        "paced_ok", F.lit(paced_ok)
    )


@register(
    "snapshot_cdc_paged",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE AS paged_ok
    FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang
    """,
    tags=("sources", "table-format", "streaming", "cdc",
          "admission-control"),
    description="Key-range paging of the snapshot_cdc stream (the "
    "monster-DML-commit contract): documents committed as 12 files "
    "(v1) then one pure-delete MoR merge (delete_keys=every 5th doc, "
    "positional deletion vectors over all 12 files — change count = "
    "covered files, deterministic at every sf), drained by a "
    "continuous query with max_files_per_trigger=4 and "
    "page_keys=doc_id. BOTH oversized commits must page as "
    "deterministic hash-ranges of doc_id (3 pages each; offsets "
    "carry page/pages) instead of arriving as monster batches, and "
    "the per-key highest-version reduction of the drained rows must "
    "reproduce the upstream final state exactly — deleted keys' last "
    "change is the v2 delete pre-image, so the reduction drops them "
    "(paging preserves convergence: a page holds a key's COMPLETE "
    "change set for its version). paged_ok pins >=5 non-empty "
    "micro-batches, >=4 paged offsets, zero duplicate (doc_id, "
    "version, change_type) deliveries. Engine: sources/"
    "snapshot_stream.py::_capped_end_paged + the read()-side "
    "hash_pandas_object range filter.",
)
def q_snapshot_cdc_paged(spark, sf_dir):
    import ast
    import uuid as _uuid

    from pyspark.sql import Window

    from .sources.snapshot_stream import register_snapshot_cdc
    from .sources.snapshot_table import merge_upsert, write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("cdcpaged")
    write_snapshot(docs.repartition(12), table, mode="append")  # v1: 12 files
    dead = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    # v2: pure-delete MoR merge — positional DVs cover all 12 files,
    # so the commit's change count is exactly 12 at every sf
    merge_upsert(
        docs.limit(0), table, key_cols=["doc_id"],
        delete_keys=dead, mor=True,
    )
    # v1 inserts + v2 delete pre-images, in ONE job (was two counts)
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)
        ).alias("nd"),
    ).collect()[0]
    n_expected = int(row["n"]) + int(row["nd"] or 0)
    register_snapshot_cdc(spark)
    sink = f"cdcpaged_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_cdc")
        .option("path", table)
        .option("start_version", 0)
        .option("max_files_per_trigger", 4)
        .option("page_keys", "doc_id")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        # nonzero interval: rehearses trigger pacing on top of the
        # page/file budget (the r13 0 ms trigger regressed 0.73x on the
        # driver's 32-core bench — latestOffset churn + poll contention)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    drain(q)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    paged = [
        p for p in fed
        if "page" in ast.literal_eval(p["sources"][0]["endOffset"])
    ]
    drained = spark.table(sink)
    # one action answers BOTH gate facts (was two: a dup-count job and
    # a full count job): total rows = sum of group counts, duplicate
    # deliveries exist iff any group count exceeds 1
    gate = (
        drained.groupBy("doc_id", "_commit_version", "_change_type")
        .count()
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.max("count"), F.lit(0)).alias("max_dup"),
        )
        .collect()[0]
    )
    dup_free = gate["max_dup"] <= 1
    paged_ok = bool(
        len(fed) >= 5
        and len(paged) >= 4
        and dup_free
        and gate["n_rows"] == n_expected
    )
    # per-key highest-version reduction = the CDC apply-sink algebra:
    # the replica state paging must converge to; deleted keys' last
    # change is a delete, so the reduction drops them
    w = Window.partitionBy("doc_id")
    final = (
        drained.withColumn(
            "_mx", F.max("_commit_version").over(w)
        )
        .where(
            (F.col("_commit_version") == F.col("_mx"))
            & (F.col("_change_type") == "insert")
        )
        .drop("_mx", "_change_type", "_commit_version")
    )
    return _lang_fp(final).withColumn("paged_ok", F.lit(paged_ok))


@register(
    "snapshot_analyze",
    f"""
    WITH thr AS (
      SELECT CAST(floor(max(doc_id) / 4) AS BIGINT) AS t FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS analyzed_ok
    FROM documents, thr WHERE doc_id <= t GROUP BY lang
    """,
    tags=("sources", "table-format", "stats", "pruning", "maintenance"),
    description="ANALYZE for existing tables (Delta compute-statistics "
    "shaped): documents committed range-clustered but STATS-LESS (the "
    "streaming-ingest shape — range scans degrade to full reads), then "
    "analyze_table stamps per-shard doc_id min/max + blooms in ONE "
    "metadata-only commit (zero data movement, operation 'metadata' so "
    "streams treat it as row-preserving). analyzed_ok pins: all shards "
    "unstamped before / stamped after, the data file set untouched, a "
    "quarter-range probe provably excludes shards from metadata alone "
    "(0 < overlapping < total), a second analyze is a no-op commit-"
    "nothing, and the filtered aggregate fingerprints exactly. Engine: "
    "sources/snapshot_table.py::analyze_table.",
)
def q_snapshot_analyze(spark, sf_dir):
    import glob as _glob
    import os

    from .sources import snapshot_table as st

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("analyze")
    st.write_snapshot(
        docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id"),
        table,
    )
    unstamped_before = all(
        not s.get("stats") for s in st._load_snapshot(table, 1)["shards"]
    )
    files_before = sorted(_glob.glob(os.path.join(table, "data", "*")))
    v = st.analyze_table(
        spark, table, stats_cols=["doc_id"], bloom_cols=["doc_id"]
    )
    snap = st._load_snapshot(table, v)
    stamped_after = all(
        "doc_id" in s.get("stats", {}) and "doc_id" in s.get("bloom", {})
        for s in snap["shards"]
    )
    thr = int(docs.agg(F.max("doc_id")).collect()[0][0] // 4)
    overlapping = sum(
        1 for s in snap["shards"]
        if st._stats_overlap(s, "doc_id", None, thr)
    )
    noop = st.analyze_table(spark, table, stats_cols=["doc_id"]) == v
    analyzed_ok = bool(
        unstamped_before
        and snap["operation"] == "metadata"
        and stamped_after
        and sorted(_glob.glob(os.path.join(table, "data", "*")))
        == files_before
        and 0 < overlapping < len(snap["shards"])
        and noop
    )
    return _lang_fp(
        st.read_snapshot(spark, table, prune=("doc_id", None, thr))
        .where(F.col("doc_id") <= thr)
    ).withColumn("analyzed_ok", F.lit(analyzed_ok))


@register(
    "snapshot_ts_prune",
    f"""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    r AS (
      SELECT lo + (hi - lo) // 4 AS plo, lo + (hi - lo) // 2 AS phi FROM b
    )
    SELECT event_type,
           count(*)                            AS n_events,
           CAST(sum(epoch_us(ts)) AS BIGINT)   AS sum_us,
           CAST(sum({oracle_hash_sql('event_id')}) AS BIGINT) AS id_fp,
           TRUE                                AS prune_ok
    FROM events, r
    WHERE epoch_us(ts) >= plo AND epoch_us(ts) <= phi
    GROUP BY event_type
    """,
    tags=("sources", "table-format", "stats", "pruning", "time"),
    description="Timestamp min/max stats prune shards on EVENT TIME "
    "(the single most common 100 TB prune axis): events committed "
    "range-clustered on ts with stats_cols=['ts'] record epoch-micros "
    "int bounds in the snapshot log (JSON-portable, exact — "
    "min/max commute with the monotonic conversion), and a quarter-"
    "span time-range scan skips shards from METADATA ALONE — finer "
    "than days(ts) partition granularity, no derived epoch column for "
    "the user to maintain. prune_ok pins: every shard's ts bounds are "
    "ints, the probe provably excludes shards (0 < surviving < "
    "total), and datetime/ISO/epoch-second probe forms all normalize "
    "to the same shard set (_normalize_prune). Engine: "
    "sources/snapshot_table.py::_stats_input/_epoch_probe.",
)
def q_snapshot_ts_prune(spark, sf_dir):
    import datetime as _dt

    from .sources import snapshot_table as st

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]
    lo_us = row["lo"] + (row["hi"] - row["lo"]) // 4
    hi_us = row["lo"] + (row["hi"] - row["lo"]) // 2
    table = scratch_dir("tsprune")
    st.write_snapshot(
        ev.repartitionByRange(8, "ts").sortWithinPartitions("ts"),
        table, stats_cols=["ts"],
    )
    snap = st._load_snapshot(table, 1)
    ints_ok = all(
        isinstance(s["stats"]["ts"][0], int)
        and isinstance(s["stats"]["ts"][1], int)
        for s in snap["shards"]
    )
    surviving = [
        s for s in snap["shards"]
        if st._stats_overlap(s, "ts", lo_us, hi_us)
    ]
    # every probe form (exact datetime / ISO string / epoch seconds)
    # normalizes to the same shard set as the raw int-micros probe
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    lo_dt = epoch + _dt.timedelta(microseconds=lo_us)
    hi_dt = epoch + _dt.timedelta(microseconds=hi_us)
    forms_ok = True
    for plo, phi in (
        (lo_dt, hi_dt),
        (lo_dt.isoformat(), hi_dt.isoformat()),
    ):
        p = st._normalize_prune(snap["schema"], ("ts", plo, phi))
        got = [
            s for s in snap["shards"]
            if st._stats_overlap(s, p[0], p[1], p[2])
        ]
        forms_ok = forms_ok and got == surviving
    prune_ok = bool(
        ints_ok and forms_ok and 0 < len(surviving) < len(snap["shards"])
    )
    return (
        st.read_snapshot(spark, table, prune=("ts", lo_dt, hi_dt))
        .where(
            (F.unix_micros("ts") >= lo_us) & (F.unix_micros("ts") <= hi_us)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.unix_micros("ts")).cast("long").alias("sum_us"),
            F.sum(portable_hash64(F.col("event_id"))).cast("long").alias(
                "id_fp"
            ),
        )
        .withColumn("prune_ok", F.lit(prune_ok))
    )


@register(
    "snapshot_vacuum_grace",
    f"""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({oracle_hash_sql('text')}) AS BIGINT) AS text_fp,
           TRUE                         AS vacuum_ok
    FROM documents GROUP BY lang
    """,
    tags=("sources", "table-format", "maintenance", "gc"),
    description="Age-thresholded orphan GC (Iceberg remove_orphan_files "
    "older_than / Delta VACUUM retention shaped): a crashed writer's "
    "published-but-unclaimed data file and manifest segment look "
    "orphaned; vacuum with orphan_older_than spares anything younger "
    "than the window (safe next to in-flight writers), while the same "
    "files aged past the window sweep on the next run. vacuum_ok pins: "
    "dry-run sees both orphans, the graced sweep removes neither, the "
    "aged sweep removes both, live shards and row-level results are "
    "untouched throughout, and a second aged sweep is a no-op (GC "
    "idempotence). Engine: sources/snapshot_table.py::vacuum/"
    "_remove_unreferenced(older_than=).",
)
def q_snapshot_vacuum_grace(spark, sf_dir):
    import os
    import shutil
    import time as _time
    import uuid as _uuid

    from .sources import snapshot_table as st

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    table = scratch_dir("vacgrace")
    st.write_snapshot(docs.repartition(4), table)
    live_before = sorted(
        s["file"] for s in st._load_snapshot(table, 1)["shards"]
    )
    data = os.path.join(table, "data")
    src = os.path.join(data, live_before[0])
    pub = os.path.join(data, f"part-{_uuid.uuid4().hex}.parquet")
    shutil.copyfile(src, pub)  # step-2 publish, never claimed
    man = os.path.join(table, "_manifests", f"m-{_uuid.uuid4().hex}.json")
    os.makedirs(os.path.dirname(man), exist_ok=True)
    with open(man, "w") as fh:
        fh.write("[]")
    preview = st.vacuum(table, dry_run=True)["orphans_removed"]
    graced = st.vacuum(table, orphan_older_than=3600)["orphans_removed"]
    survived = os.path.exists(pub) and os.path.exists(man)
    old = _time.time() - 7200
    os.utime(pub, (old, old)), os.utime(man, (old, old))
    swept = st.vacuum(table, orphan_older_than=3600)["orphans_removed"]
    noop = st.vacuum(table, orphan_older_than=3600)["orphans_removed"]
    live_after = sorted(
        s["file"] for s in st._load_snapshot(table, 1)["shards"]
    )
    vacuum_ok = bool(
        preview == 2
        and graced == 0
        and survived
        and swept == 2
        and noop == 0
        and not os.path.exists(pub)
        and live_after == live_before
        and all(os.path.exists(os.path.join(data, f)) for f in live_after)
    )
    return _lang_fp(st.read_snapshot(spark, table)).withColumn(
        "vacuum_ok", F.lit(vacuum_ok)
    )


@register(
    "snapshot_hours_partition",
    f"""
    WITH lo AS (SELECT min(ts) AS t0 FROM events),
    h AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hb FROM events, lo
      WHERE ts < t0 + INTERVAL 2 DAY ORDER BY hb LIMIT 4
    ),
    pick AS (SELECT max(hb) AS hb FROM h)
    SELECT event_type,
           count(*)                          AS n_events,
           CAST(sum(epoch_us(ts)) AS BIGINT) AS sum_us,
           CAST(sum({oracle_hash_sql('event_id')}) AS BIGINT) AS id_fp,
           TRUE                              AS hours_ok
    FROM events, pick
    WHERE date_trunc('hour', ts) = pick.hb
    GROUP BY event_type
    """,
    tags=("sources", "table-format", "partitioning", "hidden-partition",
          "hours"),
    description="hours(ts) hidden partitioning (the finest Iceberg "
    "calendar transform): events committed partitioned by hours(ts), "
    "then a one-hour scan prunes to that hour's shards from partition "
    "metadata ALONE — the streaming-ingest retention/refresh grain for "
    "hot event tables. hours_ok pins: every shard records its hour "
    "value, a datetime probe maps through the transform to exactly the "
    "probed hour's shards (0 < matching < total), and the pruned "
    "aggregate fingerprints exactly against the wall-clock oracle. "
    "Engine: sources/snapshot_table.py::_parse_partition_spec (hours).",
)
def q_snapshot_hours_partition(spark, sf_dir):

    from .sources import snapshot_table as st

    ev_all = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    # bound the HARNESS table to the first two days (48 hour-partitions
    # — the gate's semantics are per-partition, not per-table-age; the
    # full fixture would fan 720 files into a table built per run,
    # which is harness cost, not evidence). The oracle slices the same
    # window; the probed hour comes from inside it.
    t0 = ev_all.agg(F.min("ts")).collect()[0][0]
    import datetime as _dt

    ev = ev_all.where(F.col("ts") < F.lit(t0 + _dt.timedelta(days=2)))
    # the 4th distinct hour bucket — deterministic, fixture-derived
    hb = (
        ev.select(F.date_trunc("hour", "ts").alias("hb"))
        .distinct().orderBy("hb").limit(4)
        .agg(F.max("hb")).collect()[0][0]
    )
    table = scratch_dir("hourspart")
    st.write_snapshot(ev, table, partition_by=["hours(ts)"])
    snap = st._load_snapshot(table, 1)
    stamped = all(
        s.get("partition", {}).get("hours(ts)") is not None
        for s in snap["shards"]
    )
    tvals = st._transform_probes(["hours(ts)"], "hours(ts)", hb)
    matching = [
        s for s in snap["shards"]
        if st._partition_match(s, "hours(ts)", tvals)
    ]
    exact = all(
        s["partition"]["hours(ts)"] in tvals for s in matching
    )
    hours_ok = bool(
        stamped and exact and 0 < len(matching) < len(snap["shards"])
    )
    return (
        st.read_snapshot(spark, table, partition_filter={"hours(ts)": hb})
        .where(F.date_trunc("hour", "ts") == F.lit(hb))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.unix_micros("ts")).cast("long").alias("sum_us"),
            F.sum(portable_hash64(F.col("event_id"))).cast("long").alias(
                "id_fp"
            ),
        )
        .withColumn("hours_ok", F.lit(hours_ok))
    )


@register(
    "snapshot_mv_refresh",
    f"""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS band,
           count(*)                                    AS cnt,
           {_R('CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)',
               2)}                                     AS sum_price,
           {_R('min(o_totalprice)', 2)}                AS min_price,
           {_R('max(o_totalprice)', 2)}                AS max_price,
           TRUE                                        AS mv_ok
    FROM orders WHERE o_totalprice >= 50000 GROUP BY 1
    """,
    tags=("sources", "table-format", "cdc", "incremental", "mv"),
    description="DECLARATIVE incremental materialized view "
    "(sources/materialized_view.py::refresh_aggregate_view — the "
    "engine-level form of the hand-rolled snapshot_cdc_aggregate "
    "pattern, Delta/Snowflake MV refresh shaped): a count/sum/min/max "
    "aggregate of orders by price band is built once, then maintained "
    "through an append (insert-only least/greatest fold, zero source "
    "rescans) and a CoW delete that empties one whole band (min/max "
    "dirty-group recompute restricted by semi-join + stats pruning; "
    "the emptied group MERGE-DELETEs). Each refresh is ONE atomic "
    "commit carrying the source-version watermark in its properties; "
    "a no-op refresh commits nothing. mv_ok pins: watermarks advance "
    "1->2->3, the no-op commits no view version, and the maintained "
    "view equals a full recompute exactly (signed multiset diff). At "
    "100 TB each refresh is O(delta + touched groups), never a "
    "source rescan. Oracle: the same aggregate over the source's "
    "final state.",
)
def q_snapshot_mv_refresh(spark, sf_dir):

    from .sources import materialized_view as mvw
    from .sources import snapshot_table as st

    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn(
            "band", F.floor(F.col("o_totalprice") / 50000).cast("long")
        )
    )
    root = scratch_dir("mv")
    src, view = root + "/src", root + "/view"
    spec = dict(
        group_by=["band"],
        sums={"sum_price": "CAST(o_totalprice AS DECIMAL(18,6))"},
        mins={"min_price": "o_totalprice"},
        maxs={"max_price": "o_totalprice"},
        count_col="cnt",
    )
    st.write_snapshot(
        orders.where(F.col("o_orderkey") % 3 != 2),
        src,
        stats_cols=["band"],
    )                                                           # src v1
    w1 = mvw.refresh_aggregate_view(spark, src, view, **spec)
    st.write_snapshot(
        orders.where(F.col("o_orderkey") % 3 == 2),
        src,
        mode="append",
        stats_cols=["band"],
    )                                                           # src v2
    w2 = mvw.refresh_aggregate_view(spark, src, view, **spec)
    st.delete_where(spark, src, "o_totalprice < 50000")         # src v3
    w3 = mvw.refresh_aggregate_view(spark, src, view, **spec)
    view_v = st.latest_version(view)
    w_noop = mvw.refresh_aggregate_view(spark, src, view, **spec)
    noop_ok = w_noop == 3 and st.latest_version(view) == view_v

    maintained = st.read_snapshot(spark, view)
    recomputed = (
        st.read_snapshot(spark, src)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,6))")).alias(
                "sum_price"
            ),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(*maintained.columns)
    )
    # one action, one pass per side (signed multiset diff — same
    # boolean as exceptAll both ways, half the scan/agg work)
    equal = _multiset_diff(maintained, recomputed).isEmpty()
    mv_ok = bool((w1, w2, w3) == (1, 2, 3) and noop_ok and equal)
    return maintained.select(
        "band",
        "cnt",
        _r(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        _r(F.col("min_price"), 2).alias("min_price"),
        _r(F.col("max_price"), 2).alias("max_price"),
        F.lit(mv_ok).alias("mv_ok"),
    )


@register(
    "snapshot_mv_time_rollup",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*)                       AS cnt,
           {_R('CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)',
               2)}                        AS sum_price,
           {_R('max(o_totalprice)', 2)}   AS max_price,
           TRUE                           AS mv_ok
    FROM orders WHERE o_orderdate >= TIMESTAMP '1993-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("sources", "table-format", "cdc", "incremental", "mv",
          "time-window"),
    description="Time-windowed materialized view via DERIVED group "
    "keys: a monthly revenue rollup grouped by "
    "date_format(o_orderdate, 'yyyy-MM') — the key is an expression "
    "evaluated row-locally on the full build, the signed fold, and "
    "the dirty recompute alike, so the rollup needs NO materialized "
    "month column in the source (the partition-transform idiom "
    "applied to MV maintenance). Maintained through an append of "
    "three later years (insert-only fold) and a GDPR-shaped delete "
    "of the earliest year (dirty recompute; every 1992 month group "
    "must vanish). mv_ok pins watermark sequence and multiset-"
    "equality with a full recompute. Oracle: the same monthly "
    "aggregate over the source's final state.",
)
def q_snapshot_mv_time_rollup(spark, sf_dir):

    from .sources import materialized_view as mvw
    from .sources import snapshot_table as st

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    root = scratch_dir("mvtr")
    src, view = root + "/src", root + "/view"
    spec = dict(
        group_by={"month": "date_format(o_orderdate, 'yyyy-MM')"},
        sums={"sum_price": "CAST(o_totalprice AS DECIMAL(18,6))"},
        maxs={"max_price": "o_totalprice"},
        count_col="cnt",
    )
    cut = _ts("1996-01-01 00:00:00")
    st.write_snapshot(
        orders.where(F.col("o_orderdate") < cut), src,
        stats_cols=["o_orderdate"],
    )                                                           # src v1
    w1 = mvw.refresh_aggregate_view(spark, src, view, **spec)
    st.write_snapshot(
        orders.where(F.col("o_orderdate") >= cut), src,
        mode="append", stats_cols=["o_orderdate"],
    )                                                           # src v2
    w2 = mvw.refresh_aggregate_view(spark, src, view, **spec)
    st.delete_where(
        spark, src, "o_orderdate < TIMESTAMP '1993-01-01 00:00:00'"
    )                                                           # src v3
    w3 = mvw.refresh_aggregate_view(spark, src, view, **spec)

    maintained = st.read_snapshot(spark, view)
    recomputed = (
        st.read_snapshot(spark, src)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,6))")).alias(
                "sum_price"
            ),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(*maintained.columns)
    )
    equal = (
        # one action, one pass per side (signed multiset diff — same
        # boolean as exceptAll both ways, half the scan/agg work)
        _multiset_diff(maintained, recomputed)
        # the GDPR gate rides the same single action: any surviving
        # pre-1993 month group fails equality-with-recompute anyway
        # only if the source disagreed, so it is pinned separately —
        # as rows unioned into the one emptiness check
        .unionAll(
            maintained.where(F.col("month") < "1993-01")
            .select(*maintained.columns)
        )
        .isEmpty()
    )
    mv_ok = bool((w1, w2, w3) == (1, 2, 3) and equal)
    return maintained.select(
        "month",
        "cnt",
        _r(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        _r(F.col("max_price"), 2).alias("max_price"),
        F.lit(mv_ok).alias("mv_ok"),
    )


@register(
    "snapshot_mv_multi",
    f"""
    SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS band,
           count(*)                                    AS cnt,
           {_R('CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)',
               2)}                                     AS sum_price,
           TRUE                                        AS mv_ok
    FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 1
    """,
    tags=("sources", "table-format", "cdc", "incremental", "mv"),
    description="MULTI-VIEW refresh under the oracle: two aggregate "
    "views of one source (price-band sum/count and per-status "
    "min/max) maintained by refresh_aggregate_views — the CDC "
    "multiset diff computed ONCE and folded into both (the "
    "multi-rollup pipeline shape; the one-read sharing itself is "
    "pytest-pinned by a read_cdc call counter, and the A/B is "
    "SCALING.json[mv_multi_view_ab]). The source takes an append "
    "plus a keyed CoW delete between refreshes; mv_ok pins both "
    "views' multiset-equality with full recomputes and the shared "
    "watermark sequence. Oracle: view 1's aggregate over the final "
    "state.",
)
def q_snapshot_mv_multi(spark, sf_dir):

    from .sources import materialized_view as mvw
    from .sources import snapshot_table as st

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn(
        "band", F.floor(F.col("o_totalprice") / 20000).cast("long")
    )
    root = scratch_dir("mvmulti")
    src, v1, v2 = root + "/src", root + "/v1", root + "/v2"
    spec1 = dict(
        group_by=["band"],
        sums={"sum_price": "CAST(o_totalprice AS DECIMAL(18,6))"},
        count_col="cnt",
    )
    spec2 = dict(
        group_by=["o_orderstatus"],
        mins={"min_price": "o_totalprice"},
        maxs={"max_price": "o_totalprice"},
        count_col="cnt",
    )
    views = {v1: spec1, v2: spec2}
    st.write_snapshot(orders.where("o_orderkey % 2 = 0"), src)  # v1
    w0 = mvw.refresh_aggregate_views(spark, src, views)
    st.write_snapshot(
        orders.where("o_orderkey % 2 = 1"), src, mode="append"
    )                                                           # v2
    st.delete_where(spark, src, "o_orderkey % 7 = 3")           # v3
    w1 = mvw.refresh_aggregate_views(spark, src, views)

    m1 = st.read_snapshot(spark, v1)
    m2 = st.read_snapshot(spark, v2)
    r1 = (
        st.read_snapshot(spark, src)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,6))")).alias(
                "sum_price"
            ),
        )
        .select(*m1.columns)
    )
    r2 = (
        st.read_snapshot(spark, src)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(*m2.columns)
    )

    def _eq(a, b):
        # one action, one pass per side (signed multiset diff — same
        # boolean as exceptAll both ways, half the scan/agg work)
        return _multiset_diff(a, b).isEmpty()

    mv_ok = bool(
        w0 == {v1: 1, v2: 1}
        and w1 == {v1: 3, v2: 3}
        and _eq(m1, r1)
        and _eq(m2, r2)
    )
    return m1.select(
        "band",
        "cnt",
        _r(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        F.lit(mv_ok).alias("mv_ok"),
    )
