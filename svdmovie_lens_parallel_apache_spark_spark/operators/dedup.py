"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star additions (BASELINE.json) — the reference dedups nothing, but a
100 TB corpus pipeline lives or dies on these. Scale shapes:

- exact: hash-groupBy on a canonicalised fingerprint — one shuffle keyed
  by digest, no skew (digests are uniform).
- n-gram Jaccard: exact pairwise similarity is O(N²); it is only run
  INSIDE small blocks (here: language) or on LSH candidates. The all-pairs
  form exists as the verification/oracle baseline.
- MinHash+LSH: signatures are per-row map work; banding turns near-dup
  search into an equi-join on band keys (shuffle keyed by band), and only
  candidate pairs pay the exact-Jaccard verification. This is the 100 TB
  path (same construction as MLlib MinHashLSH, but with engine-portable
  md5 hashes so a SQL oracle can replay it bit-for-bit).
- SimHash: 32-bit signature per doc from token hashes; near-dups are
  pairs with small Hamming distance (bit_count(xor) — JVM intrinsics).

All hashes are the portable md5-derived family from functions/hashing.py;
swap in xxhash64 for raw speed when cross-engine parity isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.scalar import portable_round as _r
from ..functions.text import shingles_from_tokens, tokens


def _canon(text: Column) -> Column:
    return F.lower(F.trim(text))


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups keyed by md5 of canonicalised text:
    (fingerprint, keeper=min doc_id, n_copies). Deterministic keep-first."""
    return (
        docs.groupBy(F.md5(_canon(F.col("text"))).alias("fp_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    # MLlib NGram builds the n-grams JVM-side (~6× the interpreted
    # transform/slice/concat HOF chain, bit-identical output: space-joined
    # n-grams, empty for docs shorter than n). array_distinct on top gives
    # set semantics. shingles_from_tokens remains the pure-expression twin
    # for column-level use.
    from pyspark.ml.feature import NGram

    from .relational import spread_small

    # the tokenize+n-gram explosion is the CPU-dense map stage of every
    # Jaccard-family pipeline; a single-split input runs it on one core
    # (round 13 — no-op when the scan is already parallel)
    toksed = spread_small(docs).select(
        "doc_id", "lang", tokens(F.lower(F.col("text"))).alias("__toks")
    )
    ng = NGram(n=n, inputCol="__toks", outputCol="__ng")
    return ng.transform(toksed).select(
        "doc_id", "lang", F.array_distinct("__ng").alias("shingles")
    )


def _posting_pairs(ds: Column) -> Column:
    """All i<j element pairs of a SORTED posting-list array ``ds`` as
    ``struct(a, b)`` — the single pair-emission expression every
    posting-list join shares (ordering of ``ds`` gives a < b for
    free). One subtle index expression, one copy."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union.cast("double")


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3,
                  block_col: str = "lang", max_df: int = 1000) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs within a blocking key,
    via POSTING LISTS (inverted index), not per-pair array intersection:

        explode shingles → drop stop-shingles (df > max_df)
        → group posting list per (block, shingle), emit i<j doc pairs
        → count rows per (doc_a, doc_b) = |A ∩ B restricted to kept shingles|
        → jaccard = ∩ / (|A| + |B| - ∩)

    Equivalent to all-pairs intersection for any threshold > 0 (pairs with
    empty intersection can't pass), but it is all shuffles + hash aggs —
    no O(pairs × shingle-width) array scans.

    ``max_df`` is the scale guard: a shingle appearing in df documents
    emits C(df, 2) pairs, so ONE stop-shingle with df=10⁶ would emit
    5·10¹¹ pairs. Shingles with df > max_df within a block are dropped
    BEFORE pair emission (cheap count agg with map-side partials → tiny
    stop set → broadcast anti-join), bounding both the pair blowup and the
    posting-list aggregation buffers. Recall tradeoff: pairs whose overlap
    is carried ONLY by ultra-common shingles score lower (the intersection
    is restricted to kept shingles while |A|, |B| stay full), so genuinely
    boilerplate-only "near-dups" are — deliberately — not reported.
    Set ``max_df`` ≥ the block's doc count to disable.
    """
    s = with_shingles(docs, n).select(
        F.col(block_col).alias("blk"),
        "doc_id",
        "shingles",
        F.size("shingles").alias("sz"),
    )
    posts = s.select("blk", "doc_id", "sz", F.explode("shingles").alias("sh"))
    stop = (
        posts.groupBy("blk", "sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("blk", "sh")
    )
    posts = posts.join(F.broadcast(stop), ["blk", "sh"], "left_anti")
    # single pass, no self-join: group the posting list per shingle, emit
    # all i<j doc pairs from each list (document frequencies are small
    # once stop-shingles are bounded, so C(df,2) per shingle stays tiny).
    # array_sort on the structs orders by doc_id → doc_a < doc_b for free.
    grouped = posts.groupBy("blk", "sh").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ds")
    )
    pairs = grouped.select(F.explode(_posting_pairs(F.col("ds"))).alias("p"))
    inter = (
        pairs.select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.sz").alias("sz_a"),
            F.col("p.b.sz").alias("sz_b"),
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast(
        "double"
    )
    return (
        inter.select("doc_a", "doc_b", _r(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_collision_pairs(docs: DataFrame, bench_cond: Column, n: int = 3,
                          min_shared: int = 2, max_df: int = 1000) -> DataFrame:
    """Benchmark DECONTAMINATION: cross-corpus n-gram collision detection —
    the GPT-3/LLaMA-style filter that finds training documents sharing
    n-gram shingles with an evaluation/benchmark set (a different operator
    from within-corpus dedup: the match is corpus × benchmark, and ANY
    shared shingle run is a signal, not just high Jaccard).

    ``bench_cond`` marks the benchmark docs (here a deterministic hash
    slice; in deployment, the loaded benchmark suite). Distributed shape:
    shingle posting lists → stop-shingle df cap (same C(df,2)-style blowup
    bound as :func:`jaccard_pairs`, and boilerplate shingles carry no
    contamination signal) → equi-join on shingle with the BENCH side
    broadcast (a benchmark suite is tiny next to a 100 TB corpus) → count
    distinct shared shingles per (corpus_doc, bench_doc), keep pairs with
    ``>= min_shared``. No all-pairs comparison anywhere; the corpus side
    never shuffles for the join.
    """
    s = with_shingles(docs, n).select("doc_id", F.explode("shingles").alias("sh"))
    stop = (
        s.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("sh")
    )
    posts = s.join(F.broadcast(stop), "sh", "left_anti")
    bench = posts.where(bench_cond).select(
        F.col("doc_id").alias("bench_doc_id"), "sh"
    )
    corpus = posts.where(~bench_cond).select(
        F.col("doc_id").alias("corpus_doc_id"), "sh"
    )
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("corpus_doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


P31 = 2147483647  # Mersenne prime 2^31 - 1: universal-hash modulus


def minhash_mix_params(salt: int) -> tuple[int, int]:
    """Deterministic (a, b) for the salt's universal hash
    h_salt(x) = (a·x + b) mod P31 — md5-derived so oracles/tests embed the
    same literals. a·x < 2^62 fits signed 64-bit."""
    import hashlib

    a = int(hashlib.md5(f"mha|{salt}".encode()).hexdigest()[:8], 16) % P31 or 1
    b = int(hashlib.md5(f"mhb|{salt}".encode()).hexdigest()[:8], 16) % P31
    return a, b


def shingle_base_hashes(shingles: Column) -> Column:
    """Per-shingle base hash H(s) mod P31 — computed ONCE; the k minhash
    permutations are cheap arithmetic over this array (one md5 per shingle
    instead of k)."""
    return F.transform(shingles, lambda s: portable_hash64(s) % P31)


def minhash_signature(base_hashes: Column, k: int = 8) -> list[Column]:
    """k minhash values: min over shingles of (a_salt·h + b_salt) mod P31.

    NB: each per-salt lambda must take exactly ONE parameter — PySpark
    treats a second lambda parameter as the array index, so capturing the
    salt via a default argument silently binds it to the index column.
    """

    def _mh(salt: int) -> Column:
        a, b = minhash_mix_params(salt)
        return F.array_min(
            F.transform(base_hashes, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(P31))
        )

    return [_mh(salt).alias(f"mh{salt}") for salt in range(k)]


def minhash_dedup_pairs(docs: DataFrame, k: int = 8, band_size: int = 2,
                        threshold: float = 0.5, n: int = 3) -> DataFrame:
    """MinHash→band→bucket-join→exact-verify near-dup pairs.

    Docs whose k-hash signatures agree on ANY band of ``band_size``
    consecutive hashes become candidates; candidates are verified with
    exact shingle Jaccard ≥ threshold. Distributed shape: map (signature)
    → explode bands → equi-join on band key → verify join back to
    shingles. No all-pairs comparison anywhere.
    """
    assert k % band_size == 0
    # materialise DISTINCT base hashes once: the k permutations are cheap
    # arithmetic over this int array, and verification intersects int
    # arrays instead of shingle strings (same Jaccard modulo the
    # negligible P31 collision rate; the oracle replays hashes identically)
    s = (
        with_shingles(docs, n)
        .select(
            "doc_id",
            F.array_distinct(shingle_base_hashes(F.col("shingles"))).alias("hs"),
        )
        .withColumns({f"mh{i}": c for i, c in enumerate(minhash_signature(F.col("hs"), k))})
    )
    n_bands = k // band_size
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(f"b{b}"),
                *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
            )
            for b in range(n_bands)
        ]
    )
    banded = s.select("doc_id", F.explode(band_keys).alias("band_key"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band_key")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = s.select("doc_id", "hs")
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")), "doc_b")
        .select("doc_a", "doc_b", _r(_jaccard(F.col("hs_a"), F.col("hs_b")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def mllib_minhash_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3,
                        num_hash_tables: int = 3,
                        num_features: int = 1 << 16) -> DataFrame:
    """MLlib-native near-dup variant: shingles → HashingTF (binary sparse
    vectors) → MinHashLSH.approxSimilarityJoin at Jaccard distance
    1-threshold. Engine-internal hashes (not portable) → rows-only check;
    recall vs the exact pairs is asserted in tests.

    Same asymptotic shape as :func:`minhash_dedup_pairs` (signatures +
    bucket join); use whichever fits the deployment — this one rides MLlib
    maintenance, the portable one gives oracle-replayable results.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    s = with_shingles(docs, n).where(F.size("shingles") > 0)
    feat = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True
    ).transform(s).select("doc_id", "features")
    # Both sides of the self-join and the LSH fit read this — cache one
    # materialisation instead of recomputing shingles+TF three times.
    feat = feat.cache()
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="jaccard_dist")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            _r(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20,
                   driver_edge_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    Completes the dedup pipeline: pair detection (Jaccard/MinHash/SimHash)
    gives EDGES; keep-one-per-group needs the transitive CLOSURE, labelled
    by the smallest doc_id in each component.

    Two paths, chosen by ONE bounded read: ``limit(driver_edge_threshold
    + 1).collect()`` of the pairs.

    - Driver (the common case — near-dup edge lists are orders of
      magnitude smaller than the corpus): at most
      ``driver_edge_threshold`` pair rows came back, so a linear
      union-find runs over them and the result returns as an Arrow table
      (a local relation: no Python-RDD job, no further Spark job).
    - Distributed (pathological dup-heavy crawls): the symmetrised edge
      set is localCheckpointed once and min-label propagation runs as a
      driver loop with a fixpoint check, the iterative-algorithm pattern
      the reference used for training epochs
      (SVDMovieLensSparkJava.java:416-420); it converges in O(component
      diameter) iterations (near-dup clusters are shallow).

    Both paths give the same labelling (pytest-gated).
    """
    import pyarrow as pa

    # Spark's limit is an int: a threshold past it means "always driver"
    head = (
        pairs.select("doc_a", "doc_b")
        .limit(min(driver_edge_threshold + 1, 2**31 - 1))
        .collect()
    )
    if len(head) <= driver_edge_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in head:
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-label union: the representative is the smallest id,
                # matching the min-label-propagation fixpoint exactly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = sorted({n for edge in head for n in edge})
        return pairs.sparkSession.createDataFrame(
            pa.table({
                "doc_id": pa.array(nodes, pa.int64()),
                "cluster_id": pa.array([find(n) for n in nodes], pa.int64()),
            }),
            schema="doc_id long, cluster_id long",
        )
    # Symmetrise with a single-pass explode rather than union(swap):
    # union branches are separate plan subtrees, so the (expensive) pair
    # lineage would execute TWICE in the checkpoint job — at sf0.1 that
    # union shape alone doubled this operator's cost. The checkpoint
    # keeps the pair detection from re-running per iteration and
    # truncates lineage so plans don't grow with the loop.
    edges_sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges_sym.select(F.col("src").alias("node")).distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # Fixpoint detection: min-label propagation is MONOTONE (labels only
    # ever decrease), so the label sum strictly decreases until the fixpoint
    # — comparing sums replaces a join+count per iteration with one tiny agg
    # over the already-checkpointed labels.
    label_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(max_iter):
        prop = (
            edges_sym.join(labels, edges_sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "cluster_id")
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if new_sum == label_sum:
            break
        label_sum = new_sum
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over distinct lowercase tokens.

    bit j of the signature = sign of sum over tokens of (±1 by bit j of
    the token hash). Pure column expressions; the per-bit vote is a
    higher-order aggregate over the token-hash array. Token hashes are
    taken wide enough to cover ``bits`` (portable md5 prefix), so
    signatures up to 60 bits stay meaningful — wider signatures keep the
    pigeonhole chunk buckets of :func:`simhash_pairs` fine-grained at
    corpus scale.
    """
    from ..functions.hashing import portable_hash_wide

    hash_bits = min(60, ((bits + 3) // 4) * 4)
    toks = F.array_distinct(tokens(F.lower(F.col("text"))))
    # materialise token hashes once; the per-bit votes then fold over
    # the array column instead of re-hashing per bit
    from .relational import spread_small

    hashed = spread_small(docs).select(
        "doc_id", F.transform(toks, lambda t: portable_hash_wide(t, hash_bits)).alias("hs")
    )

    # Closure factory: the fold lambda must take exactly (acc, elem) —
    # a third defaulted parameter would be misread by PySpark's HOF arity
    # detection (see minhash_signature).
    def _vote(j: int) -> Column:
        return F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    sig = None
    for j in range(bits):
        term = F.when(_vote(j) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return hashed.select("doc_id", sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, via PIGEONHOLE CHUNK
    BLOCKING — no all-pairs scan anywhere.

    Split each signature into ``max_hamming + 1`` disjoint bit chunks. Two
    signatures within ``max_hamming`` differing bits can touch at most
    ``max_hamming`` chunks, so they agree EXACTLY on at least one chunk
    (pigeonhole) — candidate generation is therefore an equi-join on
    (chunk_idx, chunk_val), the same shuffle shape as MinHash banding
    (:func:`minhash_dedup_pairs`), followed by an exact
    ``bit_count(xor) <= d`` verify on the candidates only. Recall is 100%
    by construction; the join fan-out is bounded by docs-per-chunk-bucket
    (chunks are ≥ bits/(d+1) wide, so buckets are fine-grained).
    """
    s = simhash(docs, bits)
    n_chunks = max_hamming + 1
    base, rem = divmod(bits, n_chunks)
    # chunk widths as even as possible: first `rem` chunks get an extra bit
    widths = [base + 1 if i < rem else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    def chunk_of(sig: Column, i: int) -> Column:
        return F.shiftright(sig, offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))

    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                chunk_of(F.col("simhash"), i).alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    banded = s.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk_val")
    x = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "chunk_idx", "chunk_val",
    )
    y = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "chunk_idx", "chunk_val",
    )
    # FIRST-MATCH emission instead of distinct: a pair sharing k chunks
    # would surface k times; keeping only the row whose chunk_idx is the
    # pair's first agreeing chunk emits each pair exactly once via a cheap
    # bitwise filter — no distinct shuffle over the (much wider) candidate
    # set. Matters precisely when near-identical clusters are large (all
    # chunks agree → 4× duplication for every true pair).
    first_match = None
    for i in range(n_chunks):
        earlier_differ = F.lit(True)
        for j in range(i):
            earlier_differ = earlier_differ & (
                chunk_of(F.col("sig_a"), j) != chunk_of(F.col("sig_b"), j)
            )
        cond = (F.col("chunk_idx") == i) & earlier_differ
        first_match = cond if first_match is None else (first_match | cond)
    cand = (
        x.join(y, ["chunk_idx", "chunk_val"])
        .where((F.col("doc_a") < F.col("doc_b")) & first_match)
        .select("doc_a", "doc_b", "sig_a", "sig_b")
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def substring_dup_stats(docs: DataFrame, window: int = 20) -> DataFrame:
    """Cross-document exact-substring duplication at fixed token-window
    grain — the distributed approximation of suffix-array ExactSubstr
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): a span repeated ANYWHERE in the corpus marks every
    document containing it.

    Each document's lowercased token stream is cut into DISJOINT
    ``window``-token windows (stride = window, so token counts attribute
    cleanly); a window is duplicated iff its hash occurs more than once
    corpus-wide (other docs or a repeat within the same doc). Returns
    per-doc ``(doc_id, n_windows, n_dup_windows, dup_win_frac,
    flagged)``.

    Scale shape: one explode to (doc, window-hash) — the window TEXT
    dies inside the hash expression, so the shuffle carries 8-byte
    hashes, not spans — one count aggregation keyed by uniform hash
    (map-side partials), one hash equi-join back, one per-doc agg.
    No pair enumeration anywhere: cost is O(total windows), corpus-size
    independent per row — the same inverted-index discipline as the
    Jaccard family. Disjoint windows trade boundary-straddling repeats
    (a true dup span can hide across a window edge) for a window-count
    that sums to n_tokens/window; the stride-1 form catches those at
    window× the explode cost — the suffix array is what removes that
    trade entirely, and it does not shard; this is the form a Spark
    pipeline actually runs.
    """
    from .relational import spread_small

    w = max(1, window)
    t = spread_small(docs).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    starts = F.when(
        F.size("toks") >= w,
        F.sequence(F.lit(0), F.size("toks") - w, F.lit(w)),
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        starts,
        lambda s: portable_hash64(
            F.array_join(F.slice(F.col("toks"), s + 1, w), " ")
        ),
    )
    e = t.select("doc_id", F.explode_outer(hashes).alias("h"))
    counts = (
        e.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    per_doc = (
        e.join(counts, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("h").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_windows"),
            F.sum(
                F.when(F.col("df") > 1, 1).otherwise(0)
            ).cast("long").alias("n_dup_windows"),
        )
    )
    frac = _r(
        F.when(F.col("n_windows") == 0, F.lit(0.0)).otherwise(
            F.col("n_dup_windows").cast("double")
            / F.col("n_windows").cast("double")
        ),
        6,
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        frac.alias("dup_win_frac"),
    ).withColumn("flagged", F.col("dup_win_frac") >= 0.5)


def jaccard_pairs_prefix(
    docs: DataFrame, threshold: float = 0.5, n: int = 3,
    block_col: str = "lang",
) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs via PREFIX FILTERING
    (Chaudhuri/Bayardo prefix filter, the PPJoin candidate rule) — the
    LOSSLESS scale path next to :func:`jaccard_pairs`'s ``max_df`` cap:

        df per (block, shingle)  →  canonical order = (df asc, shingle)
        → per doc keep only the PREFIX: first |d| - ceil(t*|d|) + 1
          shingles in canonical order
        → candidate pairs = docs sharing >=1 PREFIX shingle
        → verify candidates exactly (array_intersect on full shingle
          sets), keep jaccard >= t

    Why it is exact: if J(A,B) >= t and both docs skipped each other in
    the prefix index, the overlap would have to live entirely in the two
    suffixes of length ceil(t*|d|) - 1 — too small to reach t (the
    standard prefix-filter guarantee). So unlike ``max_df``, no
    recall is traded away at ANY df distribution.

    Why it scales: the canonical order is ascending document frequency,
    so a doc's prefix holds its RAREST shingles — an ultra-common
    shingle enters prefixes only for docs short enough that it ranks in
    their first (1-t)|d|+1, which bounds posting-list blowup without a
    tuning knob. A length filter (least(sz)/greatest(sz) >= t, since
    Jaccard <= min/max) prunes candidates before the exact verify, and
    verification is O(candidates x shingle width) — candidates, not all
    pairs. Plan: two shuffles to rank (df join, per-doc prefix), one to
    group prefix postings, one candidate distinct, one verify join.

    A NULL block value is its own block (the baseline's groupBy
    semantics): the block key is coalesced to a sentinel BEFORE the
    equi-joins, because plain join equality would silently drop every
    NULL-block doc and break the lossless contract."""
    from pyspark.sql import functions as F

    from ..functions.scalar import portable_round as _r

    # "\x00?" cannot collide with a real value: it only has to differ
    # from the STRING FORMS of this one column's non-null values
    blk = F.coalesce(F.col(block_col).cast("string"), F.lit("\x00?"))
    s = with_shingles(docs, n).select(
        blk.alias("blk"), "doc_id", "shingles",
        F.size("shingles").alias("sz"),
    )
    posts = s.select("blk", "doc_id", F.explode("shingles").alias("sh"))
    dfs = posts.groupBy("blk", "sh").agg(F.count(F.lit(1)).alias("df"))
    p_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).cast("int")
    pref = (
        posts.join(dfs, ["blk", "sh"])
        .groupBy("blk", "doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("o"),
            F.count(F.lit(1)).alias("sz"),
        )
        .select(
            "blk", "doc_id",
            F.explode(F.slice(F.col("o"), 1, p_len)).alias("ps"),
        )
        .select("blk", "doc_id", F.col("ps.sh").alias("sh"))
    )
    grouped = pref.groupBy("blk", "sh").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    cand = (
        grouped.select("blk", F.explode(_posting_pairs(F.col("ds"))).alias("p"))
        .select("blk", F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )
    a = s.select(
        "blk", F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"), F.col("sz").alias("sz_a"),
    )
    b = s.select(
        "blk", F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"), F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = _r(
        inter.cast("double")
        / (F.col("sz_a") + F.col("sz_b") - inter).cast("double"),
        6,
    )
    return (
        cand.join(a, ["blk", "doc_a"])
        .join(b, ["blk", "doc_b"])
        .where(
            F.least(F.col("sz_a"), F.col("sz_b")).cast("double")
            >= F.lit(threshold) * F.greatest(F.col("sz_a"), F.col("sz_b"))
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
