"""Embedding similarity search: brute-force cosine top-k + sign-random-
projection LSH bucketing.

North-star addition (BASELINE.json). The embeddings fixture is
``(vec_id BIGINT, embedding ARRAY<FLOAT>[64], label INT)`` — rank 64, the
reference's factor width (SVDMovieLensSparkJava.java:38).

Scale shapes:
- brute-force: broadcast the (small) query set against the full corpus —
  a map-side crossJoin, no shuffle of the corpus; per-query top-k via a
  window over query_id. Exact; the baseline every ANN variant is measured
  against.
- LSH: 16 sign-random-projection bits → bucket id; neighbor search only
  compares within-bucket (equi-join on bucket). Hyperplanes are derived
  from the portable md5 hash family, so bucket assignment is replayable
  in the DuckDB oracle and across runs/engines.
- IVF: k-means cells; one Arrow-batched scan of the corpus scores each
  vector against only the queries that probe its cell (GEMM per cell).

The oracle-replayed dot/norm math is sequential-fold ``aggregate`` over
array<double> — JVM-side and bit-reproducible against DuckDB's
``list_reduce`` (same fold order), but interpreted per element:
higher-order functions (``zip_with``/``aggregate``) are CodegenFallback,
not whole-stage codegen. Rows-only operators (IVF, PQ encode, multi-table
LSH) do their dense math in NumPy inside Arrow UDFs instead.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import portable_round as _r
from ..functions.vectors import cosine_similarity, dot, l2_norm, to_double


def lsh_hyperplanes(dim: int = 64, n_planes: int = 16, tag: str = "hp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the portable md5 hash:
    component (j, i) = md5("hp|j|i")[:8] / 2^32 - 0.5. Reproducible in any
    engine with md5 — the DuckDB oracle regenerates them in SQL."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(1, dim + 1):
            h = int(hashlib.md5(f"{tag}|{j}|{i}".encode()).hexdigest()[:8], 16)
            row.append(h / 2**32 - 0.5)
        planes.append(row)
    return planes


def _plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in plane])


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = Σ 2^j · [dot(vec, plane_j) > 0]."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bit = (dot(vec, _plane_lit(plane)) > 0).cast("long")
        bucket = bucket + bit * F.lit(1 << j).cast("long")
    return bucket


def adaptive_n_planes(
    n_rows: int, base: int = 4, target: int = 32, cap: int = 24
) -> int:
    """Plane count for sign-LSH blocking that keeps MEAN BUCKET SIZE near
    ``target`` as the corpus grows: the smallest ``np >= base`` with
    ``n_rows <= target * 2**np`` (capped). Fixed ``np`` makes
    bucket-blocked candidate pairs grow ~N^2/2^np — quadratic with a
    small constant, measured super-linear (exp 1.33) across sf1->sf10 —
    while ``2^np ∝ N`` holds expected candidates at ~target·N/2, linear.
    Integer-only thresholds (``n > target·2^k``) so the DuckDB oracle
    replays the choice bit-exactly (no float log2 at a power-of-two
    boundary)."""
    np_ = base
    while np_ < cap and n_rows > (target << np_):
        np_ += 1
    return np_


def lsh_buckets(emb: DataFrame, dim: int = 64, n_planes: int = 16) -> DataFrame:
    planes = lsh_hyperplanes(dim, n_planes)
    vec = to_double(F.col("embedding"))
    return emb.select("vec_id", lsh_bucket(vec, planes).alias("bucket"))


def knn_brute_force(emb: DataFrame, query_ids_below: int = 10, k: int = 5) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < N) broadcast against all
    candidates; per-query window picks the k best. Deterministic ordering:
    (cosine desc, neighbor_id asc)."""
    from pyspark.sql import Window

    base = emb.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    q = base.where(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec")
    )
    c = base.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("c_vec"))
    pairs = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    cos = cosine_similarity(F.col("q_vec"), F.col("c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _r(F.col("cos_raw"), 6).alias("cosine"))
    )


def knn_brute_force_l2(emb: DataFrame, query_ids_below: int = 10, k: int = 5) -> DataFrame:
    """Exact EUCLIDEAN top-k (squared-distance ordering — monotone in the
    distance, no sqrt needed): broadcast queries × corpus, sequential-fold
    sum of squared diffs, per-query window. Deterministic ordering:
    (sq_dist asc, neighbor_id asc). The exact twin for the MLlib BRP-LSH
    variant, whose metric is Euclidean rather than cosine."""
    from pyspark.sql import Window

    base = emb.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    q = base.where(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec")
    )
    c = base.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("c_vec"))
    pairs = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    d2 = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_raw"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", d2.alias("d2_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _r(F.col("d2_raw"), 6).alias("sq_dist"))
    )


def ann_recall_gate(emb: DataFrame, approx: DataFrame, query_ids_below: int = 10,
                    k: int = 5, floor: float = 0.5,
                    brute: DataFrame | None = None) -> DataFrame:
    """Fold an approximate kNN result into an ORACLE-ABLE one-row gate:
    (n_queries, k, n_brute_pairs, recall_ok). The brute-force ground truth
    is computed in-engine (both sides already exist as operators); the
    DuckDB oracle pins the deterministic columns and ``recall_ok = TRUE``
    — the approx_distinct_sketch trick: a recall collapse flips the
    boolean and fails the driver's hash gate, while the engine-specific
    neighbor lists themselves stay out of the hashed surface.

    ``floor`` is evidence-pinned per caller (measured recall − margin at
    sf0.001/sf0.01, the two gated scales). The test fixture is REGENERATED
    between driver rounds, so a fresh fixture can legitimately shift
    measured recall: when a gate trips with no code change, re-measure
    recall on the new fixture (``tests/test_pipeline_ops.py`` prints the
    raw hit counts) before suspecting a regression, and keep floors at
    least 0.05-0.10 under the worst measured value. The oracle side
    derives ``n_queries``/``n_brute_pairs`` from the fixture itself
    (``catalog_text._ANN_GATE_ORACLE``) so counts never false-fail.
    ``brute`` overrides the ground truth (default cosine brute force) —
    pass :func:`knn_brute_force_l2` for Euclidean-metric approximations
    like MLlib BRP.
    """
    if brute is None:
        brute = knn_brute_force(emb, query_ids_below, k)
    brute = brute.select("query_id", "neighbor_id")
    hits = brute.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    agg = brute.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_brute_pairs"),
    ).crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    return agg.select(
        "n_queries",
        F.lit(k).alias("k"),
        "n_brute_pairs",
        (F.col("n_hits") >= F.col("n_brute_pairs") * floor).alias("recall_ok"),
    )


def knn_lsh(emb: DataFrame, query_ids_below: int = 10, k: int = 5,
            dim: int = 64, n_planes: int = 4, n_tables: int = 8) -> DataFrame:
    """ANN top-k via multi-table sign-LSH (OR-amplification).

    ``n_tables`` independent hyperplane sets; a pair is a candidate if it
    collides in ANY table — recall 1-(1-p^b)^L instead of a single table's
    p^b, which collapses on near-orthogonal corpora. Distributed shape:
    explode (table, bucket) keys → equi-join → distinct candidate pairs →
    exact cosine re-rank. Same output shape as :func:`knn_brute_force` so
    recall is directly measurable (tests/test_pipeline_ops.py).
    """
    from .relational import spread_small

    emb = spread_small(emb)  # no-op unless the scan is under-parallel
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    base = emb.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    # all tables' hyperplanes as one (T·B, dim) matrix; bucket bits computed
    # in ONE Arrow-batched matmul per batch instead of T·B interpreted HOF
    # folds per row (rows-only query — the portable expression path, which
    # the oracle replays bit-for-bit, lives in lsh_buckets/ann_lsh_buckets)
    planes = np.array(
        [lsh_hyperplanes(dim, n_planes, tag=f"hp{t}") for t in range(n_tables)],
        dtype=np.float64,
    )
    flat = planes.reshape(n_tables * n_planes, dim)
    pow2 = 1 << np.arange(n_planes)

    @pandas_udf("array<string>")
    def bucket_keys(batch: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in batch])
        if len(V) == 0:
            return pd.Series([], dtype=object)
        bits = (V @ flat.T) > 0  # (n, T·B)
        vals = (bits.reshape(len(V), n_tables, n_planes) * pow2).sum(-1)
        return pd.Series(
            [[f"t{t}:{int(v)}" for t, v in enumerate(row)] for row in vals]
        )

    tagged = base.withColumn("tb", F.explode(bucket_keys(F.col("vec"))))
    q = tagged.where(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"), "tb"
    )
    c = tagged.select(F.col("vec_id").alias("neighbor_id"), "tb")
    # candidate ids only — the OR-amplification dedup shuffles (qid, nid)
    # pairs, never 64-dim vectors; vectors re-attach after, with the small
    # pair set broadcast so the corpus re-rank join is map-side
    pairs = (
        F.broadcast(q).join(c, "tb")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = base.where(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec")
    )
    pairs = (
        F.broadcast(pairs)
        .join(
            base.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("c_vec")),
            "neighbor_id",
        )
        .join(F.broadcast(q_vecs), "query_id")
    )
    cos = cosine_similarity(F.col("q_vec"), F.col("c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _r(F.col("cos_raw"), 6).alias("cosine"))
    )


def mllib_brp_knn(emb: DataFrame, query_ids_below: int = 10, k: int = 5,
                  bucket_length: float = 2.0, num_hash_tables: int = 3) -> DataFrame:
    """MLlib-native ANN variant: BucketedRandomProjectionLSH (Euclidean)
    approxSimilarityJoin + per-query top-k by distance. Engine-internal
    random projections (seeded) → rows-only; recall vs brute force is
    asserted in tests."""
    from .relational import spread_small

    emb = spread_small(emb)  # no-op unless the scan is under-parallel
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    base = emb.select(
        "vec_id", array_to_vector(to_double(F.col("embedding"))).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(base)
    q = base.where(F.col("vec_id") < query_ids_below)
    joined = model.approxSimilarityJoin(q, base, float("inf"), distCol="dist")
    pairs = joined.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        _r(F.col("dist"), 6).alias("euclidean_dist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("euclidean_dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "euclidean_dist")
    )


def _sample_matrix(df: DataFrame, col: str, limit: int,
                   order_col: str = "vec_id") -> "np.ndarray":
    """Bounded deterministic training sample: top-``limit`` rows by
    ``order_col`` (TakeOrdered — no full sort), collected as a matrix.
    O(limit) driver memory regardless of corpus size."""
    rows = df.orderBy(order_col).limit(limit).select(col).collect()
    return np.array([r[0] for r in rows], dtype=np.float64)


def _lloyd(X: "np.ndarray", k: int, seed: int, iters: int = 20) -> "np.ndarray":
    """Lloyd's k-means on an in-memory sample (NumPy, ‖x‖²−2x·c+‖c‖²
    distances so no (n,k,d) temporary). Centroid training on a bounded
    sample is the standard IVF/PQ practice — FAISS trains on ~100k sampled
    vectors regardless of corpus size — so this stays O(sample) at 100 TB."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), k, replace=False)].copy()
    x_sq = (X ** 2).sum(1)
    for _ in range(iters):
        d2 = x_sq[:, None] - 2.0 * (X @ C.T) + (C ** 2).sum(1)[None, :]
        assign = d2.argmin(1)
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                C[c] = pts.mean(0)
    return C


# float64 elements in one GEMM output buffer: ~32 MB
_GEMM_ELEMS = 4 << 20


def _argmin_blas(x: "np.ndarray", mat: "np.ndarray", c2: "np.ndarray") -> "np.ndarray":
    """Row-wise nearest centroid index in the BLAS form ``‖c‖² − 2·x·cᵀ``
    (``‖x‖²`` is constant per row, so the argmin drops it): one GEMM per
    row chunk, the chunk sized so the (chunk × k) output stays ~32 MB of
    float64 whatever k is. ``np.argmin`` keeps the first minimum, so
    ties go to the lower index."""
    out = np.empty(len(x), dtype=np.int64)
    chunk = max(1, _GEMM_ELEMS // max(1, len(mat)))
    for s in range(0, len(x), chunk):
        d = x[s : s + chunk] @ mat.T  # (chunk, k) GEMM — the whole point
        d *= -2.0
        d += c2[None, :]
        out[s : s + chunk] = np.argmin(d, axis=1)
    return out


def _top_k(qid: "np.ndarray", nid: "np.ndarray", score: "np.ndarray", k: int):
    """The first ``k`` (qid, nid, score) triples of each qid by (score
    desc, nid asc) — the same order as the final ranking window, so a
    partial top-k never drops a row the window would keep."""
    order = np.lexsort((nid, -score, qid))
    qid, nid, score = qid[order], nid[order], score[order]
    starts = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]])
    rank = np.arange(len(qid)) - np.repeat(starts, np.diff(np.r_[starts, len(qid)]))
    keep = rank < k
    return qid[keep], nid[keep], score[keep]


def knn_ivf(emb: DataFrame, query_ids_below: int = 10, k: int = 5,
            n_clusters: int = 16, n_probe: int = 4, seed: int = 42,
            train_sample: int = 20000) -> DataFrame:
    """IVF-style ANN: k-means-partition the corpus (the inverted file), then
    search only the ``n_probe`` nearest cells per query, exact cosine
    re-rank inside.

    The clustering-based alternative to hash-based LSH: cells adapt to the
    data distribution, and probe count trades recall for compute. Scale
    shape:

    - centroids train on a BOUNDED driver-side sample (FAISS practice,
      O(sample) whatever the corpus size);
    - the query block (``vec_id < query_ids_below``) is collected once;
      each query's ``n_probe`` nearest cells (squared L2 folded over
      dimensions in order, ties to the lower cell id) are found in NumPy
      on the driver, and queries, probe lists and centroids ship to the
      executors in one ``SparkContext.broadcast``;
    - ONE ``mapInPandas`` scan over the corpus assigns each vector its
      cell (BLAS argmin), and for each cell present in the batch scores
      the batch's vectors in that cell against only the queries probing
      it — one GEMM per (cell, query chunk), every buffer ~32 MB at most
      — then keeps a per-batch top-k per query;
    - a ``row_number`` window over those few rows gives the final top-k.

    No candidate join and no per-pair interpreted fold: the corpus is read
    once and each vector meets only its cell's probers. Candidates are the
    vectors in the query's probed cells, the query itself excluded; ranking
    is (cosine desc, neighbor_id asc), a zero norm scores 0. Cosines come
    from a GEMM, so they can differ from the sequential fold of
    :func:`knn_brute_force` in the last ulp. Rows-only (k-means internals
    are engine-specific); recall vs brute force asserted in tests.
    """
    from pyspark.sql import Window

    from .relational import spread_small

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    C = _lloyd(_sample_matrix(base, "vec", train_sample), n_clusters, seed)
    c_sq = (C ** 2).sum(1)

    q_rows = base.where(F.col("vec_id") < query_ids_below).collect()  # query block
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64).reshape(len(q_rows), C.shape[1])
    q_norm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    d2 = np.zeros((len(Q), len(C)))
    for j in range(C.shape[1]):  # dims IN ORDER, like the aggregate fold
        d2 += (Q[:, j, None] - C[None, :, j]) ** 2
    probe = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]  # ties: lower cell
    # cell -> the queries probing it, as CSR over the flattened probe lists
    by_cell = np.argsort(probe.ravel(), kind="stable")
    cell_start = np.searchsorted(probe.ravel()[by_cell], np.arange(len(C) + 1))
    probers = by_cell // max(1, probe.shape[1])
    bc = emb.sparkSession.sparkContext.broadcast(
        (qids, Q, q_norm, probers, cell_start, C, c_sq)
    )
    elems = _GEMM_ELEMS  # the closure ships this value to the workers

    def scan(batches):
        b_qids, b_Q, b_qn, b_probers, b_start, b_C, b_c2 = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            V = np.stack(pdf["vec"].to_numpy())
            v_norm = np.sqrt(np.einsum("ij,ij->i", V, V))
            cell = _argmin_blas(V, b_C, b_c2)
            by = np.argsort(cell, kind="stable")
            cells, at = np.unique(cell[by], return_index=True)
            parts = []
            for c, lo, hi in zip(cells, at, np.r_[at[1:], len(by)]):
                qi = b_probers[b_start[c] : b_start[c + 1]]
                if not len(qi):
                    continue
                rows = by[lo:hi]
                Vc, idc, vnc = V[rows], ids[rows], v_norm[rows]
                step = max(1, elems // len(rows))  # (step × rows) buffers
                for s in range(0, len(qi), step):
                    qs = qi[s : s + step]
                    cos = b_Q[qs] @ Vc.T
                    denom = np.multiply.outer(b_qn[qs], vnc)
                    np.divide(cos, denom, out=cos, where=denom != 0.0)
                    cos[denom == 0.0] = 0.0
                    cos[b_qids[qs][:, None] == idc[None, :]] = -np.inf  # self
                    # prune to each query's k-th best here, ties kept
                    kth = min(k, cos.shape[1]) - 1
                    floor = -np.partition(-cos, kth, axis=1)[:, kth]
                    r, col = np.nonzero((cos >= floor[:, None]) & (cos > -np.inf))
                    parts.append(_top_k(b_qids[qs][r], idc[col], cos[r, col], k))
            if parts:
                qid, nid, score = _top_k(*(np.concatenate(p) for p in zip(*parts)), k)
                yield pd.DataFrame({"query_id": qid, "neighbor_id": nid, "cos_raw": score})

    id_type = base.schema["vec_id"].dataType.simpleString()
    # spread only the scan: the two bounded collects above read the source as is
    scored = spread_small(base).mapInPandas(
        scan, f"query_id {id_type}, neighbor_id {id_type}, cos_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _r(F.col("cos_raw"), 6).alias("cosine"))
    )


def embedding_norm_stats(emb: DataFrame) -> DataFrame:
    """Per-label count / mean L2 norm / min / max — array math smoke stats."""
    vec = to_double(F.col("embedding"))
    norms = emb.select("label", l2_norm(vec).alias("norm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _r(F.avg("norm"), 6).alias("avg_norm"),
        _r(F.min("norm"), 6).alias("min_norm"),
        _r(F.max("norm"), 6).alias("max_norm"),
    )


def knn_pq(emb: DataFrame, query_ids_below: int = 10, k: int = 5,
           m: int = 16, n_codes: int = 32, refine: int = 20,
           seed: int = 42, train_sample: int = 20000) -> DataFrame:
    """Product-quantization ANN (ADC scan + exact re-rank) — the
    memory-compression path for billion-vector search:

    1. normalize vectors to unit L2 (so L2 order == cosine order);
    2. train per-subspace codebooks of ``n_codes`` centroids with Lloyd's
       algorithm on a BOUNDED driver-side sample (``train_sample`` rows) —
       the standard PQ practice (FAISS trains codebooks on ~100k sampled
       vectors regardless of corpus size), so training cost is O(sample),
       not O(corpus), and stays constant at 100 TB;
    3. encode the corpus as an ``array<int>`` of ``m`` codes via ONE
       Arrow-batched pandas UDF pass (vectorized ‖x‖²−2x·c argmin over
       all subspaces at once) — m bytes/vector instead of 4·dim (16×
       compression at m=16, dim=64, float32): the ADC scan touches ONLY
       codes, never raw vectors;
    4. per query, precompute the asymmetric-distance lookup table
       (m × n_codes squared distances, driver-side NumPy — queries are
       few and broadcast); the ADC distance of a candidate is then a pure
       JVM-side ``zip_with(codes, lut, (c, t) -> t[c]) |> sum`` — no
       Python, no CASE chains, O(m) element_at per candidate;
    5. take the top ``k·refine`` by ADC per query, then join back to raw
       vectors for the exact cosine re-rank of that small set.

    Scale shape: codebooks + query LUTs broadcast; the corpus scan is a
    single map over codes (no shuffle); only k·refine candidates per
    query pay vector I/O + exact math. The two driver collects are both
    bounded (sample cap, query-set size) by construction. Rows-only
    (codebook internals are engine-specific); recall vs brute force
    asserted in tests.
    """
    from .relational import spread_small

    emb = spread_small(emb)  # no-op unless the scan is under-parallel
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    dim = len(emb.select("embedding").first()[0])
    assert dim % m == 0
    d_sub = dim // m

    raw = emb.select("vec_id", to_double(F.col("embedding")).alias("rv"))

    def _unit_rows(M: "np.ndarray") -> "np.ndarray":
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        return M / nrm

    # --- codebook training on a bounded, deterministic sample ---
    # normalisation happens in NumPy (here and inside encode): a JVM-side
    # transform(x -> x / l2_norm(vec)) re-evaluates the O(dim) norm fold
    # per ELEMENT — O(dim²) per row, and it dominated this operator's cost
    X = _unit_rows(_sample_matrix(raw, "rv", train_sample))
    assert len(X) >= n_codes, "corpus smaller than the codebook"
    cb = np.empty((m, n_codes, d_sub))
    for s in range(m):
        cb[s] = _lloyd(X[:, s * d_sub:(s + 1) * d_sub], n_codes, seed + s)
    cb_sq = (cb ** 2).sum(-1)  # (m, n_codes) centroid norms for the dot trick

    @pandas_udf("array<int>")
    def encode(batch: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in batch])
        if len(V) == 0:
            return pd.Series([], dtype=object)
        Vs = _unit_rows(V).reshape(len(V), m, d_sub)
        # ‖x−c‖² argmin == (‖c‖² − 2x·c) argmin; (B, m, n_codes) via einsum
        dots = np.einsum("bmd,mcd->bmc", Vs, cb)
        codes = (cb_sq[None, :, :] - 2.0 * dots).argmin(-1).astype("int32")
        return pd.Series(list(codes))

    codes = raw.select(
        F.col("vec_id").alias("neighbor_id"), encode(F.col("rv")).alias("codes")
    )

    # --- per-query ADC lookup tables, driver-side (queries are few) ---
    q_rows = raw.where(F.col("vec_id") < query_ids_below).collect()
    spark = emb.sparkSession
    q_units = {r.vec_id: _unit_rows(np.asarray([r.rv], dtype=np.float64))[0] for r in q_rows}
    q_pd = pd.DataFrame(
        {
            "query_id": [r.vec_id for r in q_rows],
            # raw vector is fine for the exact re-rank: cosine is
            # scale-invariant, so unit-normalising the query changes nothing
            "q_vec": [list(r.rv) for r in q_rows],
            "lut": [
                [
                    [
                        float(((q_units[r.vec_id][s * d_sub:(s + 1) * d_sub] - cb[s][c]) ** 2).sum())
                        for c in range(n_codes)
                    ]
                    for s in range(m)
                ]
                for r in q_rows
            ],
        }
    )
    q = spark.createDataFrame(
        q_pd, "query_id bigint, q_vec array<double>, lut array<array<double>>"
    )

    # ADC distance: sum over subspaces of lut[s][code_s] — pure JVM lookup
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda cd, tbl: F.element_at(tbl, cd + 1)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    cand = (
        F.broadcast(q)
        .crossJoin(codes)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_vec", "neighbor_id", adc.alias("adc_dist"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    short = (
        cand.withColumn("arank", F.row_number().over(wa))
        .where(F.col("arank") <= k * refine)
        .select("query_id", "q_vec", "neighbor_id")
    )
    # exact re-rank: only the shortlist pays raw-vector I/O (raw, not unit:
    # cosine_similarity normalises internally, so unit vectors aren't needed)
    rerank = short.join(
        raw.select(F.col("vec_id").alias("neighbor_id"), F.col("rv").alias("c_vec")),
        "neighbor_id",
    )
    cos = cosine_similarity(F.col("q_vec"), F.col("c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        rerank.select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _r(F.col("cos_raw"), 6).alias("cosine"))
    )


def _nearest_literal(
    vec: Column, cents: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid cid with centroids unrolled as plan LITERALS: a
    ``when``-chain of sequential-fold squared-L2 distances (bit-identical
    to DuckDB ``list_reduce``), strict ``<`` so ties keep the smaller
    cid. Whole-stage-codegen'd and shuffle-free — but the chain nests
    the RUNNING BEST inside each step's ``when`` twice (once in the
    comparison, once in the otherwise), so the expression tree grows
    ~2^k: analysis OOMs around k≈13 (measured). This is the replay twin
    that pins the oracle at small k; :func:`_assign_vectorized` is the
    production path."""
    best_cid, best_d2 = F.lit(-1), F.lit(float("inf"))
    for cid, cvec in cents:
        c = F.array(*[F.lit(float(x)) for x in cvec])
        d2 = F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        hit = d2 < best_d2  # strict: ties keep the smaller cid
        best_cid = F.when(hit, F.lit(cid)).otherwise(best_cid)
        best_d2 = F.when(hit, d2).otherwise(best_d2)
    return best_cid


def _assign_vectorized(
    v: DataFrame, cents: list[tuple[int, list[float]]]
) -> tuple[DataFrame, "object"]:
    """Nearest-centroid assignment as an Arrow-batched ``pandas_udf``
    argmin against a ``SparkContext.broadcast`` NumPy (k×dim) centroid
    matrix — the k-scalable twin of :func:`_nearest_literal`: plan size
    is CONSTANT in k (one UDF node), memory is one shared k×dim float64
    matrix per executor, and cost grows linearly in k inside NumPy
    instead of in Catalyst expression nodes.

    Returns ``(df, broadcast)`` so the CALLER owns the broadcast's
    lifetime: at SemDeDup-scale k the (k×dim) matrix is tens of MB per
    executor, and Lloyd's loop creates one per iteration —
    :func:`kmeans_lloyd` unpersists each iteration's broadcast as soon
    as that iteration's means aggregation has materialised.
    ``Broadcast.unpersist()`` only drops executor copies (the driver
    re-ships on any later re-execution of the plan), so releasing is
    always safe — never ``destroy()``, which would break lazy reuse.

    Bit-identical to the literal path by construction, so the DuckDB
    oracle transfers unchanged:

    - distances accumulate over dimensions IN ORDER (``acc += (x_j -
      c_j)²`` per dim, vectorized over rows×centroids) — elementwise
      IEEE float64, the same op sequence per (row, centroid) as the
      sequential ``aggregate`` fold;
    - ``np.argmin`` returns the FIRST minimum — same tie rule as the
      fold's strict ``<`` keeping the earlier (smaller) cid.

    Row batches are sub-chunked so the (rows × k) distance buffer stays
    ~32 MB regardless of k — at k=10⁵ a full 10k-row Arrow batch would
    otherwise need an 8 GB buffer.

    Input contract (both paths): finite, fixed-dimension, non-null
    vectors — the engine's embedding columns by construction. The two
    paths are only defined to agree there: a NaN component makes the
    literal fold's strict ``<`` never fire (cid −1 sentinel) while
    ``np.argmin`` picks index 0, and a NULL/ragged vector raises here
    but sentinels there; callers with untrusted vectors filter first."""
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    mat = np.array([cv for _, cv in cents], dtype=np.float64)  # (k, dim)
    sc = v.sparkSession.sparkContext
    bc = sc.broadcast((cids, mat))

    @F.pandas_udf("int")
    def _argmin_cid(vecs: pd.Series) -> pd.Series:
        b_cids, b_mat = bc.value
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype="int32")
        x = np.stack(vecs.to_numpy())  # (n, dim) float64
        out = np.empty(n, dtype=np.int64)
        # bound the (chunk × k) distance buffer to ~32 MB of float64;
        # preallocate acc/diff once and reuse (the loop is memory-
        # bandwidth-bound — fresh temporaries per dim double the traffic)
        k_ = len(b_cids)
        chunk = max(1, (4 << 20) // max(1, k_))
        acc = np.empty((min(chunk, n), k_))
        d = np.empty_like(acc)
        for s in range(0, n, chunk):
            xs = x[s : s + chunk]
            a = acc[: xs.shape[0]]
            db = d[: xs.shape[0]]
            a[:] = 0.0
            for j in range(b_mat.shape[1]):  # dims IN ORDER: fold parity
                np.subtract(xs[:, j, None], b_mat[None, :, j], out=db)
                db *= db
                a += db
            out[s : s + chunk] = b_cids[np.argmin(a, axis=1)]
        return pd.Series(out, dtype="int64").astype("int32")

    return v.withColumn("cid", _argmin_cid(F.col("vec"))), bc


def _assign_blas(
    v: DataFrame, cents: list[tuple[int, list[float]]]
) -> tuple[DataFrame, "object"]:
    """Nearest-centroid assignment in the BLAS form ``‖x‖² − 2·x·Cᵀ +
    ‖c‖²`` — one GEMM per row chunk instead of a per-dimension loop,
    the next rung above :func:`_assign_vectorized` for SemDeDup-scale
    k (10⁴–10⁵ centroids, where the in-order fold's dim-at-a-time
    memory traffic is the bottleneck; the matmul is compute-bound and
    one to two orders faster at large k).

    NOT bit-identical to the fold paths: the expansion reassociates
    the per-dimension sum (and ``‖x‖²`` cancels out of the argmin, so
    it is dropped entirely), so distances differ in the last float64
    ulps. What IS preserved — and what the pytest gate checks — is the
    ASSIGNMENT: argmin over centroids with first-minimum ties. Exact
    distance TIES can therefore break differently than the fold's
    strict ``<`` in adversarial inputs (equidistant centroids within
    rounding drift); on real-valued embeddings ties have measure zero,
    which is why this mode is OPT-IN (``assign="blas"``) while the
    fold-parity path stays the oracle-pinned default. Same broadcast
    lifetime contract as :func:`_assign_vectorized`."""
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    mat = np.array([cv for _, cv in cents], dtype=np.float64)  # (k, dim)
    c2 = np.einsum("ij,ij->i", mat, mat)  # ‖c‖², (k,)
    sc = v.sparkSession.sparkContext
    bc = sc.broadcast((cids, mat, c2))

    @F.pandas_udf("int")
    def _argmin_cid(vecs: pd.Series) -> pd.Series:
        b_cids, b_mat, b_c2 = bc.value
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype="int32")
        x = np.stack(vecs.to_numpy())  # (n, dim) float64
        out = b_cids[_argmin_blas(x, b_mat, b_c2)]
        return pd.Series(out, dtype="int64").astype("int32")

    return v.withColumn("cid", _argmin_cid(F.col("vec"))), bc


def kmeans_lloyd(
    emb: DataFrame, k: int = 8, iters: int = 2, decimals: int = 6,
    assign: str = "vectorized",
    release: list | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic distributed Lloyd's k-means over the embedding
    column — the clustering stage of SemDeDup-style semantic dedup
    (cluster first, compare only within clusters) and the trainable twin
    of the sampled NumPy codebooks :func:`knn_ivf`/:func:`knn_pq` use.

    Fully replayable in the DuckDB oracle, so every choice is pinned:

    - init: the ``k`` vectors with the smallest ``vec_id`` (cid = rank);
    - assignment: squared-L2 accumulated over dimensions IN ORDER
      (bit-identical to ``list_reduce``'s sequential fold), ties broken
      by smallest cid. Two interchangeable physical forms —
      ``assign="vectorized"`` (default): Arrow-batched ``pandas_udf``
      argmin against a broadcast NumPy (k×dim) matrix, plan size
      constant in k (the 100 TB form: SemDeDup wants k in the 10⁴–10⁵
      range, ∝ corpus size); ``assign="literal"``: centroids unrolled
      as plan literals into a codegen'd ``when``-chain — zero Python,
      but its nested running-best doubles the expression tree per
      centroid (~2^k nodes; analysis OOMs at k≈13). Both produce
      identical assignments (pytest-gated), so the oracle pins BOTH.
      ``assign="blas"`` is the OPT-IN top rung for k in the 10⁴–10⁵
      range: one GEMM per row chunk (``‖x‖²−2x·c+‖c‖²``) — distances
      reassociate (not bit-identical to the fold), assignments gated
      equal on real-valued inputs (exact ties have measure zero);
    - update: per-(cid, dimension) mean via DECIMAL(18,9) accumulation
      (order-independent at any parallelism) rounded to ``decimals`` —
      rounding is part of the algorithm, so cross-engine float drift
      cannot compound across iterations.

    Scale shape: ``iters + 1`` passes over the projected corpus — the
    projection is persisted here so the source is scanned ONCE and each
    pass is a cached map + one partial-aggregated shuffle of
    k·dim·n_partitions rows for the update (callers that re-scan the
    returned assignment — a within-cluster pair join, a final agg —
    also hit the cache, not the source). Driver state is k·dim floats
    per round — scalar-bounded. ``k``/``iters`` are the knobs a 100 TB
    run raises (k ∝ corpus size keeps clusters bounded for the
    within-cluster pair stage downstream).

    Resource lifetime: each ITERATION's centroid broadcast is
    unpersisted here as soon as its means aggregation has materialised
    (so executors hold at most one k×dim matrix at a time, not
    ``iters + 1`` of them). Two resources must outlive the returned
    DataFrame — the persisted source projection and the FINAL
    assignment's broadcast; pass ``release=[]`` to receive them and
    call ``.unpersist()`` on each once the returned assignment is
    materialised (both are re-computed/re-shipped on later
    re-execution, so releasing never breaks correctness, only
    caching)."""
    if assign not in ("vectorized", "literal", "blas"):
        raise ValueError(
            f"kmeans_lloyd: assign must be 'vectorized', 'literal' or "
            f"'blas', got {assign!r}"
        )
    # NOT spread_small-wrapped (round 13): measured at the bench scale,
    # repartitioning the pinned projection REGRESSED the kmeans family
    # (normalized 15.5->19.7) — the per-iteration aggregations are
    # task-overhead-bound at small k·n, and at real scale the source
    # already carries many splits.
    v = emb.select(
        "vec_id", to_double(F.col("embedding")).alias("vec")
    ).persist()
    init = v.orderBy("vec_id").limit(k).collect()  # k rows — bounded
    centroids = [(i, list(r["vec"])) for i, r in enumerate(init)]

    def nearest(df: DataFrame, cents) -> tuple[DataFrame, object]:
        if assign == "literal":
            return (
                df.withColumn("cid", _nearest_literal(F.col("vec"), cents)),
                None,
            )
        if assign == "blas":
            return _assign_blas(df, cents)
        return _assign_vectorized(df, cents)

    for _ in range(iters):
        assigned, bc = nearest(v, centroids)
        means = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "mv"))
            .groupBy("cid", "pos")
            .agg(
                _r(
                    F.sum(F.col("mv").cast("decimal(18,9)")).cast("double")
                    / F.count(F.lit(1)),
                    decimals,
                ).alias("mv")
            )
            .collect()  # ≤ k·dim rows — bounded
        )
        if bc is not None:
            # this iteration's (k×dim) matrix is consumed: the means
            # collect above materialised every task that needed it
            bc.unpersist()
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["mv"]
        # an emptied cluster simply drops out (no members -> no mean)
        centroids = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    final, final_bc = nearest(v, centroids)
    if release is not None:
        release.append(v)
        if final_bc is not None:
            release.append(final_bc)
    return final, centroids
