"""Workload ``dedup_search``: the LLM-data operators over a generated
corpus with planted near-duplicate groups and a clustered embedding
set.

One round: ``dedup.minhash_dedup_pairs`` (materialised), then
``dedup.dedup_clusters`` over those pairs, then the exact
``dedup.jaccard_pairs_prefix`` (the "build" phase), then
``similarity.knn_ivf`` with k=10 for the queries ``vec_id <
queries`` (the "query" phase).

Checks: the prefix-filter pairs equal the exact pairs computed in
Python (inverted index over the same word 3-shingles); MinHash pairs
are a subset of them with high recall; the clusters equal a
union-find over the MinHash pairs; ANN recall@10 against exact cosine
kNN computed in NumPy stays above a floor.
"""

from __future__ import annotations

import os

import pandas as pd

from . import data
from .harness import median

K = 10
MINHASH_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.8


def _plus_one(x: pd.Series) -> pd.Series:
    return x + 1.0


class DedupSearch:
    name = "dedup_search"

    def __init__(self, spark, rec, box, seed: int, sizes: data.Sizes, expected: dict):
        self.spark, self.rec, self.box = spark, rec, box
        self.seed, self.sizes = seed, sizes
        self.expected = expected
        self.recall: list[float] = []
        self.pairs_out: list[int] = []
        self.clusters: list[int] = []

    # -- set-up ---------------------------------------------------------

    def prepare(self, tag: str) -> None:
        d = self.box.path(self.name, tag)
        os.makedirs(d)
        docs = data.documents_frame(data.rng_for(self.seed, "documents"), self.sizes.docs)
        self.docs_path = os.path.join(d, "documents.parquet")
        data.write_parquet(docs, self.docs_path)
        vec_id, x, label = data.embeddings(data.rng_for(self.seed, "embeddings"), self.sizes.vectors)
        self.emb_path = os.path.join(d, "embeddings.parquet")
        data.write_embeddings(vec_id, x, label, self.emb_path)
        self.exact_pairs = data.exact_jaccard_pairs(docs)
        self.exact_knn = data.exact_knn(vec_id, x, self.sizes.queries, K)

    def start(self) -> None:
        """Start the Python worker pool that ``knn_ivf``'s Arrow UDF runs
        in, one worker per task slot with pandas and Arrow loaded, as a
        long-running application has it. Spawning it inside the measured
        round made the round's time swing by a quarter between runs."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        slots = self.spark.sparkContext.defaultParallelism
        plus_one = pandas_udf(_plus_one, "double")
        self.spark.range(0, 1_000 * slots, numPartitions=slots).select(
            plus_one(F.col("id").cast("double"))
        ).collect()

    # -- measured -------------------------------------------------------

    def round(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.operators import dedup, similarity

        rec = self.rec
        docs = self.spark.read.parquet(self.docs_path)
        emb = self.spark.read.parquet(self.emb_path)
        with rec.phase("build"):
            mh = dedup.minhash_dedup_pairs(docs).persist()
            try:
                mh_rows = rec.call("dedup.minhash", mh.collect)
                mh_pairs = {(r["doc_a"], r["doc_b"]) for r in mh_rows}
                self._check_minhash(mh_pairs)
                clusters = rec.call("dedup.clusters", lambda: dedup.dedup_clusters(mh).collect())
                self._check_clusters(mh_pairs, clusters)
            finally:
                mh.unpersist()
            prefix = rec.call("dedup.jaccard_prefix", lambda: dedup.jaccard_pairs_prefix(docs).collect())
            self._check_prefix(prefix)
        with rec.phase("query"):
            ann = rec.call(
                "similarity.ivf",
                lambda: similarity.knn_ivf(emb, query_ids_below=self.sizes.queries, k=K).collect(),
            )
            self._check_ann(ann)

    # -- checks ---------------------------------------------------------

    def _check_minhash(self, pairs: set) -> None:
        exact = self.exact_pairs
        recall = len(pairs & exact) / max(1, len(exact))
        self.rec.check(
            pairs <= exact and recall >= MINHASH_RECALL_FLOOR,
            f"minhash pairs: {len(pairs - exact)} not near-duplicates, "
            f"recall {recall:.3f} (floor {MINHASH_RECALL_FLOOR})",
        )

    def _check_clusters(self, pairs: set, rows) -> None:
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        want = data.components(pairs)
        n = len(set(got.values()))
        self.clusters.append(n)
        self.rec.check(got == want, f"clusters: {n} vs union-find {len(set(want.values()))}")
        if "clusters" in self.expected:
            self.rec.check(n == self.expected["clusters"], f"clusters {n} != recorded {self.expected['clusters']}")

    def _check_prefix(self, rows) -> None:
        got = {(r["doc_a"], r["doc_b"]) for r in rows}
        self.pairs_out.append(len(got))
        self.rec.check(
            got == self.exact_pairs and len(rows) == len(got),
            f"prefix pairs: {len(got)} vs exact {len(self.exact_pairs)}",
        )
        if "pairs" in self.expected:
            self.rec.check(len(got) == self.expected["pairs"], f"pairs {len(got)} != recorded {self.expected['pairs']}")

    def _check_ann(self, rows) -> None:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact = self.exact_knn
        hits = sum(len(got.get(q, set()) & nn) for q, nn in exact.items())
        recall = hits / (K * len(exact))
        self.recall.append(recall)
        self.rec.check(
            len(rows) == K * len(exact) and recall >= ANN_RECALL_FLOOR,
            f"ivf: {len(rows)} rows for {len(exact)} queries, recall@{K} {recall:.3f}",
        )

    def finish(self) -> None:
        pass

    # -- metrics --------------------------------------------------------

    def report(self) -> dict:
        rec = self.rec
        return {
            "dedup_s": median(rec.phase_per_round("build")),
            "search_s": median(rec.phase_per_round("query")),
            "ann_recall_at_10": median(self.recall),
        }

    def recorded(self) -> dict:
        """The values ``expected.json`` pins for a seed."""
        return {"pairs": self.pairs_out[-1], "clusters": self.clusters[-1]} if self.clusters else {}

    def layers(self, lc) -> dict:
        _jobs, shuffle = lc.jobs_and_shuffle_per_round("dedup.minhash", "dedup.clusters", "dedup.jaccard_prefix")
        return {
            "dedup.minhash_s": lc.median_s("dedup.minhash"),
            "dedup.clusters_s": lc.median_s("dedup.clusters"),
            "dedup.jaccard_prefix_s": lc.median_s("dedup.jaccard_prefix"),
            "dedup.pairs_out": median(self.pairs_out),
            "dedup.shuffle_write_bytes": shuffle,
            "similarity.ivf_s": lc.median_s("similarity.ivf"),
        }
