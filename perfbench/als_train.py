"""Workload ``als_train``: the reference's pipeline at MovieLens-100K
scale.

One round: load low-rank ratings from the generated ``events`` table
and split them 80/20 by a seeded hash (``readers.load``), per-user and
per-item ``keyed_stats``, ``train_als`` with the reference
hyperparameters, ``predict`` + ``evaluate`` on the held-out pairs, the
reference's clamped-fold predictor over the model's factors, and top-k
recommendations for a seeded user subset. The phases are "build"
(load, stats, train) and "query" (the three scoring calls).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from . import data
from .harness import median

RANK, REG, MAX_ITER = 64, 0.015, 10  # SVDMovieLensSparkJava.java:38-44,122-128
N_ITEMS = 400
TOP_K = 10
REC_USERS = 50
SPOT_PAIRS = 20
# a constant-mean predictor scores ~0.85 on these ratings; with enough
# ratings per user a model that recovers the low-rank structure must do
# far better. Below that (the smoke test's scale) rank 64 overfits, and
# only the rating range bounds the error.
RMSE_CEILING = 0.6
RATINGS_PER_USER_FOR_CEILING = 50
RATING_RANGE = 4.0
RMSE_REL_TOL = 1e-9


class AlsTrain:
    name = "als_train"

    def __init__(self, spark, rec, box, seed: int, sizes: data.Sizes, expected: dict):
        self.spark, self.rec, self.box = spark, rec, box
        self.seed, self.sizes = seed, sizes
        self.expected_rmse = expected.get("test_rmse")
        self.rmse: list[float] = []
        self.model = None

    # -- set-up ---------------------------------------------------------

    def prepare(self, tag: str) -> None:
        self.data_dir = self.box.path(self.name, tag)
        os.makedirs(self.data_dir)
        ev = data.events_frame(
            data.rng_for(self.seed, "events"), self.sizes.events, self.sizes.users
        )
        data.write_parquet(ev, os.path.join(self.data_dir, "events.parquet"))
        rng = data.rng_for(self.seed, "rec_users")
        self.rec_users = sorted(
            int(u) for u in rng.choice(self.sizes.users, min(REC_USERS, self.sizes.users), replace=False)
        )

    def start(self) -> None:
        pass

    # -- measured -------------------------------------------------------

    def round(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark import recsys

        rec = self.rec
        with rec.phase("build"):
            train, test, n_train, n_test = rec.call("readers.load", self._load)
            try:
                stats = rec.call("stats.keyed_stats", self._stats, train)
                rec.check(
                    all(rows == n_train for _keys, rows in stats),
                    f"keyed_stats row totals {stats} != {n_train} training ratings",
                )
                cfg = recsys.ALSConfig(rank=RANK, reg=REG, max_iter=MAX_ITER, seed=self.seed)
                model = rec.call("recsys.train", recsys.train_als, train, cfg)
            finally:
                train.unpersist()
        try:
            with rec.phase("query"):
                m = rec.call(
                    "recsys.predict",
                    lambda: recsys.evaluate(recsys.predict(model, test)),
                )
                self._check_rmse(m, n_test)
                fold = rec.call("recsys.fold_predict", self._fold, model, test)
                rec.check(
                    fold["n"] == m["n"] and 1.0 <= fold["lo"] <= fold["hi"] <= 5.0,
                    f"clamped fold predictions {fold} vs {m['n']} predicted pairs",
                )
                recs = rec.call("recsys.recommend", self._recommend, model)
                self._check_recs(recs)
        finally:
            test.unpersist()
        self.model, self.test = model, test

    def _load(self):
        from svdmovie_lens_parallel_apache_spark_spark import recsys

        ratings = recsys.low_rank_ratings(
            self.spark, self.data_dir, n_items=N_ITEMS
        ).select(
            F.col("user_id").cast("int").alias("user_id"),
            F.col("item_id").cast("int").alias("item_id"),
            F.col("rating").cast("float").alias("rating"),
        )
        is_test = F.pmod(F.xxhash64("user_id", "item_id", F.lit(self.seed)), F.lit(10)) >= 8
        train = ratings.where(~is_test).persist()
        test = ratings.where(is_test).persist()
        return train, test, train.count(), test.count()

    def _stats(self, train):
        from svdmovie_lens_parallel_apache_spark_spark.operators.stats import keyed_stats

        out = []
        for key in ("user_id", "item_id"):
            row = keyed_stats(train, key, "rating").agg(
                F.count(F.lit(1)).alias("keys"), F.sum("rating_count").alias("rows")
            ).collect()[0]
            out.append((row["keys"], row["rows"]))
        return out

    @staticmethod
    def _factors(model):
        return (
            model.userFactors.select("id", F.col("features").cast("array<double>").alias("features")),
            model.itemFactors.select("id", F.col("features").cast("array<double>").alias("features")),
        )

    def _fold(self, model, test):
        from svdmovie_lens_parallel_apache_spark_spark.recsys import clamped_fold_predict

        uf, itf = self._factors(model)
        row = clamped_fold_predict(test.select("user_id", "item_id"), uf, itf).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("prediction").alias("lo"),
            F.max("prediction").alias("hi"),
        ).collect()[0]
        return row.asDict()

    def _recommend(self, model):
        users = self.spark.createDataFrame([(u,) for u in self.rec_users], "user_id int")
        return model.recommendForUserSubset(users, TOP_K).collect()

    # -- checks ---------------------------------------------------------

    def _check_rmse(self, m: dict, n_test: int) -> None:
        rec = self.rec
        rec.check(
            0.9 * n_test <= m["n"] <= n_test,
            f"predicted {m['n']} of {n_test} held-out pairs",
        )
        rmse = m["rmse"]
        dense = n_test * 4 >= RATINGS_PER_USER_FOR_CEILING * self.sizes.users
        ceiling = RMSE_CEILING if dense else RATING_RANGE
        rec.check(rmse < ceiling, f"test_rmse {rmse} >= {ceiling}")
        if self.rmse:
            rec.check(rmse == self.rmse[0], f"test_rmse {rmse} != first round's {self.rmse[0]}")
        if self.expected_rmse is not None:
            # exact on the same core count; summation order may differ on another
            rec.check(
                math.isclose(rmse, self.expected_rmse, rel_tol=RMSE_REL_TOL, abs_tol=0.0),
                f"test_rmse {rmse!r} != recorded {self.expected_rmse!r}",
            )
        self.rmse.append(rmse)

    def _check_recs(self, rows) -> None:
        ok = bool(rows) and all(
            len(r["recommendations"]) == TOP_K
            and all(
                a["rating"] >= b["rating"]
                for a, b in zip(r["recommendations"], r["recommendations"][1:])
            )
            for r in rows
        )
        self.rec.check(ok, f"recommendations: {len(rows)} users, not all with {TOP_K} ranked items")

    def finish(self) -> None:
        """The clamped fold recomputed in NumPy for a few held-out pairs
        must equal the engine's values exactly (the fold clamps inside
        the loop, so this pins feature order and arithmetic)."""
        from svdmovie_lens_parallel_apache_spark_spark.recsys import clamped_fold_predict

        pairs = self.spark.createDataFrame(self._spot_pairs(), "user_id int, item_id int")
        uf, itf = self._factors(self.model)
        got = self.rec.call(
            "check.fold_parity",
            lambda: clamped_fold_predict(pairs, uf, itf).collect(),
        )
        ids_u = [r["user_id"] for r in got]
        ids_i = [r["item_id"] for r in got]
        uvec = {r["id"]: r["features"] for r in uf.where(F.col("id").isin(ids_u)).collect()}
        ivec = {r["id"]: r["features"] for r in itf.where(F.col("id").isin(ids_i)).collect()}
        bad = []
        for r in got:
            acc = 1.0
            for x, y in zip(uvec[r["user_id"]], ivec[r["item_id"]]):
                acc = min(5.0, max(1.0, acc + x * y))
            if acc != r["prediction"]:
                bad.append((r["user_id"], r["item_id"], acc, r["prediction"]))
        self.rec.check(bool(got) and not bad, f"clamped fold parity: {len(got)} pairs, mismatches {bad[:3]}")

    def _spot_pairs(self):
        rows = self.test.select("user_id", "item_id").orderBy("user_id", "item_id").limit(SPOT_PAIRS)
        return [(r["user_id"], r["item_id"]) for r in rows.collect()]

    # -- metrics --------------------------------------------------------

    def report(self) -> dict:
        rec = self.rec
        return {
            "model_s": median(rec.phase_per_round("build")),
            "score_s": median(rec.phase_per_round("query")),
            "test_rmse": self.rmse[0] if self.rmse else float("nan"),
        }

    def recorded(self) -> dict:
        """The values ``expected.json`` pins for a seed."""
        return {"test_rmse": self.rmse[0]} if self.rmse else {}

    def layers(self, lc) -> dict:
        jobs, shuffle = lc.jobs_and_shuffle_per_call("recsys.train")
        return {
            "readers.load_s": lc.median_s("readers.load"),
            "stats.keyed_stats_s": lc.median_s("stats.keyed_stats"),
            "recsys.train_s": lc.median_s("recsys.train"),
            "recsys.train_jobs": jobs,
            "recsys.train_shuffle_write_bytes": shuffle,
            "recsys.predict_s": lc.median_s("recsys.predict"),
            "recsys.fold_predict_s": lc.median_s("recsys.fold_predict"),
            "recsys.recommend_s": lc.median_s("recsys.recommend"),
        }
