"""Metric names, units, directions and bounds, and the per-layer view of
a traced run.

``METRICS`` holds the benchmark's named end-to-end metrics: those
every workload reports, then each workload's own. ``END_TO_END`` is the
subset every workload reports; it is what the last stdout line carries
with ``--trace 0`` and what ``BENCHMARK.json`` lists as ``end_to_end``
(a workload's own metrics would read 0 on the other two). ``PER_LAYER``
is what the line carries with ``--trace 1``. The smoke test keeps
``BENCHMARK.json`` in step with both. Every workload reports every
per-layer name: a layer a workload never calls reads 0.
"""

from __future__ import annotations

from .harness import median, quantile

# name -> (unit, better, bound). ``bound`` is the share of a reference
# median by which the metric may get worse; timings are medians over a
# run's rounds. The PER_SEED metrics are fixed by the seed, so they
# have no bound: a repeated run must give the same value.
METRICS = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "failed_ops_ratio": ("ratio", "lower", 0.0),  # always 0 in a correct run
    # als_train: load + keyed_stats + train / predict + fold + recommend
    "model_s": ("s", "lower", 0.25),
    "score_s": ("s", "lower", 0.25),
    "test_rmse": ("rmse", "lower", 0.0),
    # table_ingest: every commit (table, sink, view, compaction) / every read
    "commit_p50_ms": ("ms", "lower", 0.25),
    "commit_p90_ms": ("ms", "lower", 0.25),
    "read_p50_ms": ("ms", "lower", 0.25),
    "read_p90_ms": ("ms", "lower", 0.25),
    # dedup_search: minhash + clusters + prefix pairs / IVF kNN
    "dedup_s": ("s", "lower", 0.25),
    "search_s": ("s", "lower", 0.25),
    "ann_recall_at_10": ("ratio", "higher", 0.0),
}
PER_SEED = ("failed_ops_ratio", "test_rmse", "ann_recall_at_10")
END_TO_END = ("setup_s", "wall_s", "cpu_s", "ops_per_s", "peak_rss_mb")
COMMON = END_TO_END + ("failed_ops_ratio",)
OWN = {
    "als_train": ("model_s", "score_s", "test_rmse"),
    "table_ingest": ("commit_p50_ms", "commit_p90_ms", "read_p50_ms", "read_p90_ms"),
    "dedup_search": ("dedup_s", "search_s", "ann_recall_at_10"),
}

_SNAPSHOT_OPS = ("append", "merge", "merge_mor", "delete", "compact", "read_range", "read_point")

# name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "readers.load_s": "s",
    "stats.keyed_stats_s": "s",
    "recsys.train_s": "s",
    "recsys.train_jobs": "count",
    "recsys.train_shuffle_write_bytes": "B",
    "recsys.predict_s": "s",
    "recsys.fold_predict_s": "s",
    "recsys.recommend_s": "s",
    **{f"snapshot_table.{op}_{q}_ms": "ms" for op in _SNAPSHOT_OPS for q in ("p50", "p90")},
    "snapshot_table.jobs_per_commit": "count",
    "snapshot_table.log_versions": "count",
    "snapshot_table.live_files": "count",
    "snapshot_table.bytes_written_per_user_byte": "ratio",
    "snapshot_table.bytes_stored_per_live_byte": "ratio",
    "snapshot_sink.stream_append_p50_ms": "ms",
    "snapshot_sink.stream_append_p90_ms": "ms",
    "materialized_view.refresh_p50_ms": "ms",
    "materialized_view.refresh_p90_ms": "ms",
    "dedup.minhash_s": "s",
    "dedup.clusters_s": "s",
    "dedup.jaccard_prefix_s": "s",
    "dedup.pairs_out": "count",
    "dedup.shuffle_write_bytes": "B",
    "similarity.ivf_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.failed_tasks": "count",
    # self time summed over the measured window, per layer; bench is
    # the harness itself (input batches, shadow upkeep, checks)
    **{f"{layer}.self_s": "s" for layer in (
        "bench", "readers", "stats", "recsys", "snapshot_table", "snapshot_sink",
        "materialized_view", "dedup", "similarity",
    )},
    "bench.wall_s": "s",
    "bench.rounds": "count",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
}

# per-layer metrics for which a larger value is the better one
HIGHER_PER_LAYER = ("snapshot_table.log_versions", "dedup.pairs_out", "bench.rounds")


class LayerView:
    """Per-call figures of one measured window, for the workloads'
    ``layers`` methods."""

    def __init__(self, rec, ledger, t0: float, t1: float):
        self.rec, self.ledger, self.t0, self.t1 = rec, ledger, t0, t1

    def median_s(self, name: str) -> float:
        xs = self.rec.samples.get(name)
        return median(xs) if xs else 0.0

    def p50_p90_ms(self, name: str) -> dict[str, float]:
        xs = self.rec.samples.get(name) or [0.0]
        return {
            f"{name}_p50_ms": 1e3 * quantile(xs, 0.5),
            f"{name}_p90_ms": 1e3 * quantile(xs, 0.9),
        }

    def _jobs_and_shuffle(self, names) -> tuple[int, int]:
        tr = self.rec.tracer
        wins = [w for n in names for w in tr.windows(n, self.t0, self.t1)]
        jobs = self.ledger.jobs_in(wins)
        stages = self.ledger.stages_in(wins)
        return len(jobs), sum(s["shuffle_write"] for s in stages)

    def jobs_and_shuffle_per_call(self, *names) -> tuple[float, float]:
        calls = sum(len(self.rec.samples.get(n, ())) for n in names)
        jobs, shuffle = self._jobs_and_shuffle(names)
        return jobs / max(1, calls), shuffle / max(1, calls)

    def jobs_and_shuffle_per_round(self, *names) -> tuple[float, float]:
        rounds = max(1, len(self.rec.rounds))
        jobs, shuffle = self._jobs_and_shuffle(names)
        return jobs / rounds, shuffle / rounds
