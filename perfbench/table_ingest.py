"""Workload ``table_ingest``: writes beside reads on one snapshot table.

Set-up builds a base table from a generated ``events`` frame (8
range-clustered shards with ``event_id`` stats and blooms). The
measured window starts from a fresh copy of it and applies a seeded sequence of
operations: the seed draws every batch and key range, and one round
is ``DECK`` in a fixed order, then a compaction:

- ``append``: ``write_snapshot`` with ``stats_cols``/``bloom_cols``;
- ``merge`` / ``merge_mor``: ``merge_upsert`` copy-on-write / with
  deletion vectors, over a seeded key range plus a few new keys;
- ``delete``: ``delete_where`` over a key range with ``prune``;
- ``stream_append``: one availableNow micro-batch through
  ``streaming_snapshot_sink``;
- ``mv_refresh``: ``refresh_aggregate_view`` of a per-event-type view;
- ``read_range``: ``read_snapshot(prune=...)`` + filter + count;
- ``read_point``: ``read_snapshot(bloom_point=...)`` + filter + count;
- ``compact``: ``compact_table`` clustered on ``event_id``, which also
  clears the round's deletion vectors.

Every round has the same operations, so round times compare across
seeds. The log grows all run long, so costs that grow with log length
show. A pandas shadow of the table checks every read's count, every
view refresh, and the final table contents.
"""

from __future__ import annotations

import io
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import data
from .harness import dir_bytes, quantile

# one round, in order: reads land after appends, after copy-on-write
# DML, and over pending deletion vectors (the engine refuses
# copy-on-write DML while those are pending, so merge_mor comes last)
DECK = (
    "append", "read_point", "merge", "read_range", "delete", "read_point",
    "stream_append", "mv_refresh", "read_range", "merge_mor", "read_point", "read_range",
)
SHARDS = 8
KEY = "event_id"
VIEW_SPEC = dict(group_by=["event_type"], sums={"total_value": "value"})


class TableIngest:
    name = "table_ingest"

    def __init__(self, spark, rec, box, seed: int, sizes: data.Sizes, expected: dict):
        self.spark, self.rec, self.box = spark, rec, box
        self.seed, self.sizes = seed, sizes
        n = sizes.table_rows
        self.batch = max(20, min(400, n // 100))  # rows per append / stream batch
        self.span = max(20, min(300, n // 130))  # keys per merge / delete range
        self.read_span = max(50, min(2_000, n // 20))
        self.user_bytes = 0
        self.bytes_at_start = 0

    # -- set-up ---------------------------------------------------------

    def prepare(self, tag: str) -> None:
        d = self.box.path(self.name, tag)
        os.makedirs(d)
        self.base_pdf = data.events_frame(
            data.rng_for(self.seed, "events"), self.sizes.table_rows, self.sizes.users
        )
        self.src = os.path.join(d, "events.parquet")
        data.write_parquet(self.base_pdf, self.src)
        self.base = os.path.join(d, "base")

    def start(self) -> None:
        """Build the base table and copy it for the run."""
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        df = self.spark.read.parquet(self.src)
        self.schema = df.schema
        self.rec.call(
            "snapshot_table.create",
            st.write_snapshot,
            df.repartitionByRange(SHARDS, KEY).sortWithinPartitions(KEY),
            self.base, stats_cols=[KEY], bloom_cols=[KEY],
        )
        self._fresh()

    def _fresh(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import materialized_view as mv

        d = os.path.join(os.path.dirname(self.base), "run")
        self.table = os.path.join(d, "table")
        shutil.copytree(self.base, self.table)
        self.view = os.path.join(d, "view")
        self.stream_src = os.path.join(d, "stream_src")
        self.stream_ckpt = os.path.join(d, "stream_ckpt")
        os.makedirs(self.stream_src)
        self.rng = data.rng_for(self.seed, "ops")
        self.shadow = self.base_pdf.set_index(KEY, drop=False)
        self.next_id = self.sizes.table_rows
        self.n_stream = 0
        self.rec.call("materialized_view.create", mv.refresh_aggregate_view,
                      self.spark, self.table, self.view, **VIEW_SPEC)
        self.bytes_at_start = dir_bytes(self.table)
        self.user_bytes = 0

    # -- measured -------------------------------------------------------

    def round(self) -> None:
        for op in DECK:
            getattr(self, f"_{op}")()
        self._compact()

    def _df(self, pdf: pd.DataFrame):
        if self.rec.tracer.enabled:
            buf = io.BytesIO()
            pdf.to_parquet(buf, index=False)
            self.user_bytes += buf.tell()
        return self.spark.createDataFrame(pdf, self.schema)

    def _new_rows(self, n: int) -> pd.DataFrame:
        pdf = data.events_frame(self.rng, n, self.sizes.users, first_id=self.next_id)
        self.next_id += n
        return pdf

    def _updates(self) -> pd.DataFrame:
        lo = int(self.rng.integers(0, self.next_id - self.span))
        idx = self.shadow.index
        keys = idx[(idx >= lo) & (idx < lo + self.span)].to_numpy()
        keys = self.rng.choice(keys, min(len(keys), self.span // 2), replace=False)
        upd = data.events_frame(self.rng, len(keys), self.sizes.users)
        upd[KEY] = np.sort(keys)
        return pd.concat([upd, self._new_rows(max(1, self.batch // 10))], ignore_index=True)

    def _upsert_shadow(self, pdf: pd.DataFrame) -> None:
        keep = self.shadow[~self.shadow.index.isin(pdf[KEY])]
        self.shadow = pd.concat([keep, pdf.set_index(KEY, drop=False)])

    def _append(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        pdf = self._new_rows(self.batch)
        self.rec.call("snapshot_table.append", st.write_snapshot, self._df(pdf),
                    self.table, stats_cols=[KEY], bloom_cols=[KEY])
        self._upsert_shadow(pdf)

    def _merge(self, mor: bool = False) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        pdf = self._updates()
        self.rec.call("snapshot_table.merge_mor" if mor else "snapshot_table.merge",
                    st.merge_upsert, self._df(pdf), self.table, [KEY],
                    prune_col=KEY, mor=mor)
        self._upsert_shadow(pdf)

    def _merge_mor(self) -> None:
        self._merge(mor=True)

    def _delete(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        lo = int(self.rng.integers(0, self.next_id - self.span))
        hi = lo + self.span - 1
        self.rec.call("snapshot_table.delete", st.delete_where, self.spark, self.table,
                    f"{KEY} BETWEEN {lo} AND {hi}", prune=(KEY, lo, hi))
        idx = self.shadow.index
        self.shadow = self.shadow[(idx < lo) | (idx > hi)]

    def _compact(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        self.rec.call("snapshot_table.compact", st.compact_table, self.spark, self.table,
                    target_shards=SHARDS, stats_cols=[KEY], bloom_cols=[KEY],
                    cluster_by=[KEY])

    def _stream_append(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        pdf = self._new_rows(self.batch)
        if self.rec.tracer.enabled:
            self._df(pdf)  # count its bytes
        tmp = os.path.join(self.box.tmp, f"batch-{self.n_stream}.parquet")
        data.write_parquet(pdf, tmp)
        os.replace(tmp, os.path.join(self.stream_src, f"batch-{self.n_stream:05d}.parquet"))
        self.n_stream += 1

        def one_batch():
            q = (
                self.spark.readStream.schema(self.schema).parquet(self.stream_src)
                .writeStream.foreachBatch(st.streaming_snapshot_sink(self.table))
                .option("checkpointLocation", self.stream_ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("availableNow micro-batch still running after 120 s")

        self.rec.call("snapshot_sink.stream_append", one_batch)
        self._upsert_shadow(pdf)

    def _mv_refresh(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import materialized_view as mv
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        self.rec.call("materialized_view.refresh", mv.refresh_aggregate_view,
                    self.spark, self.table, self.view, **VIEW_SPEC)
        got = st.read_snapshot(self.spark, self.view).toPandas().set_index("event_type")
        want = self.shadow.groupby("event_type")["value"].agg(["size", "sum"])
        ok = (
            sorted(got.index) == sorted(want.index)
            and all(int(got.at[k, "n_rows"]) == int(want.at[k, "size"]) for k in want.index)
            and np.allclose(
                [got.at[k, "total_value"] for k in want.index], want["sum"].to_numpy(),
                rtol=1e-9, atol=1e-6,
            )
        )
        self.rec.check(ok, f"view after refresh:\n{got}\nshadow:\n{want}")

    def _read_range(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        lo = int(self.rng.integers(0, self.next_id))
        hi = lo + self.read_span - 1
        n = self.rec.call(
            "snapshot_table.read_range",
            lambda: st.read_snapshot(self.spark, self.table, prune=(KEY, lo, hi))
            .where(F.col(KEY).between(lo, hi)).count(),
        )
        idx = self.shadow.index
        want = int(((idx >= lo) & (idx <= hi)).sum())
        self.rec.check(n == want, f"read_range [{lo}, {hi}]: {n} rows, shadow has {want}")

    def _read_point(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        k = int(self.rng.integers(0, self.next_id))
        n = self.rec.call(
            "snapshot_table.read_point",
            lambda: st.read_snapshot(self.spark, self.table, bloom_point=(KEY, k))
            .where(F.col(KEY) == k).count(),
        )
        want = int(k in self.shadow.index)
        self.rec.check(n == want, f"read_point {k}: {n} rows, shadow has {want}")

    # -- end of run -----------------------------------------------------

    def finish(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

        got = self.rec.call(
            "check.final_table",
            lambda: st.read_snapshot(self.spark, self.table).toPandas(),
        )
        cols = list(self.base_pdf.columns)
        got = got[cols].sort_values(KEY).reset_index(drop=True)
        want = self.shadow[cols].reset_index(drop=True).sort_values(KEY).reset_index(drop=True)
        for frame in (got, want):
            frame["ts"] = _epoch_us(frame["ts"])
        same = len(got) == len(want) and got.equals(want)
        self.rec.check(same, f"final table: {len(got)} rows vs shadow {len(want)}; equal={same}")
        self.versions = st.latest_version(self.table)
        files = st.read_metadata_table(self.spark, self.table, "files").select("file").collect()
        self.live_files = len(files)
        self.live_bytes = sum(
            os.path.getsize(os.path.join(self.table, "data", r["file"])) for r in files
        )
        self.stored_bytes = dir_bytes(self.table)

    # -- metrics --------------------------------------------------------

    def report(self) -> dict:
        s = self.rec
        commits = [x for k, v in s.samples.items() if _is_commit(k) for x in v]
        reads = [x for k, v in s.samples.items() if k.startswith("snapshot_table.read_") for x in v]
        return {
            "commit_p50_ms": 1e3 * quantile(commits, 0.5),
            "commit_p90_ms": 1e3 * quantile(commits, 0.9),
            "read_p50_ms": 1e3 * quantile(reads, 0.5),
            "read_p90_ms": 1e3 * quantile(reads, 0.9),
        }

    def recorded(self) -> dict:
        """Nothing: every read is checked against the shadow instead."""
        return {}

    def layers(self, lc) -> dict:
        out = {}
        for op in ("append", "merge", "merge_mor", "delete", "compact", "read_range", "read_point"):
            out.update(lc.p50_p90_ms(f"snapshot_table.{op}"))
        out.update(lc.p50_p90_ms("snapshot_sink.stream_append"))
        out.update(lc.p50_p90_ms("materialized_view.refresh"))
        commit_names = [k for k in self.rec.samples if _is_commit(k)]
        jobs, _ = lc.jobs_and_shuffle_per_call(*commit_names)
        out["snapshot_table.jobs_per_commit"] = jobs
        out["snapshot_table.log_versions"] = self.versions
        out["snapshot_table.live_files"] = self.live_files
        written = self.stored_bytes - self.bytes_at_start
        out["snapshot_table.bytes_written_per_user_byte"] = written / max(1, self.user_bytes)
        out["snapshot_table.bytes_stored_per_live_byte"] = self.stored_bytes / max(1, self.live_bytes)
        return out


def _is_commit(name: str) -> bool:
    return name in (
        "snapshot_table.append", "snapshot_table.merge", "snapshot_table.merge_mor",
        "snapshot_table.delete", "snapshot_table.compact",
        "snapshot_sink.stream_append", "materialized_view.refresh",
    )


def _epoch_us(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s, utc=True)
    return s.dt.tz_localize(None).astype("datetime64[us]").astype("int64")
