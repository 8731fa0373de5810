"""Snapshot table as a Structured Streaming SINK through the official
Spark 4 Python ``DataSourceStreamArrowWriter`` extension point.

The table format already ingests streams via ``foreachBatch``
(:func:`~.snapshot_table.streaming_snapshot_sink`); this module provides
the same exactly-once commit through the ENGINE's sink protocol instead
of a user callback, so a pipeline writes::

    register_snapshot_sink(spark)
    (df.writeStream.format("snapshot_sink")
       .option("path", table).option("app_id", "job-7")
       .option("checkpointLocation", ckpt).start())

and the snapshot log is populated exactly as the batch writer populates
it — one atomic APPEND snapshot per micro-batch, batch-id-stamped for
replay idempotence, shard stats recorded for pruning. Paired with the
``snapshot_changes`` stream SOURCE (``snapshot_stream.py``) the table is
now a full streaming citizen in both directions through official APIs.

Protocol mapping (write/commit/abort -> the snapshot commit protocol of
``snapshot_table.py``):

- ``write`` (executors): each task streams its Arrow RecordBatches into
  private parquet shards under ``<table>/_tmp/stream/`` (zero-copy — no
  Row materialisation): one shard for an unpartitioned table, one PER
  PARTITION TUPLE the task's rows span for a partitioned one (the
  shared separator-proof group_by split, so streamed shards arrive
  stamped). The commit message carries the staged entries — name, row
  count, per-column min/max for the configured ``stats_cols``, and
  partition values — computed FROM THE ARROW BATCHES in passing, so the
  streamed path records pruning metadata without the batch writer's
  second scan. Empty tasks write nothing.
- ``commit`` (driver, once per successful micro-batch): enforce the
  table's CHECK constraints against the staged shards (reject BEFORE
  publishing — the query fails loudly, nothing becomes visible),
  publish the staged files into ``data/`` under fresh uuid names, and
  claim the next snapshot version with the standard rebase loop.
  Replayed batch ids (at-least-once restart) are detected in the
  snapshot history — same ``app_id``-namespaced idempotence key as
  ``streaming_snapshot_sink`` — and their staged files are discarded.
- ``abort`` (driver, any task failed): delete the staged files; the
  snapshot log is untouched, so a failed micro-batch is invisible (the
  same crash story as every other writer of the format).

Append output mode only: ``complete`` would need overwrite-per-batch
semantics (rejected loudly). Executors must share the table filesystem
with the driver — true in local mode and on any shared-store cluster,
the same assumption the rest of the format makes.
"""

from __future__ import annotations

import json
import os
import uuid

_STAGE_DIR = os.path.join("_tmp", "stream")


def _build():
    from dataclasses import dataclass, field

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _ShardStaged(WriterCommitMessage):
        # staged entries for one task, each
        # {name, n_rows, stats, bloom, partition?}; [] = empty task.
        # Multiple entries when the table is partitioned and the task's
        # rows span partition tuples (one staged file per tuple)
        files: list = field(default_factory=list)

    class SnapshotStreamWriter(DataSourceStreamArrowWriter):
        def __init__(self, options, schema):
            self.table = options.get("path")
            if not self.table:
                raise ValueError("snapshot_sink: option 'path' required")
            self.app_id = options.get("app_id")
            self.stats_cols = [
                c for c in (options.get("stats_cols") or "").split(",") if c
            ]
            self.bloom_cols = [
                c for c in (options.get("bloom_cols") or "").split(",") if c
            ]
            self.bloom_bits = int(options.get("bloom_bits", 2048))
            self.bloom_k = int(options.get("bloom_k", 3))
            # same type gates as write_snapshot, enforced before the
            # query starts (a float bloom would silently wrong-prune)
            for c in self.stats_cols:
                t = schema[c].dataType.simpleString()
                if t not in ("int", "bigint", "smallint", "tinyint",
                             "float", "double", "string"):
                    raise ValueError(
                        f"snapshot_sink: stats_cols supports numeric/"
                        f"string columns only; {c!r} is {t}"
                    )
            for c in self.bloom_cols:
                t = schema[c].dataType.simpleString()
                if t not in ("int", "bigint", "smallint", "tinyint",
                             "string"):
                    raise ValueError(
                        f"snapshot_sink: bloom_cols supports integral/"
                        f"string columns only; {c!r} is {t}"
                    )
            self.schema_json = schema.json()
            # a partitioned table's spec is INHERITED at query start:
            # micro-batches split on the IDENTITY fields so their shards
            # are stamped (pruning + drop_partition stay armed under
            # streaming ingest); transform fields are skipped — those
            # shards record only their identity values and stay
            # conservatively scanned for the transform tier until
            # compact_partitions re-stamps (transforms run JVM-side in
            # the foreachBatch path). commit() re-checks the spec every
            # batch and fails the query loudly if it changed mid-stream.
            from .snapshot_table import (
                _parse_partition_spec,
                table_partition_by,
            )

            self.partition_by = table_partition_by(self.table)
            self.split_fields = [
                f
                for f in (
                    _parse_partition_spec(s) for s in self.partition_by
                )
                if f["kind"] == "identity"
                and f["source"] in schema.fieldNames()
            ]

        # -- executor side ------------------------------------------------
        def write(self, iterator):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            batches = list(iterator)
            n = sum(len(b) for b in batches)
            if n == 0:
                return _ShardStaged(files=[])
            t = pa.Table.from_batches(batches)
            stage = os.path.join(self.table, _STAGE_DIR)
            os.makedirs(stage, exist_ok=True)

            def _stage_one(sub, partition):
                stats = {}
                for c in self.stats_cols:
                    if c in sub.schema.names:
                        mm = pc.min_max(sub[c])
                        stats[c] = [mm["min"].as_py(), mm["max"].as_py()]
                bloom = {}
                if self.bloom_cols:
                    from .snapshot_table import _bloom_bits_for

                    for c in self.bloom_cols:
                        if c in sub.schema.names:
                            bits: set = set()
                            for v in pc.unique(sub[c]).to_pylist():
                                if v is not None:
                                    bits.update(
                                        _bloom_bits_for(
                                            v, self.bloom_bits,
                                            self.bloom_k,
                                        )
                                    )
                            bloom[c] = {
                                "m": self.bloom_bits,
                                "k": self.bloom_k,
                                "bits": sorted(bits),
                            }
                name = f"stream-{uuid.uuid4().hex}.parquet"
                pq.write_table(sub, os.path.join(stage, name))
                entry = {
                    "name": name, "n_rows": sub.num_rows,
                    "stats": stats, "bloom": bloom,
                }
                if partition:
                    entry["partition"] = partition
                return entry

            from .snapshot_table import _arrow_partition_split

            return _ShardStaged(
                files=[
                    _stage_one(sub, vals)
                    for sub, vals in _arrow_partition_split(
                        t, self.split_fields
                    )
                ]
            )

        # -- driver side --------------------------------------------------
        def _staged(self, messages):
            return [
                e
                for m in messages
                if m is not None and m.files
                for e in m.files
            ]

        def _discard(self, messages):
            for e in self._staged(messages):
                try:
                    os.remove(
                        os.path.join(self.table, _STAGE_DIR, e["name"])
                    )
                except FileNotFoundError:
                    pass

        def commit(self, messages, batchId):
            from pyspark.sql.types import StructType

            from .snapshot_table import (
                _DATA_DIR,
                _SNAP_DIR,
                _base_constraints,
                _commit,
                _enforce_constraints,
                _merge_schema,
                snapshot_history,
            )

            # at-least-once replay of an already-committed micro-batch:
            # drop the freshly staged duplicates and keep the log as-is
            for snap in reversed(snapshot_history(self.table)):
                props = snap.get("properties", {})
                done = props.get("streaming_batch_id")
                if done is None or props.get("streaming_app_id") != self.app_id:
                    continue
                if done == batchId:
                    self._discard(messages)
                    return
                if done < batchId:
                    break
            staged = self._staged(messages)
            schema = StructType.fromJson(json.loads(self.schema_json))
            constraints = _base_constraints(self.table)
            if constraints and staged:
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
                df = spark.read.schema(schema).parquet(
                    *[
                        os.path.join(self.table, _STAGE_DIR, e["name"])
                        for e in staged
                    ]
                )
                try:
                    _enforce_constraints(df, constraints)
                except ValueError:
                    self._discard(messages)  # nothing becomes visible
                    raise
            os.makedirs(os.path.join(self.table, _SNAP_DIR), exist_ok=True)
            os.makedirs(os.path.join(self.table, _DATA_DIR), exist_ok=True)
            mine = []
            for e in staged:
                name = f"part-{uuid.uuid4().hex}.parquet"
                os.replace(
                    os.path.join(self.table, _STAGE_DIR, e["name"]),
                    os.path.join(self.table, _DATA_DIR, name),
                )
                shard = {"file": name, "n_rows": e["n_rows"]}
                if e.get("stats"):
                    shard["stats"] = e["stats"]
                if e.get("bloom"):
                    shard["bloom"] = e["bloom"]
                if e.get("partition"):
                    shard["partition"] = e["partition"]
                mine.append(shard)
            props = {"streaming_batch_id": batchId, "sink": "snapshot_sink"}
            if self.app_id is not None:
                props["streaming_app_id"] = self.app_id
            shape = {
                "operation": "append",
                "properties": props,
                "schema": schema.jsonValue(),
                "shards": mine,
            }

            def apply(base):
                if base is None:
                    return dict(shape)  # first commit creates the table
                # a partitioned table keeps its spec through stream
                # appends; identity fields were split and stamped at
                # write time against the spec READ AT QUERY START — a
                # mid-stream re-partition would make those stamps
                # wrong, so it fails the query loudly (restart
                # re-inherits)
                if base.get("partition_by", []) != list(self.partition_by):
                    raise ValueError(
                        f"snapshot_sink: table was re-partitioned to "
                        f"{base.get('partition_by', [])} while this "
                        f"query (spec {list(self.partition_by)}) was "
                        f"running; restart the stream"
                    )
                return {
                    **shape,
                    "schema": _merge_schema(
                        StructType.fromJson(base["schema"]), schema
                    ).jsonValue(),
                    "shards": base["shards"] + mine,
                }

            _commit(
                self.table, None, apply, [s["file"] for s in mine],
                create=True,
            )

        def abort(self, messages, batchId):
            self._discard(messages)

    class SnapshotSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "snapshot_sink"

        def streamWriter(self, schema, overwrite):
            if overwrite:
                raise ValueError(
                    "snapshot_sink: append output mode only (complete-mode "
                    "overwrite-per-batch is not a snapshot-log shape)"
                )
            return SnapshotStreamWriter(self.options, schema)

    return SnapshotSinkDataSource


def register_snapshot_sink(spark) -> None:
    """Idempotent registration of the ``snapshot_sink`` stream format."""
    spark.dataSource.register(_build())
