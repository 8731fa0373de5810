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

The adapter hands each task's Arrow batches to the shared executor-side
stager and each micro-batch's commit to the shared driver-side commit
(``snapshot_table._stage_arrow`` / ``_commit_staged``: staging under
``<table>/_tmp/stream/``, CHECK constraints enforced before anything is
published, one atomic APPEND snapshot; an aborted micro-batch leaves the
log untouched). What it adds:

- the batch-id stamp: a replayed batch id (at-least-once restart) is
  found in the snapshot history — same ``app_id``-namespaced
  idempotence key as ``streaming_snapshot_sink`` — and its staged files
  are discarded;
- a partitioned table's IDENTITY fields, read at query start, split each
  task's rows so streamed shards arrive stamped; a mid-stream
  re-partition fails the query.

Append output mode only: ``complete`` would need overwrite-per-batch
semantics (rejected loudly). Executors must share the table filesystem
with the driver — true in local mode and on any shared-store cluster,
the same assumption the rest of the format makes.
"""

from __future__ import annotations

import os


def _build():
    from pyspark.sql.datasource import DataSource, DataSourceStreamArrowWriter

    from .snapshot_table import (
        _arrow_write_options,
        _commit_staged,
        _discard_staged,
        _parse_partition_spec,
        _stage_arrow,
        _StagedFiles,
        snapshot_history,
        table_partition_by,
    )

    class SnapshotStreamWriter(DataSourceStreamArrowWriter):
        def __init__(self, options, schema):
            self.table = options.get("path")
            if not self.table:
                raise ValueError("snapshot_sink: option 'path' required")
            self.app_id = options.get("app_id")
            self.meta = _arrow_write_options(options, schema, "snapshot_sink")
            self.schema = schema
            self.stage = os.path.join(self.table, "_tmp", "stream")
            # a partitioned table's spec is INHERITED at query start:
            # micro-batches split on the IDENTITY fields so their shards
            # are stamped (pruning + drop_partition stay armed under
            # streaming ingest); transform fields are skipped — those
            # shards record only their identity values and stay
            # conservatively scanned for the transform tier until
            # compact_partitions re-stamps (transforms run JVM-side in
            # the foreachBatch path). commit() re-checks the spec every
            # batch and fails the query loudly if it changed mid-stream.
            self.partition_by = table_partition_by(self.table)
            self.split_fields = [
                f
                for f in (
                    _parse_partition_spec(s) for s in self.partition_by
                )
                if f["kind"] == "identity"
                and f["source"] in schema.fieldNames()
            ]

        def write(self, iterator):
            return _StagedFiles(
                files=_stage_arrow(
                    iterator, self.stage, "stream", self.split_fields,
                    self.meta,
                )
            )

        def commit(self, messages, batchId):
            # at-least-once replay of an already-committed micro-batch:
            # drop the freshly staged duplicates and keep the log as-is
            for snap in reversed(snapshot_history(self.table)):
                props = snap.get("properties", {})
                done = props.get("streaming_batch_id")
                if done is None or props.get("streaming_app_id") != self.app_id:
                    continue
                if done == batchId:
                    _discard_staged(self.stage, messages)
                    return
                if done < batchId:
                    break
            props = {"streaming_batch_id": batchId, "sink": "snapshot_sink"}
            if self.app_id is not None:
                props["streaming_app_id"] = self.app_id

            def guard(base):
                # identity fields were split and stamped at write time
                # against the spec READ AT QUERY START — a mid-stream
                # re-partition would make those stamps wrong, so it
                # fails the query loudly (restart re-inherits)
                if base.get("partition_by", []) != list(self.partition_by):
                    raise ValueError(
                        f"snapshot_sink: table was re-partitioned to "
                        f"{base.get('partition_by', [])} while this "
                        f"query (spec {list(self.partition_by)}) was "
                        f"running; restart the stream"
                    )

            _commit_staged(
                self.table, self.stage, messages, self.schema,
                {"operation": "append", "properties": props}, guard,
                "snapshot_sink",
            )

        def abort(self, messages, batchId):
            _discard_staged(self.stage, messages)

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
