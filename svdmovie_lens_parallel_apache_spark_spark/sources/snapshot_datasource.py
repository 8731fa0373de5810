"""Snapshot table as an official Spark 4 Python DataSource (read +
batch write).

``spark.read.format("snapshot_table").option("path", t).load()`` gives
the snapshot-log table (``snapshot_table.py``) a STANDARD read surface
— and, more importantly, wires Catalyst's pushed filters into the
table's OWN metadata skipping: ``pushFilters`` receives the
planner-pushed predicates, narrows a per-column interval (plus bloom
point probes for equalities), and ``partitions()`` plans one input
partition per SURVIVING shard — stats-disjoint and bloom-excluded
shards never become tasks, never open a footer. That is the
Iceberg/Delta integration shape: the optimizer's predicates reach the
table format's file-skipping layer with no manual ``prune=`` argument.

Correctness never depends on the skipping: every filter is yielded
back to Spark as unhandled (skipping is a scan reducer; Spark still
applies the row filters), and a shard is only dropped when its
recorded stats/bloom PROVABLY exclude every matching row — the same
contract as ``read_snapshot(prune=...)``.

Executor-side reads go through pyarrow and are column-mapping aware
(``names`` stamped by rename/drop evolution): mapped shards read
their physical columns and alias back; logical columns a shard lacks
are NULL-filled — bit-identical semantics to ``_read_shards``. Each
partition yields Arrow record batches (the zero-copy path into
Spark's Python source exec).

Boundaries (loud, never silent): tables with pending lazy-delete
tombstones refuse (their SQL conditions cannot be evaluated inside an
Arrow reader — compact first); ``version`` / ``as_of`` options give
time travel; an empty table errors at ``schema()`` time.

The ``plan_log`` option (a file path) records ``{"planned": n,
"total": m}`` at planning time — the oracle gate's proof that pushdown
actually changed what was PLANNED, not just what was returned.

The WRITE half: ``df.write.format("snapshot_table").mode("append" |
"overwrite").save(t)`` is an adapter (``SnapshotTableBatchWriter``)
over the shared Arrow stager and commit of ``snapshot_table.py``
(``_stage_arrow`` / ``_commit_staged``, staging under ``_tmp/batch/``).
What it adds: overwrite mode, a ``partition_by`` option (identity
fields only; appends inherit the table's spec) and the
``fail_attempt0_on_value`` fault seam. With the ``snapshot_changes``
stream source and ``snapshot_sink`` stream writer, every surface of the
table goes through official APIs.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass


def _build():
    """Deferred class definitions (importing this module never requires
    a live Spark — same gating convention as python_datasource.py)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        In,
        InputPartition,
    )
    from pyspark.sql.types import StructType

    from .snapshot_table import (
        _DATA_DIR,
        _bloom_may_contain,
        _epoch_probe,
        _load_snapshot,
        _parse_partition_spec,
        _partition_match,
        _stats_overlap,
        latest_version,
        table_partition_by,
        version_as_of,
    )

    @dataclass
    class _Shard(InputPartition):
        path: str | None  # None = the empty-table placeholder
        names: dict | None  # logical -> physical column mapping

    def _resolve(options) -> dict:
        table = options.get("path")
        if not table:
            raise ValueError(
                "snapshot_table source: option 'path' is required"
            )
        if options.get("version") is not None and options.get(
            "as_of"
        ) is not None:
            raise ValueError(
                "snapshot_table source: version and as_of are mutually "
                "exclusive"
            )
        if options.get("as_of") is not None:
            v = version_as_of(table, float(options["as_of"]))
        elif options.get("version") is not None:
            v = int(options["version"])
        else:
            v = latest_version(table)
            if v is None:
                raise FileNotFoundError(
                    f"snapshot_table source: {table} has no snapshots"
                )
        snap = _load_snapshot(table, v)
        if snap.get("deletes"):
            raise ValueError(
                "snapshot_table source: pending lazy deletes cannot be "
                "applied inside the Arrow reader; run compact_table "
                "first (or read via read_snapshot)"
            )
        return snap

    class SnapshotTableReader(DataSourceReader):
        def __init__(self, options, schema: StructType, snap: dict):
            self.options = options
            self.table = options["path"]
            # the SAME resolved snapshot the schema came from — never
            # re-resolved, so a commit landing between analysis and
            # execution cannot tear the read (see SnapshotTableDataSource)
            self.snap = snap
            self.schema = schema
            # narrowed per-column intervals from pushed filters:
            # col -> [lo, hi] with None = unbounded on that side
            self.bounds: dict[str, list] = {}
            self.points: dict[str, object] = {}  # equality probes
            # IN-list filters: each is (col, values); a shard survives
            # one iff AT LEAST one value can be present in it
            self.any_of: list[tuple[str, tuple]] = []

        def _stat_probe(self, col: str, value):
            # stats-comparison form of a pushed value: temporal
            # columns' recorded bounds are epoch ints (see
            # _STATS_COL_TYPES), so datetime/date literals Catalyst
            # pushes convert before the comparator sees them — raw
            # values stay raw everywhere else (partition transforms
            # and blooms consume SOURCE values)
            try:
                t = self.schema[col].dataType.simpleString()
            except KeyError:
                return value
            return (
                _epoch_probe(t, value)
                if t in ("timestamp", "timestamp_ntz", "date")
                else value
            )

        def _narrow(self, col: str, lo=None, hi=None):
            b = self.bounds.setdefault(col, [None, None])
            lo, hi = self._stat_probe(col, lo), self._stat_probe(col, hi)
            try:
                if lo is not None and (b[0] is None or lo > b[0]):
                    b[0] = lo
                if hi is not None and (b[1] is None or hi < b[1]):
                    b[1] = hi
            except TypeError:
                pass  # incomparable narrowing probe: keep the old bound

        def pushFilters(self, filters):
            # supported comparison shapes narrow the skip interval;
            # EVERY filter is yielded back unhandled — skipping is a
            # scan reducer, Spark keeps the row-level Filter node
            import datetime as _d

            ok_types = (int, float, str, _d.date)  # date covers datetime
            for f in filters:
                attr = getattr(f, "attribute", None)
                value = getattr(f, "value", None)
                kind = type(f).__name__
                if (
                    isinstance(f, In)
                    and attr is not None
                    and len(attr) == 1
                    and value
                    and all(isinstance(v, ok_types) for v in value)
                ):
                    # multi-point lookup: stats + bloom per listed value
                    self.any_of.append((attr[0], tuple(value)))
                elif (
                    attr is not None
                    and len(attr) == 1
                    and value is not None
                    and isinstance(value, ok_types)
                ):
                    col = attr[0]
                    if isinstance(f, EqualTo):
                        self._narrow(col, lo=value, hi=value)
                        self.points[col] = value
                    elif kind in ("GreaterThan", "GreaterThanOrEqual"):
                        # inclusive bound is conservative for the strict
                        # form: a boundary shard survives, never skipped
                        self._narrow(col, lo=value)
                    elif kind in ("LessThan", "LessThanOrEqual"):
                        self._narrow(col, hi=value)
                yield f

        def _surviving(self) -> list[dict]:
            # _stats_overlap is the shared triage rule (None bounds =
            # unbounded; incomparable types conservatively kept)
            shards = self.snap["shards"]
            # partition pruning first — the coarsest, EXACT tier, and
            # HIDDEN: an equality (or IN) probe on a partition field's
            # SOURCE column maps through the field's transform
            # (identity/bucket/truncate/days), so a user filtering
            # doc_id = K on a bucket(8, doc_id) table prunes to the
            # owning bucket without ever addressing buckets
            for spec in self.snap.get("partition_by", []):
                f = _parse_partition_spec(spec)
                src, key, py = f["source"], f["spec"], f["py"]
                if src in self.points:
                    tvals = {py(self.points[src])}
                    shards = [
                        s for s in shards if _partition_match(s, key, tvals)
                    ]
                for col, values in self.any_of:
                    if col == src:
                        tvals = {py(v) for v in values}
                        shards = [
                            s
                            for s in shards
                            if _partition_match(s, key, tvals)
                        ]
            for col, (lo, hi) in self.bounds.items():
                shards = [
                    s for s in shards if _stats_overlap(s, col, lo, hi)
                ]
            for col, value in self.points.items():
                shards = [
                    s for s in shards if _bloom_may_contain(s, col, value)
                ]
            for col, values in self.any_of:
                shards = [
                    s
                    for s in shards
                    if any(
                        _stats_overlap(
                            s, col,
                            self._stat_probe(col, v),
                            self._stat_probe(col, v),
                        )
                        and _bloom_may_contain(s, col, v)
                        for v in values
                    )
                ]
            return shards

        def partitions(self):
            live = self._surviving()
            log = self.options.get("plan_log")
            if log:
                with open(log, "w") as fh:
                    json.dump(
                        {
                            "planned": len(live),
                            "total": len(self.snap["shards"]),
                        },
                        fh,
                    )
            if not live:
                return [_Shard(None, None)]
            return [
                _Shard(
                    os.path.join(self.table, _DATA_DIR, s["file"]),
                    s.get("names"),
                )
                for s in live
            ]

        def read(self, partition):
            if partition.path is None:
                return
            import pyarrow as pa
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import to_arrow_schema

            target = to_arrow_schema(self.schema)
            names = partition.names
            # column-pruned read (the _read_shards twin's physical-
            # schema scan): only the physical columns the LOGICAL
            # schema maps to are read — hidden dropped columns and any
            # other dead bytes in the file cost zero I/O
            physical = pq.read_schema(partition.path).names
            wanted = {}
            for f in self.schema.fields:
                phys = names.get(f.name) if names is not None else f.name
                if phys is not None and phys in physical:
                    wanted[f.name] = phys
            tbl = pq.read_table(
                partition.path, columns=sorted(set(wanted.values()))
            )
            cols = []
            for f, afield in zip(self.schema.fields, target):
                phys = wanted.get(f.name)
                if phys is not None:
                    cols.append(tbl.column(phys).cast(afield.type))
                else:  # unmapped logical / physically absent: NULL-fill
                    cols.append(
                        pa.chunked_array(
                            [pa.nulls(tbl.num_rows, afield.type)]
                        )
                    )
            out = pa.Table.from_arrays(cols, schema=target)
            yield from out.to_batches()

    from pyspark.sql.datasource import DataSourceArrowWriter

    from .snapshot_table import (
        _arrow_write_options,
        _commit_staged,
        _discard_staged,
        _stage_arrow,
        _StagedFiles,
    )

    class SnapshotTableBatchWriter(DataSourceArrowWriter):
        """Batch write path: ``df.write.format("snapshot_table")`` with
        mode append/overwrite, one atomic snapshot per job through the
        shared Arrow stager and commit. A failed job aborts to zero
        visibility."""

        def __init__(self, options, schema, overwrite: bool):
            self.options = options
            self.table = options.get("path")
            if not self.table:
                raise ValueError(
                    "snapshot_table writer: option 'path' is required"
                )
            self.overwrite = overwrite
            self.meta = _arrow_write_options(
                options, schema, "snapshot_table writer"
            )
            self.schema = schema
            self.stage = os.path.join(self.table, "_tmp", "batch")
            # partition spec: explicit option wins; otherwise INHERIT
            # the live table's (same contract as write_snapshot with
            # partition_by=None). Resolved here on the driver — commit
            # may run without a JVM gateway, but the spec is plain
            # snapshot-log JSON
            # split on commas OUTSIDE parens: "lang,bucket(8, doc_id)"
            # is two fields
            opt_pb = [
                c.strip()
                for c in re.split(
                    r",(?![^(]*\))", options.get("partition_by") or ""
                )
                if c.strip()
            ]
            opt_pb = [_parse_partition_spec(s)["spec"] for s in opt_pb]
            table_pb = table_partition_by(self.table)
            self.partition_by = opt_pb or table_pb
            if (
                opt_pb
                and not overwrite
                and latest_version(self.table) is not None
                and opt_pb != table_pb
            ):
                raise ValueError(
                    f"snapshot_table writer: append with partition_by="
                    f"{opt_pb} conflicts with the table's spec "
                    f"{table_pb}; appends inherit (omit the option)"
                )
            self.split_fields = [
                _parse_partition_spec(s) for s in self.partition_by
            ]
            for f in self.split_fields:
                if f["kind"] != "identity":
                    # the executor-side Arrow split groups on raw column
                    # values; transform staging is the JVM path's job
                    raise ValueError(
                        f"snapshot_table writer: partition transform "
                        f"{f['spec']!r} is not supported through the "
                        f"batch writer; write via write_snapshot "
                        f"(transforms run JVM-side there)"
                    )
                t = schema[f["source"]].dataType.simpleString()
                if t not in f["types"]:
                    raise ValueError(
                        f"snapshot_table writer: partition_by supports "
                        f"integral/string columns only; "
                        f"{f['source']!r} is {t}"
                    )

        def write(self, iterator):
            batches = list(iterator)
            staged = _StagedFiles(
                files=_stage_arrow(
                    batches, self.stage, "batch", self.split_fields,
                    self.meta,
                )
            )
            # fault-injection hook (tests only; same seam the tsv_shards
            # sink exposes — kept in-path because task retries cannot be
            # simulated from outside the scheduler): die AFTER staging on
            # the first attempt of the task holding the marker value —
            # the dangerous case, where a retried attempt has already
            # written staged files. The protocol survives because the
            # failed attempt's commit message is discarded: its staged
            # files are never published (invisible residue under
            # _tmp/batch until vacuum's staged-age sweep).
            marker = self.options.get("fail_attempt0_on_value")
            if marker and staged.files:
                import pyarrow as pa
                import pyarrow.compute as pc
                from pyspark import TaskContext

                ctx = TaskContext.get()
                t = pa.Table.from_batches(batches)
                col = t.schema.names[0]
                hit = pc.any(
                    pc.equal(pc.cast(t[col], pa.string()), marker)
                ).as_py()
                if ctx is not None and ctx.attemptNumber() == 0 and hit:
                    raise RuntimeError(
                        "injected attempt-0 failure (fault test)"
                    )
            return staged

        def commit(self, messages):
            def guard(base):
                # same layout-race rule as write_snapshot: a concurrent
                # re-partition invalidates these staged shards' split,
                # not just the base
                if base.get("partition_by", []) != list(self.partition_by):
                    raise ValueError(
                        f"snapshot_table writer: table was re-partitioned "
                        f"to {base.get('partition_by', [])} while this "
                        f"append (spec {list(self.partition_by)}) was "
                        f"staging; retry the write"
                    )

            shape = {
                "operation": "overwrite" if self.overwrite else "append",
                "properties": {"sink": "snapshot_table_batch"},
                "partition_by": list(self.partition_by),
            }
            _commit_staged(
                self.table, self.stage, messages, self.schema, shape, guard,
                "snapshot_table writer",
            )

        def abort(self, messages):
            _discard_staged(self.stage, messages)

    class SnapshotTableDataSource(DataSource):
        @classmethod
        def name(cls):
            return "snapshot_table"

        def _snap_once(self) -> dict:
            # resolve the snapshot EXACTLY once per read: schema() and
            # reader() must see the same pinned version, or a commit
            # landing between analysis and execution would tear the
            # read (schema from v, shards from v+1)
            if not hasattr(self, "_snap"):
                self._snap = _resolve(self.options)
            return self._snap

        def schema(self):
            return StructType.fromJson(self._snap_once()["schema"])

        def reader(self, schema):
            return SnapshotTableReader(self.options, schema, self._snap_once())

        def writer(self, schema, overwrite):
            return SnapshotTableBatchWriter(self.options, schema, overwrite)

    return SnapshotTableDataSource


def register_snapshot_table_source(spark) -> None:
    """Idempotent registration of the ``snapshot_table`` read format.
    Enables ``spark.sql.python.filterPushdown.enabled`` (runtime conf,
    default false in 4.1) — Spark refuses to initialise a Python
    reader that implements ``pushFilters`` while the flag is off."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_build())
