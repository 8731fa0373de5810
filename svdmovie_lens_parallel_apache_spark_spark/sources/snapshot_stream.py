"""Snapshot table as a Structured Streaming SOURCE (Delta-style
``readStream`` over table commits).

The reference never streams (801-line batch RDD job); a 100 TB corpus
pipeline, however, is a CHAIN of tables — raw crawl -> filtered ->
deduped -> tokenized — and the thing that makes the chain incremental
is each table doubling as a streaming source for the next stage. This
module provides that over the snapshot-log format
(``sources/snapshot_table.py``) as a Spark 4 Python
``DataSourceStreamReader``:

- **Offsets are snapshot versions** (``{"version": N}``). ``latestOffset``
  reads the log's highest committed version; ``partitions(start, end)``
  resolves the files APPENDED in ``(start, end]`` purely from snapshot
  metadata (the :func:`~.snapshot_table.read_changes` walk: per append
  snapshot, its shard set minus its parent's). No pacing state exists
  outside the log + Spark's own offset checkpoint, so a restarted query
  is exactly-once BY CONSTRUCTION — replaying ``(start, end]`` always
  yields the same files, and a version is either wholly before or
  wholly after an offset. Contrast the synthetic source
  (``python_datasource.py``), which must re-sync in-memory pacing
  state on restart.
- **One input partition per appended file** — executor-side ``read``
  opens its parquet shard with pyarrow and yields Arrow RecordBatches
  (the zero-copy fast path) when the file's columns already match the
  scan schema, falling back to NULL-filled row tuples for shards
  written before a schema evolution widened the table.
- **Layout-only compactions in the range contribute nothing** (same
  rows, new files — skipped like an Iceberg replace snapshot).
  Row-changing commits (overwrite / delete / merge / rollback) FAIL the
  stream loudly: their effect is not representable as appended files,
  and silently skipping one would hand the consumer a wrong delta.
  Streaming consumers sit on append-mostly tables; after a rewrite,
  restart from a fresh ``start_version`` (or fall back to a batch
  rebuild) — the Delta/Iceberg operational rule, stated here instead of
  hidden.
- The scan schema is pinned when ``load()`` resolves it (the schema
  Spark hands ``streamReader``; the head is not re-read at start):
  columns added after ``load()`` surface after a restart — same
  contract as Delta's streaming source.

Options: ``path`` (the table directory), ``start_version`` (default 0 =
from table creation, so version 1's files are the first batch) or its
time-travel twin ``start_timestamp`` (epoch seconds, Delta
``startingTimestamp`` semantics: every commit stamped at or after the
timestamp streams; mutually exclusive with ``start_version`` — see
:func:`_resolve_start`), ``partition_filter`` (JSON object
``{field: source_value_or_list}``, fields of the table's partition
spec with probes transformed like every other surface) — each micro-batch then plans only the matching
partitions' added files from metadata alone, the streaming form of the
per-language derived-table refresh (unstamped added shards are
conservatively kept) — and ``max_files_per_trigger`` (admission
control, Delta's option of the same name): each micro-batch admits
whole commits until their cumulative file count would exceed the
budget, so a consumer of a hot table paces itself instead of planning
one monster batch after downtime. For THIS append-level source the
budget is file-granular: offsets become ``{"version": V, "index": I}``
(first I adds of V consumed, legacy whole-version offsets normalize
seamlessly) and a single commit larger than the budget — including a
fresh subscription's initial 100 TB snapshot — pages through in
budget-sized batches, Delta's (version, index) idiom. The row-level
``snapshot_cdc`` source defaults to WHOLE-commit granularity (its
apply-sink reduces each batch per key by highest version, and
splitting a version's delete/insert pairs arbitrarily across batches
would make replica convergence order-sensitive); opting in with
``page_keys`` pages an oversized commit by KEY-RANGE instead —
offsets gain ``page``/``pages`` — which preserves convergence because
each page carries a key's complete change set for that version (see
:func:`_capped_end_paged`). CAVEAT: with
``availableNow`` Spark captures ONE capped end offset per invocation,
so the budget becomes a per-RUN budget (the drain advances at most
budget files, re-invoke to catch up — Delta's historical Trigger.Once
behavior); continuous triggers (``processingTime``) pace per trigger
as expected. The cap counts a commit's files before any
``partition_filter`` pruning. Pacing survives RESTARTS exactly:
Spark's first post-restart call is the empty-range re-init
``partitions(last_logged, last_logged)``, which teaches the reader
the checkpointed position before the first ``latestOffset`` caps —
so a capped offset never regresses behind the checkpoint (a logged
regressed offset + a second crash would replay delivered files; see
the reader ``__init__`` comments). The delivered floor advances only on
``commit``: a batch's ``start`` offset is logged-not-proven, and
flooring from it would silently empty the replay of an uncommitted
batch (lost rows).

**Retention contract** (Delta ``failOnDataLoss`` shaped): both
sources refuse loudly when the next version to plan precedes the
oldest retained snapshot (``expire_snapshots`` ran past the
checkpoint, or ``start_version`` predates retention) — the error
names the resume options. Opt-in ``allow_data_loss`` = ``'true'``
skips the expired versions' rows and continues from the oldest
plannable version instead.

Usage::

    register_snapshot_changes(spark)
    (spark.readStream.format("snapshot_changes")
        .option("path", table).option("start_version", 0).load())

A second format, ``snapshot_cdc`` (Delta ``readChangeFeed`` streaming
/ Iceberg changelog scan shaped), is the ROW-LEVEL twin: it streams
every change as table rows + ``_change_type`` ('insert' | 'delete') +
``_commit_version``, and — unlike the append-only format — passes
through the commits row-level DML produces (MoR merge/update deletion
vectors, pure file removals like ``drop_partition``), so a table fed
by ``streaming_merge_sink`` can itself be subscribed to: the
table→table CDC pipeline with updates, end to end, no version
polling. It shares the append stream's ``partition_filter`` option
(each work item is one file's changes and a file holds one partition
tuple, so the stamp filter is exact; unstamped files conservatively
stream) — the per-partition derived-table refresh with row-level DML.
Commit shapes whose changes are not exactly attributable to single
files (CoW rewrites, condition tombstones, rename/drop crossings)
fail loudly — fall back to batch ``read_cdc`` or restart
past them (see :func:`_cdc_plan_version`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import StructType

from ..streaming.jobs import drain
from .snapshot_table import (
    _added_files,
    _load_snapshot,
    _partition_match,
    _snap_path,
    _transform_probes,
    _version_change_counts,
    latest_version,
)


def _plannable_floor(table: str) -> int:
    """Oldest version the streaming planners can diff against its
    parent from the RETAINED log: walking down from the head, the
    first version whose parent snapshot file is missing (expired by
    :func:`~.snapshot_table.expire_snapshots`) bounds the walk —
    version ``v``'s adds/changes need snapshots ``v-1`` AND ``v``, so
    the plannable range is ``(floor, head]`` when ``floor > 1``, and
    the full history when ``floor == 1``. Tag-pinned snapshots
    surviving BELOW an expired gap don't extend the range (their own
    parents are gone). O(retained history) existence checks, no
    snapshot loads."""
    import os

    last = latest_version(table)
    if last is None:
        return 1
    c = last
    while c - 1 >= 1 and os.path.exists(_snap_path(table, c - 1)):
        c -= 1
    return c


def _resolve_start(table: str, options, fmt: str) -> int:
    """Starting position from the reader options: exact
    ``start_version``, or ``start_timestamp`` (epoch seconds, Delta
    ``startingTimestamp`` semantics — the stream delivers every commit
    stamped AT OR AFTER the timestamp; a timestamp before the table's
    first commit means everything, one after the head means only
    future commits). Mutually exclusive; commit stamps are strictly
    monotonic per table (see ``_claim_snapshot``), so the resolution
    is unambiguous. A resolved start whose history has since expired
    hits the normal retention contract at planning time."""
    sv = options.get("start_version")
    ts = options.get("start_timestamp")
    if sv is not None and ts is not None:
        raise ValueError(
            f"{fmt}: options start_version and start_timestamp are "
            f"mutually exclusive"
        )
    if ts is None:
        return int(sv or 0)
    # shared resolver (snapshot_table._version_before_timestamp): the
    # exclusive-start Delta startingTimestamp semantics including the
    # unstamped-prefix boundary contract — batch read_changes/read_cdc
    # timestamps resolve through the SAME function, so the stream and
    # batch forms can never disagree on a boundary
    from .snapshot_table import _version_before_timestamp

    return _version_before_timestamp(table, float(ts), fmt)


def _retention_check(
    table: str, first: int, allow_data_loss: bool, fmt: str,
) -> int:
    """The expired-history stream contract (Delta ``failOnDataLoss``
    shaped): a query restarted on a checkpoint whose offset version
    precedes the oldest retained snapshot cannot reconstruct the
    expired versions' changes — the planning walk would either die on
    a raw ``FileNotFoundError`` or, worse, mistake the oldest retained
    snapshot's ENTIRE file set for fresh adds. Given ``first`` (the
    first version the walk will load), returns ``first`` when its
    parent is retained; otherwise FAILS with the resume options, or —
    with ``allow_data_loss`` explicitly set — returns the first
    plannable version, acknowledging that the expired versions' rows
    are skipped (Delta's ``failOnDataLoss=false``).

    Steady-state cost is ONE existence check (version ``first``'s
    parent present ⟹ the whole walk from ``first`` is plannable, since
    expiry only removes prefixes); the O(retained history) floor walk
    runs only on the failure path, to name the resume point."""
    import os

    if first <= 1 or os.path.exists(_snap_path(table, first - 1)):
        return first
    c = _plannable_floor(table)
    if c <= 1 or first > c:
        return first
    if not allow_data_loss:
        raise ValueError(
            f"{fmt}: the stream needs version {first}'s changes, but "
            f"history before version {c} has been expired "
            f"(expire_snapshots) — the oldest plannable version is "
            f"{c + 1}. Resume options: rebuild the consumer from a "
            f"batch read of the current table state and restart the "
            f"stream with a fresh checkpoint and start_version set to "
            f"the current head version, or restart with "
            f"start_version >= {c} if versions after {c} suffice, or "
            f"set option 'allow_data_loss' = 'true' to skip the "
            f"expired versions' rows and continue from version "
            f"{c + 1}."
        )
    return c + 1


def _norm_off(off: dict) -> tuple[int, int]:
    """Canonical position of a snapshot_changes offset: ``(V, I)`` =
    every add of versions < V consumed, plus the first I adds (sorted
    file-name order) of version V. The legacy whole-version form
    ``{"version": V}`` (no index) means consumed THROUGH V, i.e.
    ``(V + 1, 0)`` — so pre-split checkpoints resume seamlessly."""
    if "index" in off:
        return (off["version"], off["index"])
    return (off["version"] + 1, 0)


def _off_of(pos: tuple[int, int]) -> dict:
    """Inverse of :func:`_norm_off` — the canonical offset dict for a
    position, so a no-progress latestOffset can echo the current
    position byte-for-byte (no churn batches)."""
    v, i = pos
    if i:
        return {"version": v, "index": i}
    return {"version": v - 1}


def _page_hash(keys, n_pages: int):
    """Key-range page assignment for CDC paging: first 64 bits of
    **md5 of the canonical key string** modulo the page count — the
    same engine-portable md5 family every other hashing surface uses
    (``functions/hashing.py``), chosen here because page assignments
    are persisted INTO offsets: a checkpoint must re-page identically
    across process restarts, executor heterogeneity, and library
    upgrades. A pandas/xxhash-style library hash is deterministic only
    per deployment — replaying an uncommitted paged batch after a
    library upgrade would silently re-assign keys to different pages
    (duplicated and lost rows within that version); md5 is pinned by
    the algorithm itself. hashlib releases the GIL and the loop is
    C-dominated (~1M keys/s); pages are budget-bounded by
    construction, so this stays off the scale path.

    ``keys`` is a sequence of canonical key STRINGS (see the caller
    for the null/dtype canonicalisation); returns int64 page ids in
    ``[0, n_pages)``."""
    import hashlib

    import numpy as np

    return np.fromiter(
        (
            int.from_bytes(hashlib.md5(k.encode("utf-8")).digest()[:8], "big")
            % n_pages
            for k in keys
        ),
        dtype=np.int64,
        count=len(keys),
    )


def _capped_end_indexed(
    table: str, latest: int, pos: tuple[int, int], budget: int,
) -> tuple[int, int]:
    """File-granular admission control for the APPEND stream (Delta
    maxFilesPerTrigger with (version, index) offsets): advance from
    ``pos`` accumulating per-version add counts, splitting INSIDE the
    version that would blow the budget — so a fresh subscription to a
    100 TB table pages through its initial snapshot in budget-sized
    batches instead of one monster batch. Always admits at least one
    file. Counts come from the raw segment diff; a layout rewrite
    (compaction) can over-count there, which at worst burns budget on
    a version the planner slices to nothing — never loss, never
    duplication (the slice is over the TRUE sorted add list, and a
    slice past its end is empty)."""
    v, i = pos
    total = 0
    while v <= latest:
        n = _version_change_counts(table, v)[0]
        avail = max(0, n - i)
        if total + avail > budget:  # this version overflows the budget
            take = budget - total
            if take <= 0 and total > 0:
                return (v, i)  # stop at the version boundary
            return (v, i + max(take, 1))  # ≥1 file: always progress
        total += avail
        v += 1
        i = 0
    return (v, 0)  # == (latest + 1, 0): fully caught up


def _cdc_norm(off: dict) -> tuple[int, int, int]:
    """Canonical position of a snapshot_cdc offset: ``(V, P, N)`` =
    all changes of versions < V delivered, plus key-range pages
    0..P-1 (of N) of version V. The whole-version form
    ``{"version": V}`` means delivered THROUGH V, i.e.
    ``(V + 1, 0, 0)``; the paged form ``{"version": V, "page": P,
    "pages": N}`` (0 < P < N) is mid-version. Lexicographic compare
    on (V, P) orders positions (P < N, so a partial position always
    precedes the next version's (V+1, 0))."""
    if "page" in off:
        return (off["version"], off["page"], off["pages"])
    return (off["version"] + 1, 0, 0)


def _cdc_off(pos: tuple[int, int, int]) -> dict:
    """Inverse of :func:`_cdc_norm` — bijective, so a caught-up
    latestOffset reproduces the committed offset dict byte-for-byte
    (no churn batches)."""
    v, p, n = pos
    if p:
        return {"version": v, "page": p, "pages": n}
    return {"version": v - 1}


def _capped_end_paged(
    table: str, latest: int, pos: tuple[int, int, int], budget: int,
    split: bool,
) -> tuple[int, int, int]:
    """Admission control for the CDC stream. Whole versions are
    admitted under the file budget as before; with ``split`` (the
    ``page_keys`` option), a single commit whose change-item count
    exceeds the budget — the 100 TB GDPR purge or backfill that would
    otherwise arrive at the replica as ONE monster micro-batch — is
    delivered as ``ceil(count / budget)`` KEY-RANGE pages, each a
    deterministic hash-range of the key columns (offsets carry the
    page count, so a restart re-pages identically). Each page still
    reads the version's changed files (keys cannot be attributed to
    files), so paging trades read amplification for a bounded
    per-batch apply at the replica — which is the scale bottleneck:
    the merge/shuffle/state cost of applying one batch. Convergence
    is preserved because a page contains EVERY change of version V
    for its key range: per key, deliveries remain monotone in
    version, and the apply sink's per-key highest-version reduction
    never sees a split (version, key) group. Without ``split``,
    oversized commits ship whole (the pre-paging contract)."""
    v, p, n = pos
    total = 0
    while v <= latest:
        c = sum(_version_change_counts(table, v))
        if n == 0 and split and c > budget and total == 0:
            n = -(-c // budget)  # fix this version's page count
        if n:
            per = max(1, c // n)  # ≈ budget items per page
            avail = budget - total
            if total and avail < per:
                break  # no room for a page: stop at the boundary
            k = max(1, avail // per)
            if p + k < n:
                return (v, p + k, n)
            total += (n - p) * per
            v, p, n = v + 1, 0, 0
            continue
        if total and total + c > budget:
            break
        total += c
        v += 1
    return (v, 0, 0)


def _reader_base():
    """The one stream reader behind both formats: option parsing,
    pacing, the retention contract and the planning walk. A format
    supplies its name (``fmt``), its position codec (``_norm``/
    ``_off``), its admission cap (``_capped``), its per-version planner
    (``_plan``), its ``InputPartition`` factory (``_part``) and
    ``read``. Deferred, like the format builders, so importing this
    module never requires the pyspark.sql.datasource surface."""
    import json

    from pyspark.sql.datasource import DataSourceStreamReader

    class SnapshotStreamReader(DataSourceStreamReader):
        def __init__(self, options, fields):
            self.table = options.get("path")
            if not self.table:
                raise ValueError(f"{self.fmt}: option 'path' required")
            self.start_version = _resolve_start(self.table, options, self.fmt)
            # the scan schema Spark resolved at load(): a head re-read
            # here would disagree with it after a concurrent add_column
            self.fields = fields
            self.probes = None
            raw = options.get("partition_filter")
            if raw:
                pb = _load_snapshot(
                    self.table, latest_version(self.table)
                ).get("partition_by", [])
                self.probes = {
                    key: _transform_probes(pb, key, want)
                    for key, want in json.loads(raw).items()
                }
            self.max_files = int(options.get("max_files_per_trigger", 0) or 0)
            self.allow_data_loss = str(
                options.get("allow_data_loss", "false")
            ).lower() == "true"
            # _pos (planning high-water) paces latestOffset; seeding it
            # from start_version is the TRUE position only for a fresh
            # query, and safe because on RESTART Spark's first call is
            # always partitions(last_logged, last_logged) (verified for
            # processingTime and availableNow restarts, committed and
            # uncommitted final batches alike) — an empty-range re-init
            # that teaches _pos the checkpointed position BEFORE the
            # first latestOffset caps. A capped offset therefore never
            # regresses behind the checkpoint (Spark logs whatever
            # latestOffset returns; a logged regressed offset plus a
            # crash would replay delivered files).
            self._pos = self._floor = self._at(self.start_version + 1)

        def _at(self, v):
            """The position before any change of version ``v``."""
            return self._norm({"version": v - 1})

        def initialOffset(self):
            return {"version": self.start_version}

        def latestOffset(self):
            v = latest_version(self.table)
            if v is None:
                return {"version": self.start_version}
            if not self.max_files:
                return {"version": v}
            at = max(self._pos, self._floor)
            try:
                return self._capped(v, at)
            except FileNotFoundError:
                # counting walked into expired history: retry from the
                # plannable floor so an allow_data_loss recovery STAYS
                # budget-paced (an uncapped fallback is the monster
                # batch admission control exists to prevent);
                # partitions() still raises the contract otherwise
                at = max(at, self._at(_plannable_floor(self.table) + 1))
            try:
                return self._capped(v, at)
            except FileNotFoundError:
                # raced with a SECOND expiry: echo the current position
                # (a no-progress offset) and let the next trigger re-cap
                return self._off(max(self._pos, self._floor))

        def partitions(self, start, end):
            # On restart Spark's first call is partitions(last_logged,
            # last_logged) — an empty-range re-init that teaches the
            # reader the checkpointed position BEFORE any latestOffset
            # (so pacing resumes exactly — see __init__); a replay of
            # an uncommitted batch arrives as partitions(committed,
            # logged). Either way, `start` is a LOGGED offset, not
            # proof of delivery — the floor (which clamps s below)
            # advances ONLY in commit(): advancing it from `start`
            # here would clamp an uncommitted batch's replay to
            # nothing and silently LOSE its rows. In monotone flow the
            # clamp is the identity (floor == last committed end <=
            # start); it exists as defense in depth against a
            # regressed start offset ever re-planning committed files.
            s = max(self._norm(start), self._floor)
            e = self._norm(end)
            if s[:2] < e[:2]:
                # expired-history contract: fail (or, with
                # allow_data_loss, skip) when the walk's first version
                # precedes retention — see _retention_check
                adj = _retention_check(
                    self.table, s[0], self.allow_data_loss, self.fmt
                )
                if adj != s[0]:
                    s = self._at(adj)
            self._pos = max(self._pos, s, e)
            items = []
            pos = s
            while pos[:2] < e[:2]:
                v = pos[0]
                try:
                    items.extend(self._plan(pos, e))
                except FileNotFoundError:
                    # a mid-range snapshot is gone — retention with a
                    # tag-pinned version BELOW the expired gap defeats
                    # _retention_check's O(1) parent-exists fast path;
                    # convert to the same actionable contract here
                    adj = _retention_check(
                        self.table, max(v, _plannable_floor(self.table)),
                        self.allow_data_loss, self.fmt,
                    )
                    if adj <= v:
                        raise  # not a retention gap: surface as-is
                    pos = self._at(adj)
                    continue
                pos = self._at(v + 1)
            if self.probes:
                # each item is one file's adds or changes, and a file
                # holds rows of exactly one partition tuple, so the
                # stamp filter is exact; unstamped files conservatively
                # stream (same contract as every pruning surface)
                items = [
                    i for i in items
                    if all(
                        _partition_match(i, k, t)
                        for k, t in self.probes.items()
                    )
                ]
            return [self._part(i) for i in items] or [self._part(None)]

        def commit(self, end):
            # the snapshot log + Spark's offset log are the state; the
            # position hints only pace the NEXT latestOffset and floor.
            # This is the ONLY place the floor advances: a committed
            # end offset is the one position Spark proves delivered.
            self._pos = max(self._pos, self._norm(end))
            self._floor = max(self._floor, self._norm(end))

    return SnapshotStreamReader


def _source(reader, extra):
    """The ``DataSource`` of one format: its schema is the head
    snapshot's plus the format's ``extra`` fields, and its reader
    gets the fields Spark resolved, minus ``extra``."""
    from pyspark.sql.datasource import DataSource

    names = {f.name for f in extra}

    class SnapshotStreamSource(DataSource):
        @classmethod
        def name(cls):
            return reader.fmt

        def schema(self):
            table = self.options.get("path")
            if not table:
                raise ValueError(f"{reader.fmt}: option 'path' required")
            v = latest_version(table)
            if v is None:
                raise FileNotFoundError(
                    f"{reader.fmt}: {table} has no snapshots"
                )
            base = StructType.fromJson(_load_snapshot(table, v)["schema"])
            return StructType(list(base.fields) + list(extra))

        def streamReader(self, schema):
            return reader(
                self.options,
                [f for f in schema.fields if f.name not in names],
            )

    return SnapshotStreamSource


def _build():
    """The ``snapshot_changes`` source: one input partition per added
    file, positions ``(version, index)`` (see :func:`_norm_off`)."""
    import os

    from pyspark.sql.datasource import InputPartition

    @dataclass
    class _Shard(InputPartition):
        path: str | None  # None = empty-range sentinel (yields nothing)

    class SnapshotChangesStreamReader(_reader_base()):
        fmt = "snapshot_changes"
        _norm = staticmethod(_norm_off)
        _off = staticmethod(_off_of)

        def _capped(self, latest, at):
            # always the indexed form; it equals the committed offset
            # dict byte-for-byte once caught up (no churn batches)
            ev, ei = _capped_end_indexed(
                self.table, latest, at, self.max_files
            )
            return {"version": ev, "index": ei}

        def _plan(self, pos, e):
            v, i = pos
            adds, _ = _added_files(self.table, v - 1, v)
            return adds[i:e[1] if v == e[0] else None]

        def _part(self, s):
            if s is None:
                return _Shard(None)
            return _Shard(os.path.join(self.table, "data", s["file"]))

        def read(self, partition):
            if partition.path is None:
                return
            import pyarrow.parquet as pq

            # pre-evolution shards conform by name IN ARROW (NULL-fill
            # missing, drop extra) — shared with the CDC reader
            t = _conform_arrow(
                pq.read_table(partition.path), self.fields, None
            )
            yield from t.to_batches()

    return _source(SnapshotChangesStreamReader, [])


def register_snapshot_changes(spark) -> None:
    """Idempotent registration of the ``snapshot_changes`` stream format."""
    spark.dataSource.register(_build())


def drain_available_now(
    start_run, checkpoint_dir: str, max_runs: int = 10_000
) -> int:
    """Budget-paced FULL drain for availableNow over the Python
    DataSource bridge — the engine-side closure of the per-RUN pacing
    gap (module CAVEAT / DEPLOY.md "availableNow pacing is per-RUN"):
    Spark 4's ``PythonMicroBatchStream`` implements no
    ``SupportsTriggerAvailableNow``, so one availableNow invocation
    advances at most ``max_files_per_trigger`` files. This helper
    re-invokes until an invocation ends with the source offset log
    unmoved — a paced full drain TODAY, per-invocation budget
    preserved, exactly-once by construction (position lives solely in
    the checkpoint's offset log; every run resumes from it, and a
    crash mid-run replays only that run's uncommitted batch).

    ``start_run``: zero-arg callable returning a STARTED availableNow
    ``StreamingQuery`` whose sink checkpoints at ``checkpoint_dir``
    (build the whole readStream→writeStream chain inside it — a
    StreamingQuery object is single-use). Runs sequentially; returns
    the number of runs that made progress. Each run goes through
    :func:`streaming.jobs.drain`, so a run that commits no batch for
    ``_DRAIN_STALL_S`` seconds is stopped and raises ``TimeoutError``.
    Raises if ``max_runs`` invocations were all progressing (backlog
    still growing faster than the budget drains it — raise the budget
    or keep a continuous trigger instead).

    When the upstream bridge grows ``SupportsTriggerAvailableNow``,
    per-batch caps activate inside a single run (``_capped_end_*``
    already compute them) and this loop degenerates to one
    progressing run + one no-progress confirmation — callers need no
    change."""
    import glob
    import os

    def _offset_fingerprint():
        # newest offsets file's SOURCE lines (skip the v1 header +
        # metadata line: its batchWatermarkMs/batchTimestampMs move on
        # every batch even when no source progress was made)
        files = [
            f
            for f in glob.glob(os.path.join(checkpoint_dir, "offsets", "*"))
            if os.path.basename(f).isdigit()
        ]
        if not files:
            return None
        newest = max(files, key=lambda f: int(os.path.basename(f)))
        with open(newest) as fh:
            return "\n".join(fh.read().splitlines()[2:])

    progressed = 0
    prev = _offset_fingerprint()
    for _ in range(max_runs):
        first = prev is None  # fresh checkpoint: no offsets yet
        q = start_run()
        drain(q)
        cur = _offset_fingerprint()
        if cur == prev:
            return progressed
        prev = cur
        if first:
            # batch 0 on a fresh checkpoint always writes an offsets
            # file, even over an empty backlog — that initialization
            # is only "progress" if rows actually moved; otherwise a
            # caller keying on the return value (drained == 0 means
            # nothing arrived) would be misled on the first drain
            try:
                rows = sum(
                    int(p["numInputRows"]) for p in q.recentProgress
                )
            except Exception:
                rows = 1  # unknown — count the offset motion
            if rows == 0:
                continue
        progressed += 1
    raise RuntimeError(
        f"drain_available_now: still progressing after {max_runs} "
        f"invocations — backlog outpaces the per-run budget; raise "
        f"max_files_per_trigger or run a processingTime trigger"
    )


def _conform_arrow(t, fields, names: dict | None):
    """Conform a pyarrow table to the stream's pinned logical
    ``fields`` — the executor-side twin of the driver's
    ``_read_shards`` column-mapping read: with a shard mapping
    (logical → physical, stamped by rename/drop), each logical column
    reads its PHYSICAL bytes and an unmapped logical name reads NULL
    (never a same-named physical column — the name-reuse trap);
    without one, match by name, NULL-filling absences. Extra physical
    columns (added after the stream pinned its schema) drop until the
    consumer restarts — Delta's streaming evolution contract. Pure
    Arrow column shuffling: zero-copy for present columns."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    if names is None and list(t.schema.names) == [f.name for f in fields]:
        return t
    present = set(t.schema.names)

    def col(f):
        physical = names.get(f.name) if names is not None else f.name
        if physical is not None and physical in present:
            return t[physical]
        return pa.nulls(len(t), type=to_arrow_type(f.dataType))

    return pa.table({f.name: col(f) for f in fields})


def _cdc_plan_version(table: str, v: int) -> list[dict]:
    """Plan one committed version's row-level changes as PER-FILE work
    items (the streaming twin of ``read_cdc``'s visibility diff, with
    the diff restricted to the commit shapes whose changes are exactly
    attributable to single files — so executors never need a
    cross-file ``exceptAll``):

    - row-preserving commits (metadata, add_column, spec evolution,
      layout/materialising compaction) plan nothing;
    - pure appends (and MoR merge/update inserts) plan one INSERT item
      per added file;
    - a commit's NEW positional vectors plan one DELETE_COORDS item
      per covered file — the pre-images are the rows at the vector's
      coordinates, which the stack-over-visible-rows invariant
      guarantees were visible in the parent (never double-deleted);
    - pure removals (drop_partition, whole-file deletes) plan one
      DELETE_FILE item per removed file — its visible rows (all rows
      minus the parent's positional coordinates) are the pre-images.

    Anything else raises loudly: a CoW rewrite (adds AND removes
    files) re-writes unchanged rows, so per-file attribution would
    fabricate delete+insert churn the batch diff cancels; a condition
    tombstone needs driver-side SQL evaluation; rename/drop crossing
    the range changes names mid-feed. Those ranges restart from a
    fresh ``start_version`` or fall back to batch :func:`~.
    snapshot_table.read_cdc` — stated, never silently skipped."""
    import os

    from .snapshot_table import _DATA_DIR, _dv_parts

    snap = _load_snapshot(table, v)
    op = snap["operation"]
    if op in ("rename_column", "drop_column"):
        raise ValueError(
            f"snapshot_cdc: version {v} is a {op} commit; frames before "
            f"and after it disagree on column names — restart the feed "
            f"at or after it"
        )
    parent = (
        _load_snapshot(table, v - 1) if v > 1 else {"shards": []}
    )
    if snap.get("properties", {}).get("compaction"):
        # layout rewrite; a materialising compaction applies pending
        # tombstones INTO files, so visible rows are identical too
        return []
    old = {s["file"]: s for s in parent["shards"]}
    new = {s["file"]: s for s in snap["shards"]}
    added = [s for f, s in sorted(new.items()) if f not in old]
    removed = [s for f, s in sorted(old.items()) if f not in new]
    old_dels = parent.get("deletes", [])
    new_dels = snap.get("deletes", [])
    if new_dels[: len(old_dels)] != old_dels:
        raise ValueError(
            f"snapshot_cdc: version {v} ({op}) rewrites the parent's "
            f"tombstone set; not stream-representable — restart from a "
            f"fresh start_version or rebuild via batch read_cdc"
        )
    extra = new_dels[len(old_dels):]
    if any("condition" in d for d in extra):
        raise ValueError(
            f"snapshot_cdc: version {v} ({op}) adds a condition "
            f"tombstone (driver-side SQL); not stream-representable — "
            f"compact the table and restart the feed"
        )
    if added and removed:
        raise ValueError(
            f"snapshot_cdc: version {v} ({op}) is a copy-on-write "
            f"rewrite (adds and removes files); per-file attribution "
            f"would fabricate unchanged-row churn — restart from a "
            f"fresh start_version or rebuild via batch read_cdc"
        )
    data = os.path.join(table, _DATA_DIR)
    items: list[dict] = []
    # a vector committed WITH its covered file (one commit appending X
    # and a vector over X — publish_branch squashing a branch's append
    # + later MoR merge produces exactly this) means X's deleted rows
    # were never visible on this lineage: the file streams as INSERTS
    # of its visible rows (all minus the vector's coords) and emits no
    # deletes for them
    extra_cover: dict[str, list[str]] = {}
    for d in extra:
        for f in d["shards"]:
            extra_cover.setdefault(f, []).extend(
                os.path.join(data, p) for p in _dv_parts(d)
            )
    for s in added:
        items.append(
            {
                "kind": "insert",
                "data_path": os.path.join(data, s["file"]),
                "names": s.get("names"),
                "version": v,
                "dv_paths": extra_cover.get(s["file"], []),
                "file_name": s["file"],
                "partition": s.get("partition", {}),
            }
        )
    # positional parent tombstones per covered file (for removals)
    parent_cover: dict[str, list[str]] = {}
    has_parent_condition: dict[str, bool] = {}
    for d in old_dels:
        for f in d["shards"]:
            if "condition" in d:
                has_parent_condition[f] = True
            else:
                parent_cover.setdefault(f, []).extend(
                    os.path.join(data, p) for p in _dv_parts(d)
                )
    for d in extra:  # new vectors: pre-images at their coordinates
        paths = [os.path.join(data, p) for p in _dv_parts(d)]
        for f in d["shards"]:
            if f not in old:
                continue  # covered file added THIS commit: rows at the
                # coords were never visible — handled as insert-minus-
                # coords above, no delete pre-images exist
            items.append(
                {
                    "kind": "delete_coords",
                    "data_path": os.path.join(data, f),
                    "names": old[f].get("names"),
                    "version": v,
                    "dv_paths": paths,
                    "file_name": f,
                    "partition": old[f].get("partition", {}),
                }
            )
    for s in removed:
        f = s["file"]
        if has_parent_condition.get(f):
            raise ValueError(
                f"snapshot_cdc: version {v} ({op}) removes file {f} "
                f"covered by a condition tombstone (driver-side SQL); "
                f"not stream-representable — compact first"
            )
        items.append(
            {
                "kind": "delete_file",
                "data_path": os.path.join(data, f),
                "names": s.get("names"),
                "version": v,
                "dv_paths": parent_cover.get(f, []),
                "file_name": f,
                "partition": s.get("partition", {}),
            }
        )
    return items


def _build_cdc():
    from pyspark.sql.datasource import InputPartition
    from pyspark.sql.types import (
        AtomicType,
        BinaryType,
        LongType,
        StringType,
        StructField,
    )

    @dataclass
    class _Change(InputPartition):
        kind: str | None  # None = empty-range sentinel
        data_path: str = ""
        names: tuple | None = None  # shard column map, as sorted items
        version: int = 0
        dv_paths: tuple = ()
        file_name: str = ""
        pages: tuple | None = None  # admitted key-range pages, or None
        n_pages: int = 0  # total pages of this version (0 = unsplit)

    class SnapshotCdcStreamReader(_reader_base()):
        """Change-data-feed STREAM over a snapshot table (Delta
        ``readChangeFeed`` streaming / Iceberg changelog-scan shaped):
        each micro-batch is the row-level changes of a committed
        version range, tagged ``_change_type`` ('insert' | 'delete')
        and ``_commit_version`` — so a downstream table can subscribe
        to an UPSTREAM table that takes row-level DML (the
        ``streaming_merge_sink`` CDC-apply loop), closing the
        table→table incremental pipeline without version polling.

        Offsets are snapshot versions; planning is a pure function of
        the log (``_cdc_plan_version``), so restarts are exactly-once
        by construction, same as ``snapshot_changes``. An update
        surfaces as its delete(pre-image) + insert(post-image) pair —
        note one divergence from batch ``read_cdc``'s multiset diff:
        an update writing values IDENTICAL to the old row emits the
        pair anyway (the batch diff cancels it), Delta CDF's behavior;
        net effect per key is identical for any consumer merging by
        key. The scan schema is pinned when ``load()`` resolves it;
        columns added after that surface after a restart.

        With ``page_keys`` (comma-separated key columns) AND
        ``max_files_per_trigger``, a commit whose change count blows
        the budget pages through as deterministic KEY-RANGE sub-
        batches — offsets gain ``page``/``pages`` — instead of one
        monster micro-batch; see :func:`_capped_end_paged` for the
        convergence argument and the read-amplification trade. The
        key hash is the engine's portable md5 page hash
        (:func:`_page_hash`): pinned by the algorithm itself, so a
        checkpoint's page assignments survive process restarts,
        heterogeneous executors, and library upgrades with no
        version-pinning requirement."""

        fmt = "snapshot_cdc"
        _norm = staticmethod(_cdc_norm)
        _off = staticmethod(_cdc_off)

        def __init__(self, options, fields):
            super().__init__(options, fields)
            raw_keys = options.get("page_keys", "")
            self.page_keys = tuple(
                c.strip() for c in raw_keys.split(",") if c.strip()
            )
            types = {f.name: f.dataType for f in fields}
            missing = [c for c in self.page_keys if c not in types]
            if missing:
                raise ValueError(
                    f"snapshot_cdc: page_keys columns {missing} not in "
                    f"the table schema"
                )
            bad = [
                c for c in self.page_keys
                if not isinstance(types[c], AtomicType)
                or isinstance(types[c], BinaryType)
            ]
            if bad:
                # arrays/structs have no canonical Arrow string cast
                # and binary may not round-trip one — either would
                # page non-deterministically; refuse loudly
                raise ValueError(
                    f"snapshot_cdc: page_keys must be atomic non-binary "
                    f"columns; {bad} are "
                    f"{[types[c].simpleString() for c in bad]}"
                )

        def _capped(self, latest, at):
            # counts are the raw segment diff (adds + removals +
            # DV-covered files ~= the planned change items, in
            # O(changed metadata)); refusal shapes still fail loudly
            # in the planning walk
            return _cdc_off(_capped_end_paged(
                self.table, latest, at, self.max_files,
                bool(self.page_keys),
            ))

        def _plan(self, pos, e):
            v, p, n = pos
            plan = _cdc_plan_version(self.table, v)
            if v == e[0] and e[2]:
                pages, npages = tuple(range(p, e[1])), e[2]
            elif n:
                pages, npages = tuple(range(p, n)), n
            else:
                pages, npages = None, 0  # whole version, no filter
            return [dict(i, pages=pages, n_pages=npages) for i in plan]

        def _part(self, i):
            if i is None:
                return _Change(kind=None)
            return _Change(
                kind=i["kind"],
                data_path=i["data_path"],
                names=(
                    tuple(sorted(i["names"].items()))
                    if i["names"] is not None else None
                ),
                version=i["version"],
                dv_paths=tuple(i["dv_paths"]),
                file_name=i["file_name"],
                pages=i["pages"],
                n_pages=i["n_pages"],
            )

        def read(self, partition):
            if partition.kind is None:
                return
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            t = pq.read_table(partition.data_path)
            if partition.dv_paths:
                pos: list[int] = []
                for p in partition.dv_paths:
                    dv = pq.read_table(
                        p, filters=[("file", "=", partition.file_name)]
                    )
                    pos.extend(dv.column("pos").to_pylist())
                if partition.kind == "delete_coords":
                    # pre-images AT the new vector's coordinates
                    t = t.take(pa.array(sorted(pos), type=pa.int64()))
                else:
                    # visible rows = all minus the coords: delete_file
                    # (parent vectors) and same-commit-covered inserts
                    mask = np.ones(len(t), dtype=bool)
                    if pos:
                        mask[np.asarray(pos, dtype=np.int64)] = False
                    t = t.filter(pa.array(mask))
            t = _conform_arrow(
                t, self.fields,
                dict(partition.names) if partition.names is not None
                else None,
            )
            if partition.pages is not None and len(t):
                # key-range page filter: keep rows whose key hash
                # lands in this batch's admitted pages. Delete pre-
                # images and insert post-images of the same key hash
                # identically (same key columns), so a page always
                # holds a key's COMPLETE change set for this version.
                # The hash input is the key CAST TO STRING in Arrow
                # (deterministic formatting) with nulls filled by a
                # sentinel — NOT the raw to_pandas() value: Arrow
                # promotes int64-with-nulls to float64, so the same
                # key would hash differently depending on whether its
                # FILE happens to contain a null, splitting a key's
                # delete/insert pair across pages (and int keys above
                # 2^53 would collapse). String canonicalisation makes
                # the page a pure function of the key VALUE; the md5
                # page hash (_page_hash) makes it a pure function of
                # NOTHING ELSE — no library version, no process seed.
                import pyarrow.compute as pc

                parts = [
                    pc.fill_null(
                        pc.cast(t.column(c), pa.large_string()), "\x00N"
                    )
                    for c in self.page_keys
                ]
                combined = (
                    parts[0]
                    if len(parts) == 1
                    else pc.binary_join_element_wise(
                        *parts, pa.scalar("\x1f", pa.large_string())
                    )
                )
                page = _page_hash(
                    combined.to_pylist(), partition.n_pages
                )
                t = t.filter(pa.array(np.isin(
                    page, np.asarray(partition.pages, dtype="int64")
                )))
            kind = "insert" if partition.kind == "insert" else "delete"
            t = t.append_column(
                "_change_type", pa.array([kind] * len(t), type=pa.string())
            ).append_column(
                "_commit_version",
                pa.array([partition.version] * len(t), type=pa.int64()),
            )
            yield from t.to_batches()

    return _source(
        SnapshotCdcStreamReader,
        [
            StructField("_change_type", StringType()),
            StructField("_commit_version", LongType()),
        ],
    )


def register_snapshot_cdc(spark) -> None:
    """Idempotent registration of the ``snapshot_cdc`` stream format."""
    spark.dataSource.register(_build_cdc())
