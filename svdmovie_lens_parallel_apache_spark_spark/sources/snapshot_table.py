"""Minimal snapshot-log table format (Iceberg/Delta-shaped) over parquet.

The reference's sink is a fire-and-forget text dump
(``SVDMovieLensSparkJava.java:469`` ``saveAsTextFile``) — fine for one
job, useless for a living corpus. A 100 TB training-data pipeline sits
on a TABLE, not a directory: concurrent writers must not corrupt each
other, a reader mid-scan must see one consistent version, yesterday's
run must be reproducible (time travel), and the schema must be allowed
to grow. This module adds that capability layer over plain parquet
files using only filesystem atomics — the same design space as the
public Delta/Iceberg protocols, re-derived minimally:

Layout::

    <table>/
      data/part-<uuid>.parquet      immutable, uuid-named (never reused)
      _snapshots/00000001.json      the LOG: one numbered file per commit
      _snapshots/00000002.json
      _manifests/m-<uuid>.json      immutable shard-list segments shared
                                    across snapshots (large tables only)
      _tmp/<job>/                   in-flight private staging

Each snapshot file is LOGICALLY self-contained: the COMPLETE list of
live shards at that version plus the table schema (a full manifest per
commit, not an add/remove delta — O(files) of metadata per commit is
the right trade below ~10^5 files). Above the inline bound the shard
list is SEGMENTED into immutable ``_manifests/`` files carried across
commits by name (Iceberg manifest-list shaped; see the manifest
section below) — a storage-level encoding only: :func:`_load_snapshot`
always materialises the classic form. Version N is live iff
``_snapshots/%08d.json % N`` exists.

Commit protocol (optimistic concurrency, Delta-on-POSIX shaped):

1. stage data files under a private ``_tmp/<job>/`` dir;
2. publish them into ``data/`` under fresh uuid names (``os.replace`` —
   uuid names never collide, so publishing is invisible until step 3);
3. :func:`_commit` reads the current latest version V and hands its
   snapshot to the writer's ``apply(base)``, which returns the writer's
   part of snapshot V+1 (its shards, schema, operation — or None for a
   no-op); ``_commit`` stamps the rest (version, parent, branch, counts,
   carried deletes/constraints/spec), writes it to a temp file, and
   claims it with ``os.link(tmp, _snapshots/V+1)`` — hard-link creation
   FAILS with EEXIST if someone else committed V+1 first. The loser
   re-reads the new latest snapshot and calls ``apply`` again, which
   REBASES (append: its shards still apply on top; overwrite: its own
   file list claims V+2) or raises on a conflict, and claims the next
   number. Files the job published but never claimed are removed on
   the way out. A crash at any point leaves the last committed snapshot
   fully intact: uncommitted data files are unreferenced orphans, never
   dangling references.

Reads pin ONE snapshot file and scan exactly the shards it names with
the schema it recorded — so a reader never sees a torn version, and
``version=`` gives time travel for free.

Schema evolution: append unions by name — a new nullable column widens
the table schema; a missing column is filled with NULLs. Type changes
are rejected loudly (no silent coercion).

Object-store note (same as ``python_datasink.py``): on S3-like stores
there is no rename/link; step 3 becomes a put-if-absent of the snapshot
key (every store has one now) and step 2 disappears (tasks write final
uuid keys directly). Steps' ORDER and the snapshot-as-commit-record
discipline transfer unchanged.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import WriterCommitMessage
from pyspark.sql.types import StructType

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_REFS_DIR = "_refs"
_FMT = "%08d.json"

# Reader protocol version this module understands (Delta
# minReaderVersion / Iceberg format-version shaped). Version 2 =
# per-shard column mappings (rename/drop evolution): a v1 reader would
# silently misread a mapped shard (old physical names surface under
# the wrong logical schema), so commits carrying mappings stamp 2 and
# old readers refuse LOUDLY instead. Version 3 = manifest-segmented
# shard lists (``manifests`` key): an older reader would see only the
# inline tail of the shard list and silently return a fraction of the
# table. Bump when a future feature makes existing readers produce
# wrong answers rather than errors.
_READER_VERSION = 3

# ---------------------------------------------------------------------------
# Manifest segments (Iceberg manifest-list shaped).
#
# A self-contained snapshot rewrites the COMPLETE shard list every
# commit — O(live files) of JSON per commit. Below ~10^5 files that is
# the right trade; at 100 TB (~10^6 shards) the metadata write
# amplification becomes the bottleneck: a 1-file append would rewrite a
# multi-GB manifest. The fix is Iceberg's: segment the shard list into
# immutable MANIFEST files under _manifests/, shared across snapshots
# by name. A snapshot then stores ``manifests`` (list of segment file
# names, oldest first) plus the inline ``shards`` tail of recent files;
# a commit that only adds files carries every parent segment BY
# REFERENCE and rewrites only the inline tail — O(changed files +
# segment count) metadata per commit. A commit that removes files
# (CoW delete/merge, compaction, drop_partition) breaks the affected
# segments' carry-over check and re-rolls those entries; untouched
# segments still carry.
#
# The encoding is STORAGE-LEVEL ONLY: :func:`_load_snapshot`
# materialises the full shard list back into ``snap["shards"]`` (and
# drops the ``manifests`` key), so every consumer of a loaded snapshot
# dict sees the classic self-contained form. Segment files are
# immutable and cached per-process by raw text; each load
# ``json.loads`` fresh dicts, so consumers that restamp shard entries
# in place can never poison the cache. Orphaned segments (lost commit
# races, expired history) are swept by :func:`_remove_unreferenced`,
# which treats a segment referenced by any live snapshot — main,
# branch, or tagged — as live, exactly like data files. The same
# in-flight-writer hazard as data files applies: a segment written in
# step 3 before its snapshot link looks orphaned to a concurrent
# vacuum. vacuum(orphan_older_than=...) is the fix (the mtime grace
# window spares anything younger than the window); a bare vacuum
# must still not run while a write is in flight.
# ---------------------------------------------------------------------------
_MAN_DIR = "_manifests"
# Inline tail bound: a commit whose post-carry-over inline shard count
# exceeds this rolls the tail into one new segment. 100 keeps snapshot
# JSON ~O(100 entries + segment names) while bounding segment count at
# ~live_files/100 (compact with rewrite_manifests when that grows).
_MANIFEST_INLINE_MAX = 100
# Auto-maintenance threshold: a commit whose carry-over source already
# holds this many segments compacts them into one as part of ITSELF
# (see _encode_manifests) — bounding segment count at ~this value for
# any table age, with the O(live files) compaction cost amortized over
# ~threshold commits. None disables (operator-cadence rewrite_manifests
# instead).
_MANIFEST_AUTO_REWRITE: int | None = 64
# Per-process FIFO of raw segment texts, abs path -> text. Sized for
# the HOT SET only — the inline-tail-adjacent and recently-rolled
# segments a commit/stream trigger re-reads — NOT the full manifest
# list: a 10^6-file table has ~live/inline_max ≈ 10^4 segments, so a
# full head resolution cycles the cache and re-reads from disk (safe,
# just unaccelerated). 64 entries × ~inline_max-entry segments bounds
# the cache at a few MB of JSON text per process.
_MANIFEST_CACHE: dict[str, str] = {}  # abs path -> raw segment text
_MANIFEST_CACHE_MAX = 64


def _manifest_path(table: str, name: str) -> str:
    return os.path.join(table, _MAN_DIR, name)


def _load_manifest(table: str, name: str) -> list[dict]:
    """Shard entries of one immutable manifest segment. The raw text is
    cached per-process (segments never change under a given name); the
    per-call ``json.loads`` hands every caller FRESH dicts so in-place
    restamping by one consumer cannot leak into another."""
    p = _manifest_path(table, name)
    raw = _MANIFEST_CACHE.get(p)
    if raw is None:
        with open(p) as f:
            raw = f.read()
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
        _MANIFEST_CACHE[p] = raw
    return json.loads(raw)


def _resolve_manifests(table: str, snap: dict) -> dict:
    """Materialise a manifest-segmented snapshot back into the classic
    self-contained form: ``shards`` becomes segment entries (oldest
    segment first) followed by the inline tail, and the ``manifests``/
    ``manifest_summaries`` keys are REMOVED — so no downstream consumer
    can ever double-count a stale ref after transforming the dict.
    Mutates and returns ``snap``."""
    names = snap.pop("manifests", None)
    snap.pop("manifest_summaries", None)
    if names:
        full: list[dict] = []
        for name in names:
            full.extend(_load_manifest(table, name))
        full.extend(snap.get("shards", []))
        snap["shards"] = full
    return snap


def _segment_summary(entries: list[dict]) -> dict:
    """Segment-level pruning summary rolled up from its shard entries
    (the Iceberg manifest-list partition summary): ``stats`` holds
    [min, max] per column bounded in EVERY entry; ``partition`` the
    sorted recorded-value set per key stamped on EVERY entry. A column
    or key any entry lacks is OMITTED — pruning must be provable, same
    triage contract as :func:`_stats_overlap`/:func:`_partition_match`."""
    summ: dict = {}
    stats: dict = {}
    for c in set.intersection(*[set(e.get("stats", {})) for e in entries]):
        bs = [e["stats"][c] for e in entries]
        if any(b is None or b[0] is None or b[1] is None for b in bs):
            continue
        try:
            stats[c] = [min(b[0] for b in bs), max(b[1] for b in bs)]
        except TypeError:
            continue  # mixed types: no provable bound
    if stats:
        summ["stats"] = stats
    parts: dict = {}
    for k in set.intersection(
        *[set(e.get("partition", {})) for e in entries]
    ):
        vals = {e["partition"][k] for e in entries}
        parts[k] = sorted(vals, key=lambda v: (v is None, str(v)))
    if parts:
        summ["partition"] = parts
    # bloom union: cols filtered in EVERY entry under one (m, k) shape
    # OR together (a union bloom still has no false negatives); omitted
    # when the union saturates past 80% — no pruning power, dead bytes
    blooms: dict = {}
    for c in set.intersection(*[set(e.get("bloom", {})) for e in entries]):
        bs = [e["bloom"][c] for e in entries]
        m, k = bs[0]["m"], bs[0]["k"]
        if any(b["m"] != m or b["k"] != k for b in bs):
            continue
        bits = sorted(set().union(*[b["bits"] for b in bs]))
        if len(bits) < 0.8 * m * k:
            blooms[c] = {"m": m, "k": k, "bits": bits}
    if blooms:
        summ["bloom"] = blooms
    return summ


def _segment_excluded(
    summ: dict, prune: tuple | None, probes: dict | None,
    bloom_point: tuple | None = None,
) -> bool:
    """Can the whole segment be skipped without opening it? True only
    when its summary PROVABLY excludes the scan's predicates."""
    if prune is not None:
        col, lo, hi = prune
        b = summ.get("stats", {}).get(col)
        if b is not None:
            try:
                if (lo is not None and b[1] < lo) or (
                    hi is not None and b[0] > hi
                ):
                    return True
            except TypeError:
                pass
    for key, wanted in (probes or {}).items():
        vals = summ.get("partition", {}).get(key)
        if vals is not None and not (set(vals) & set(wanted)):
            return True
    if bloom_point is not None:
        col, value = bloom_point
        b = summ.get("bloom", {}).get(col)
        if b is not None:
            bits = set(b["bits"])
            if not all(
                p in bits for p in _bloom_bits_for(value, b["m"], b["k"])
            ):
                return True  # union bloom: still no false negatives
    return False


def _load_snapshot_scan(
    table: str, version: int, branch: str | None = None,
    prune: tuple | None = None, partition_filter: dict | None = None,
    bloom_point: tuple | None = None,
) -> dict:
    """:func:`_load_snapshot` for the SCAN path: segments whose rolled
    summary provably excludes the scan's ``prune`` bounds or partition
    probes are never opened — driver metadata cost O(matching segments
    + inline tail), not O(live files); the Iceberg manifest-list skip.
    Falls back to full resolution for summary-less segments (pre-
    feature rolls). Per-shard pruning still applies downstream; this
    tier only removes whole segments."""
    snap = _raw_snapshot(table, version, branch)
    required = snap.get("reader_version", 1)
    if required > _READER_VERSION:
        raise ValueError(
            f"snapshot_table: version {version} of {table} requires "
            f"reader protocol {required}; this reader supports up to "
            f"{_READER_VERSION} — upgrade before reading (refusing "
            f"loudly beats silently misreading a newer feature)"
        )
    probes = None
    if partition_filter:
        pb = snap.get("partition_by", [])
        probes = {
            k: _transform_probes(pb, k, w)
            for k, w in partition_filter.items()
        }
    names = snap.pop("manifests", None)
    summs = snap.pop("manifest_summaries", None) or {}
    if names:
        full: list[dict] = []
        for name in names:
            s = summs.get(name)
            if s is not None and _segment_excluded(
                s, prune, probes, bloom_point
            ):
                continue
            full.extend(_load_manifest(table, name))
        full.extend(snap.get("shards", []))
        snap["shards"] = full
    return snap


def _raw_snapshot(table: str, version: int, branch: str | None = None) -> dict:
    """One snapshot as WRITTEN (manifest refs intact, no resolution, no
    reader-version gate) — the commit path's carry-over source and the
    GC's segment-liveness source."""
    with open(_snap_path(table, version, branch)) as f:
        return json.load(f)


def _version_change_counts(table: str, v: int) -> tuple[int, int, int]:
    """(files added, files removed, DV-covered files) of version ``v``
    vs its parent, computed from RAW snapshots + only the segments that
    CHANGED between them — O(changed metadata), never a full manifest
    resolution. Shared segment names contribute zero adds/removes by
    the carry-over invariant (a carried segment's entries are
    dict-identical in both versions), so they are excluded unopened.
    This is the stream sources' admission-control counter: a paced
    latestOffset on a 10^6-file table must not pay O(live files) of
    ``json.loads`` per version per trigger. Shape guards (DML refusal,
    rename crossings) stay with the planning walk — a mis-counted
    budget here at worst mis-sizes the batch that then fails loudly
    there."""
    b = _raw_snapshot(table, v)
    if b.get("operation") == "rewrite_manifests":
        # manifest compaction: the file set is IDENTICAL by
        # construction (one new segment holding the whole table vs all
        # old segments), but the segment-name diff below would open
        # O(live files) of segment JSON just to compute 0/0/0 —
        # exactly the cost this function exists to avoid on a paced
        # stream trigger crossing a compaction
        return (0, 0, 0)
    try:
        a = _raw_snapshot(table, v - 1) if v > 1 else {}
    except FileNotFoundError:
        a = {}
    if (
        b.get("operation") == "append"
        and b.get("properties", {}).get("auto_rewrote_manifests")
        and isinstance(a.get("n_shards"), int)
        and isinstance(b.get("n_shards"), int)
    ):
        # an AUTO-COMPACTING append replaces every segment name, so
        # the name diff below would parse the whole old segment list
        # plus the merged one — O(2x live files) inside a paced
        # trigger. A pure append removes nothing and covers nothing,
        # so its add count is exactly the recorded shard-count delta.
        return (max(b["n_shards"] - a["n_shards"], 0), 0, 0)
    segs_a = set(a.get("manifests", []))
    segs_b = set(b.get("manifests", []))
    new_files = {s["file"] for s in b.get("shards", [])}
    for n in segs_b - segs_a:
        new_files |= {e["file"] for e in _load_manifest(table, n)}
    old_files = {s["file"] for s in a.get("shards", [])}
    for n in segs_a - segs_b:
        old_files |= {e["file"] for e in _load_manifest(table, n)}
    old_dels = a.get("deletes", [])
    extra = b.get("deletes", [])[len(old_dels):]
    covered = sum(len(d.get("shards", [])) for d in extra)
    return (
        len(new_files - old_files), len(old_files - new_files), covered,
    )


def _raw_history(table: str, branch: str | None = None) -> list[dict]:
    """All snapshots as WRITTEN, oldest first (expired versions
    skipped) — the walk for metadata-only consumers (commit stamps,
    properties, streaming idempotence marks) that must not pay manifest
    resolution per version."""
    last = latest_version(table, branch)
    out: list[dict] = []
    for v in range(1, (last or 0) + 1):
        try:
            out.append(_raw_snapshot(table, v, branch))
        except FileNotFoundError:
            continue
    return out


def _log_dir(table: str, branch: str | None = None) -> str:
    """The snapshot-log directory for the main chain (``branch=None``)
    or a named branch (``_refs/<name>/``). Branch logs use the SAME
    snapshot format and commit protocol as the main chain but their own
    numbering, and their shards reference the shared ``data/`` dir —
    the Iceberg refs model: a branch is an independent head over the
    same file store, invisible to main readers until published."""
    if branch is None:
        return os.path.join(table, _SNAP_DIR)
    return os.path.join(table, _REFS_DIR, branch)


def _snap_path(table: str, version: int, branch: str | None = None) -> str:
    return os.path.join(_log_dir(table, branch), _FMT % version)


def latest_version(table: str, branch: str | None = None) -> int | None:
    """Highest committed version, or None for an empty/absent table
    (with ``branch=``: the branch's head sequence number, or None for
    an absent branch)."""
    snaps = glob.glob(os.path.join(_log_dir(table, branch), "*.json"))
    if not snaps:
        return None
    return max(int(os.path.basename(p).split(".")[0]) for p in snaps)


def _load_snapshot(table: str, version: int, branch: str | None = None) -> dict:
    with open(_snap_path(table, version, branch)) as f:
        snap = json.load(f)
    required = snap.get("reader_version", 1)
    if required > _READER_VERSION:
        raise ValueError(
            f"snapshot_table: version {version} of {table} requires "
            f"reader protocol {required}; this reader supports up to "
            f"{_READER_VERSION} — upgrade before reading (refusing "
            f"loudly beats silently misreading a newer feature)"
        )
    return _resolve_manifests(table, snap)


def snapshot_history(table: str, branch: str | None = None) -> list[dict]:
    """All committed snapshots, oldest first (the table's audit log).
    With ``branch=``, the branch's own log (fork first)."""
    last = latest_version(table, branch)
    if last is None:
        return []
    out = []
    for v in range(1, last + 1):
        try:
            out.append(_load_snapshot(table, v, branch))
        except FileNotFoundError:  # expired by expire_snapshots
            continue
    return out


def table_stats(table: str, version: int | None = None) -> dict:
    """Metadata-only aggregates from the snapshot log — ZERO data files
    opened (Delta's metadata-query optimisation / Iceberg manifest
    stats). Returns ``{"version", "n_rows", "n_shards", "min": {col:
    v}, "max": {col: v}}``: exact row/shard counts, and a global
    [min, max] for every column ALL live shards recorded stats for
    (``write_snapshot(stats_cols=...)`` — a shard without stats could
    hide the true extremum, so its columns are omitted, never
    guessed). At 100 TB this answers ``COUNT(*)`` / ``MIN`` / ``MAX``
    in O(metadata) where a scan pays O(table). Pending lazy-delete
    tombstones make the metadata counts stale UPPER bounds, so they
    raise loudly (compact first, or scan via :func:`read_snapshot`).
    Temporal stats columns report their RECORDED epoch-int form
    (micros for timestamp, days for date — see
    :data:`_STATS_COL_TYPES`)."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_table: {table} has no snapshots")
    snap = _load_snapshot(table, v)
    if snap.get("deletes"):
        raise ValueError(
            "snapshot_table: metadata stats with pending lazy deletes "
            "would overcount; run compact_table first or scan"
        )
    shards = snap["shards"]
    mins: dict = {}
    maxs: dict = {}
    if shards:
        common = set.intersection(
            *[set(s.get("stats", {})) for s in shards]
        )
        for c in sorted(common):
            bounds = [s["stats"][c] for s in shards]
            if any(b[0] is None or b[1] is None for b in bounds):
                continue  # an all-NULL shard: no honest extremum
            mins[c] = min(b[0] for b in bounds)
            maxs[c] = max(b[1] for b in bounds)
    return {
        "version": v,
        "n_rows": snap["n_rows"],
        "n_shards": snap["n_shards"],
        "min": mins,
        "max": maxs,
    }


def show_partitions(table: str, version: int | None = None) -> list[dict]:
    """Metadata-only partition listing (Hive/Spark ``SHOW PARTITIONS``,
    Delta partition listing): one entry per distinct recorded partition
    tuple with exact ``n_rows``/``n_shards`` aggregated from the
    snapshot log — zero data files opened. Shards without recorded
    values (pre-partitioning or streaming-sink appends) aggregate under
    a ``None`` tuple so their presence is visible, not hidden (they are
    what blocks :func:`drop_partition` until
    :func:`compact_partitions` stamps them). Pending lazy deletes make
    the counts stale upper bounds and raise, same contract as
    :func:`table_stats`. Sorted by tuple for stable output."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_table: {table} has no snapshots")
    snap = _load_snapshot(table, v)
    if snap.get("deletes"):
        raise ValueError(
            "snapshot_table: partition listing with pending lazy deletes "
            "would overcount; run compact_table first or scan"
        )
    pb = snap.get("partition_by", [])
    agg: dict[tuple, dict] = {}
    for s in snap["shards"]:
        rec = s.get("partition", {})
        # a shard missing ANY current-spec field is unstamped for this
        # spec (pre-partitioning, streaming append, or an older spec) —
        # listed under None, NOT conflated with a recorded NULL value
        key = (
            tuple(rec[f] for f in pb)
            if pb and all(f in rec for f in pb) else None
        )
        e = agg.setdefault(key, {"n_rows": 0, "n_shards": 0})
        e["n_rows"] += s["n_rows"]
        e["n_shards"] += 1
    out = []
    for key in sorted(
        agg, key=lambda k: (k is None, tuple(x or "" for x in (k or ())))
    ):
        out.append(
            {
                "partition": (
                    None if key is None else dict(zip(pb, key))
                ),
                **agg[key],
            }
        )
    return out


def read_metadata_table(
    spark: SparkSession, table: str, kind: str,
    version: int | None = None,
) -> DataFrame:
    """Iceberg-style INSPECTION TABLES: the snapshot log itself as a
    DataFrame, zero data files opened. ``kind``:

    - ``"history"`` — one row per surviving snapshot: version, parent,
      operation, committed_at, n_rows, n_shards.
    - ``"files"`` — one row per LIVE shard of the pinned version:
      file, n_rows, partition values (map<string,string>), and per-
      column recorded [min, max] stats (map<string,array<string>> in
      portable string form — inspection weight, not typed query
      weight).
    - ``"partitions"`` — :func:`show_partitions` as rows: partition
      map (NULL for unstamped shards), n_rows, n_shards.
    - ``"refs"`` — one row per live tag (name, pinned main ``version``)
      or branch (name, ``head_seq``, ``base_version``), Iceberg
      ``.refs`` parity via the same race-tolerant walk GC uses.
    - ``"manifests"`` — one row per manifest segment the pinned version
      references (Iceberg ``.manifests`` parity): name, entry count,
      row count, and the rolled partition/stats summary (portable
      string form) the scan-path pruner skips by. The inline tail
      lists as one NULL-named row so the rows always account for every
      live shard.

    The 100 TB operational surface: auditing layout, stats coverage,
    partition balance, and commit cadence is a metadata scan, never a
    data scan. ``version=`` pins files/partitions/manifests like
    :func:`read_snapshot`; history and refs always list everything
    live (``version=`` with them is rejected, not ignored)."""
    if kind not in ("history", "files", "partitions", "refs", "manifests"):
        raise ValueError(
            f"snapshot_table: unknown metadata table {kind!r} "
            f"(history | files | partitions | refs | manifests)"
        )
    if kind == "manifests":
        vm = latest_version(table) if version is None else version
        if vm is None:
            raise FileNotFoundError(
                f"snapshot_table: {table} has no snapshots"
            )
        raw = _raw_snapshot(table, vm)
        summs = raw.get("manifest_summaries", {})
        rows = []
        for name in raw.get("manifests", []):
            entries = _load_manifest(table, name)
            s = summs.get(name, {})
            rows.append(
                {
                    "manifest": name,
                    "n_files": len(entries),
                    "n_rows": sum(e.get("n_rows", 0) for e in entries),
                    "partition_summary": {
                        k: [_pstr(x) for x in v]
                        for k, v in s.get("partition", {}).items()
                    } or None,
                    "stats_summary": {
                        c: [_pstr(b[0]), _pstr(b[1])]
                        for c, b in s.get("stats", {}).items()
                    } or None,
                }
            )
        inline = raw.get("shards", [])
        if inline:
            rows.append(
                {
                    "manifest": None,
                    "n_files": len(inline),
                    "n_rows": sum(e.get("n_rows", 0) for e in inline),
                    "partition_summary": None,
                    "stats_summary": None,
                }
            )
        return spark.createDataFrame(
            rows,
            "manifest string, n_files bigint, n_rows bigint, "
            "partition_summary map<string,array<string>>, "
            "stats_summary map<string,array<string>>",
        )
    if kind == "refs":
        # Iceberg .refs parity: one row per tag/branch. Tags expose the
        # pinned main version; branches expose their head sequence and
        # fork base. Metadata-only, like every other inspection table.
        if version is not None:
            raise ValueError(
                "snapshot_table: refs lists every live ref; "
                "version= is not applicable"
            )
        rows = [
            {
                "name": r["name"],
                "type": r["type"],
                "version": r.get("version"),
                "head_seq": r.get("head_seq"),
                "base_version": r.get("base_version"),
            }
            for r in list_refs(table)
        ]
        return spark.createDataFrame(
            rows,
            "name string, type string, version bigint, "
            "head_seq bigint, base_version bigint",
        )
    if kind == "history":
        if version is not None:
            raise ValueError(
                "snapshot_table: history lists every surviving snapshot; "
                "version= is not applicable"
            )
        rows = [
            {
                "version": s["version"],
                "parent": s.get("parent"),
                "operation": s["operation"],
                "committed_at": float(s["committed_at"])
                if s.get("committed_at") is not None else None,
                "n_rows": s["n_rows"],
                "n_shards": s["n_shards"],
            }
            for s in snapshot_history(table)
        ]
        return spark.createDataFrame(
            rows,
            "version bigint, parent bigint, operation string, "
            "committed_at double, n_rows bigint, n_shards bigint",
        )
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_table: {table} has no snapshots")
    if kind == "files":
        snap = _load_snapshot(table, v)
        rows = [
            {
                "file": s["file"],
                "n_rows": s["n_rows"],
                "partition": s.get("partition"),
                "stats": {
                    c: [_pstr(b[0]), _pstr(b[1])]
                    for c, b in s.get("stats", {}).items()
                } or None,
            }
            for s in snap["shards"]
        ]
        return spark.createDataFrame(
            rows,
            "file string, n_rows bigint, "
            "partition map<string,string>, "
            "stats map<string,array<string>>",
        )
    rows = [
        {
            "partition": p["partition"],
            "n_rows": p["n_rows"],
            "n_shards": p["n_shards"],
        }
        for p in show_partitions(table, version=v)
    ]
    return spark.createDataFrame(
        rows,
        "partition map<string,string>, n_rows bigint, n_shards bigint",
    )


def set_partition_spec(table: str, partition_by: list[str]) -> int:
    """Partition SPEC EVOLUTION as a metadata-only commit (Iceberg
    ``update_spec``): future writes split under the new spec while
    existing shards keep whatever values they recorded — no data
    rewrite. Safe by the engine's conservative triage: a filter on a
    NEW field keeps old shards (no recorded value → scanned); a filter
    keyed on a field DROPPED from the spec raises loudly (probe keys
    must be current-spec members — old shards' recorded values for it
    are never consulted once the field leaves the spec); and
    :func:`drop_partition` refuses while mixed-spec shards exist
    (:func:`compact_partitions` re-stamps them under the live spec —
    the migration path). Sources are validated against the CURRENT
    schema; ``[]`` un-partitions future writes. Returns the version."""
    parsed = [_parse_partition_spec(s) for s in partition_by]
    pb = [f["spec"] for f in parsed]

    def apply(snap: dict) -> dict:
        schema = StructType.fromJson(snap["schema"])
        names = {f.name: f.dataType.simpleString() for f in schema.fields}
        for f in parsed:
            if f["source"] not in names:
                raise ValueError(
                    f"snapshot_table: partition source "
                    f"{f['source']!r} not in table schema"
                )
            if names[f["source"]] not in f["types"]:
                raise ValueError(
                    f"snapshot_table: partition field {f['spec']!r} "
                    f"supports {'/'.join(f['types'])} source columns "
                    f"only; {f['source']!r} is {names[f['source']]}"
                )
        return {
            "operation": "set_partition_spec",
            "properties": {
                "partition_by": pb,
                "previous": snap.get("partition_by", []),
            },
            "schema": snap["schema"],
            "shards": snap["shards"],
            "partition_by": pb,
        }

    return _commit(table, None, apply)


def version_as_of(table: str, ts: float) -> int:
    """Resolve ``AS OF timestamp`` to a version: the LAST snapshot
    committed at or before ``ts`` (Delta ``timestampAsOf`` / Iceberg
    ``as-of-timestamp`` semantics). Commit stamps are strictly
    monotonic per table (see :func:`_claim_snapshot`), so the newest
    qualifying version is unambiguous. Raises if ``ts`` predates the
    table, or if every qualifying snapshot has been expired (history
    retention bounds how far back AS OF can reach — same contract as
    the public formats)."""
    best = None
    unstamped = []
    for snap in _raw_history(table):  # stamps only: no resolution
        at = snap.get("committed_at")
        if at is None:
            unstamped.append(snap["version"])
        elif at <= ts:
            best = snap["version"]
    if best is None:
        if unstamped:
            # a table whose early commits predate commit stamping can
            # never be timestamp-resolved to those versions — name the
            # real cause instead of misdiagnosing it as retention
            raise ValueError(
                f"snapshot_table: versions {unstamped} of {table} carry "
                f"no committed_at stamp (written before timestamp "
                f"support); use version= to time-travel to them"
            )
        raise FileNotFoundError(
            f"snapshot_table: {table} has no snapshot committed at or "
            f"before ts={ts!r} (predates the table, or expired)"
        )
    return best


def _version_before_timestamp(table: str, ts: float, what: str) -> int:
    """Resolve an EXCLUSIVE-start timestamp (Delta CDF
    ``startingTimestamp`` semantics): returns the version BEFORE the
    first commit stamped at or after ``ts``, so a ``(start, end]``
    range walk delivers every commit stamped >= ts. Shared by the
    streaming sources' ``start_timestamp`` option and the batch
    incremental reads. A timestamp before the table's first commit
    means everything (returns 0); after the head means nothing yet
    (returns the head). Strictly monotonic stamps make resolution
    exact; an UNSTAMPED history prefix abutting the resolution
    boundary refuses loudly — its commit times are only bounded by the
    NEXT stamp, so with ts strictly below that stamp they could fall
    on either side of ts (a younger sub-threshold stamp, or an exact
    boundary stamp, proves the prefix older and resolution proceeds).
    """
    unstamped = []
    for snap in _raw_history(table):  # stamps only, oldest first
        at = snap.get("committed_at")
        if at is None:
            unstamped.append(snap["version"])
        elif at < ts:
            # provably older than ts — and so is every unstamped
            # version before this stamp (strict monotonicity)
            unstamped = []
        else:
            if unstamped and at > ts:
                break  # ambiguous prefix: fall through to the refusal
            return snap["version"] - 1
    if unstamped:
        raise ValueError(
            f"{what}: versions {unstamped} of {table} carry no "
            f"committed_at stamp (written before timestamp support) "
            f"and no younger stamp proves them older than the "
            f"requested timestamp; use a version to position exactly"
        )
    lv = latest_version(table)
    return lv if lv is not None else 0


def _merge_schema(old: StructType, new: StructType) -> StructType:
    """Union-by-name evolution: new nullable columns widen the schema;
    same-name columns must keep their type (reject, don't coerce)."""
    by_name = {f.name: f for f in old.fields}
    merged = list(old.fields)
    for f in new.fields:
        prior = by_name.get(f.name)
        if prior is None:
            merged.append(f)
        elif prior.dataType != f.dataType:
            raise ValueError(
                f"snapshot_table: column {f.name!r} type change "
                f"{prior.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not supported"
            )
    return StructType(merged)


def _encode_manifests(
    table: str, snapshot: dict, branch: str | None = None,
) -> dict:
    """Segment a large shard list into manifest files (see the module
    section above). Returns the dict to persist — either ``snapshot``
    itself (small tables stay classic-form, byte-compatible with old
    readers) or a COPY whose ``shards`` holds only the inline tail and
    whose ``manifests`` names the carried/new segments.

    Carry-over rule: a parent segment is reused by name iff EVERY entry
    in it appears dict-identical in the new shard list — so appends
    carry all segments, a removal or restamp (schema evolution) breaks
    exactly the segments holding touched files, and correctness never
    depends on knowing WHICH operation ran. The identity check is by
    file name + dict equality (O(live shards) in-memory compares, no
    serialisation). A branch FORK (parent None, ``base_version`` set)
    carries from its main-chain base so branching a huge table costs
    O(segment names), not a full metadata rewrite.

    Auto-maintenance: when the carry-over source already holds
    :data:`_MANIFEST_AUTO_REWRITE` or more segments, THIS commit
    compacts — it carries nothing and rolls the full shard list into
    one fresh segment (``rewrite_manifests`` semantics amortized into
    a regular commit: no extra commit, no maintenance daemon), and
    stamps ``properties.auto_rewrote_manifests`` with the old segment
    count. Segment count is thereby bounded at the threshold
    regardless of table age; the compacting commit pays O(live files)
    metadata once per ~threshold commits (amortized ~inline_max bytes
    of segment JSON per file added). Set the module knob to ``None``
    to disable and run :func:`rewrite_manifests` on an operator
    cadence instead."""
    force = snapshot.pop("_rewrite_manifests", False)
    shards = snapshot.get("shards")
    if not isinstance(shards, list) or (
        len(shards) <= _MANIFEST_INLINE_MAX and not force
    ):
        return snapshot
    by_file: dict[str, dict] = {}
    for s in shards:
        f = s.get("file") if isinstance(s, dict) else None
        if f is None or f in by_file:
            return snapshot  # not a shard list this encoder understands
        by_file[f] = s
    carried: list[str] = []
    covered: set[str] = set()
    summaries: dict = {}
    auto_compacted = 0
    if not force:
        src = None
        parent = snapshot.get("parent")
        try:
            if parent is not None:
                src = _raw_snapshot(table, parent, branch)
            elif branch is not None and snapshot.get("base_version"):
                src = _raw_snapshot(table, snapshot["base_version"])
        except FileNotFoundError:
            src = None  # expired/absent parent: roll everything fresh
        n_src_segs = len((src or {}).get("manifests", []))
        if (
            _MANIFEST_AUTO_REWRITE is not None
            and n_src_segs >= _MANIFEST_AUTO_REWRITE
        ):
            auto_compacted = n_src_segs
            src = None  # carry nothing: everything rolls into one
        parent_summs = (src or {}).get("manifest_summaries", {})
        for name in (src or {}).get("manifests", []):
            try:
                entries = _load_manifest(table, name)
            except FileNotFoundError:
                continue  # segment GC'd from under an expired parent
            if entries and all(
                isinstance(e, dict)
                and e.get("file") not in covered
                and by_file.get(e.get("file")) == e
                for e in entries
            ):
                carried.append(name)
                covered.update(e["file"] for e in entries)
                if name in parent_summs:  # summary travels with the ref
                    summaries[name] = parent_summs[name]
    inline = [s for s in shards if s["file"] not in covered]
    if len(inline) > _MANIFEST_INLINE_MAX or ((force or auto_compacted) and inline):
        name = f"m-{uuid.uuid4().hex}.json"
        os.makedirs(os.path.join(table, _MAN_DIR), exist_ok=True)
        tmp = _manifest_path(table, f".{name}.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(inline, f, sort_keys=True)
        os.replace(tmp, _manifest_path(table, name))
        carried.append(name)
        summ = _segment_summary(inline)
        if summ:
            summaries[name] = summ
        inline = []
    if not carried:
        return snapshot
    out = dict(snapshot)
    out["manifests"] = carried
    out["shards"] = inline
    if summaries:
        out["manifest_summaries"] = summaries
    if auto_compacted:
        out["properties"] = {
            **out.get("properties", {}),
            "auto_rewrote_manifests": auto_compacted,
        }
    out["reader_version"] = max(out.get("reader_version", 1), 3)
    return out


def _claim_snapshot(
    table: str, tmp_dir: str, snapshot: dict, branch: str | None = None,
) -> bool:
    """The claim inside step 3 of the commit protocol: write the
    snapshot to a private temp file and claim its version number with a
    hard-link create (put-if-absent). True = committed; False = a
    concurrent writer won this version. Every snapshot writer reaches
    it through :func:`_commit`, whose loop re-derives from the new base
    and tries the next number; only :func:`create_branch` (one claim
    that must not retry) and :func:`_ledger_append` (not a snapshot
    log) call it directly. (Object-store variant: put-if-absent on the
    snapshot key replaces the link; see module docstring.)

    Every commit is stamped here (single choke point) with a
    ``committed_at`` epoch-seconds float made STRICTLY MONOTONIC within
    the table: wall clocks step backwards (NTP) and tick coarsely, and
    ``AS OF timestamp`` resolution (:func:`version_as_of`) is only
    well-defined if version order and time order agree — so the stamp
    is max(now, parent's stamp + 1µs), the same discipline the public
    table formats apply to their commit timestamps."""
    now = time.time()
    parent = snapshot.get("parent")
    if parent is not None:
        try:  # stamp only: raw read, no manifest resolution
            prev = _raw_snapshot(table, parent, branch).get("committed_at")
            if prev is not None and now <= prev:
                now = prev + 1e-6
        except FileNotFoundError:  # parent expired — clock wins
            pass
    snapshot["committed_at"] = now
    # stamp the reader protocol this snapshot's features require: 2 as
    # soon as any shard carries a column mapping, else 1 — computed at
    # the single commit choke point so no writer can forget it
    if any(s.get("names") is not None for s in snapshot.get("shards", [])):
        snapshot["reader_version"] = 2
    # manifest segmentation happens HERE, at the same choke point, into
    # a COPY: callers keep the classic full-shard-list dict they built
    # (several return or re-inspect it after a successful claim)
    to_write = _encode_manifests(table, snapshot, branch)
    tmp_snap = os.path.join(tmp_dir, "snapshot.json")
    os.makedirs(tmp_dir, exist_ok=True)
    os.makedirs(_log_dir(table, branch), exist_ok=True)
    with open(tmp_snap, "w") as f:
        json.dump(to_write, f, indent=1, sort_keys=True)
    try:
        os.link(tmp_snap, _snap_path(table, snapshot["version"], branch))
        return True
    except FileExistsError:
        os.remove(tmp_snap)
        return False


def _commit(
    table: str, branch: str | None, apply,
    published: list[str] = (), create: bool = False,
) -> int | None:
    """Step 3 of the commit protocol: the ONE optimistic retry loop
    every snapshot writer commits through (Iceberg
    ``PendingUpdate.apply`` + ``SnapshotProducer.commit`` shaped).

    Each attempt reads the head of ``branch`` (main when None) and calls
    ``apply(base)`` with its resolved snapshot. ``apply`` re-runs the
    writer's own conflict checks (raising aborts the commit) and returns
    the writer's part of the next snapshot — ``operation``,
    ``properties``, ``schema``, ``shards`` and any writer-specific keys
    — or None when there is nothing to commit. This function stamps the
    rest: ``version``/``parent``, ``branch``, ``n_shards``/``n_rows``,
    the shard sort, and each of ``deletes``/``constraints``/
    ``partition_by`` that apply left out, copied from the base. An
    empty value means "none" and is left out of the log, which is how
    overwrite and rollback clear them. A lost claim re-reads the head
    and calls ``apply`` again.

    An empty log raises: on a branch it means the branch was dropped
    while the writer staged; on main, only ``create`` writers accept it
    (``base`` is then None). ``published`` is the job's running list of
    names moved into ``data/`` (shards and deletion-vector parts, staged
    before the call or inside ``apply``): every one the claimed snapshot
    does not reference (a superseded attempt, a raised conflict, a
    no-op) is removed on the way out instead of waiting for
    :func:`vacuum`. Returns the claimed version, or the unchanged head
    version when ``apply`` returned None."""
    tmp_dir = os.path.join(table, "_tmp", uuid.uuid4().hex)
    claimed: dict = {}
    try:
        while True:
            current = latest_version(table, branch)
            if current is None and (branch is not None or not create):
                raise FileNotFoundError(
                    f"snapshot_table: no branch {branch!r} on {table} "
                    f"(never created, or dropped while this write was "
                    f"staging); create_branch() first"
                    if branch is not None
                    else f"snapshot_table: {table} has no snapshots"
                )
            base = (
                None if current is None
                else _load_snapshot(table, current, branch)
            )
            snapshot = apply(base)
            if snapshot is None:
                return current
            for k in ("deletes", "constraints", "partition_by"):
                if k not in snapshot and base is not None:
                    snapshot[k] = base.get(k)
                if not snapshot.get(k):
                    snapshot.pop(k, None)
            shards = sorted(snapshot["shards"], key=lambda s: s["file"])
            snapshot.update(
                version=(current or 0) + 1,
                parent=current,
                n_shards=len(shards),
                n_rows=sum(s["n_rows"] for s in shards),
                shards=shards,
            )
            if branch is not None:
                snapshot["branch"] = branch
            if _claim_snapshot(table, tmp_dir, snapshot, branch):
                claimed = snapshot
                return snapshot["version"]
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        live = {s["file"] for s in claimed.get("shards", [])}
        for d in claimed.get("deletes", []):
            if "positions" in d:
                live.update(_dv_parts(d))
        for n in set(published) - live:
            try:
                os.remove(os.path.join(table, _DATA_DIR, n))
            except FileNotFoundError:
                pass


def _stats_overlap(shard: dict, col: str, lo, hi) -> bool:
    """Can this shard contain a row with ``col`` in [lo, hi]? The one
    triage rule every pruning path shares: missing or NULL-bounded
    stats are conservatively True (correctness never depends on stats,
    only skipping does). A ``None`` bound means unbounded on that
    side, and incomparable types (a probe whose type differs from the
    recorded stats) conservatively keep the shard — skipping must be
    PROVABLE."""
    b = shard.get("stats", {}).get(col)
    if b is None or b[0] is None or b[1] is None:
        return True
    try:
        if lo is not None and b[1] < lo:
            return False
        if hi is not None and b[0] > hi:
            return False
    except TypeError:
        return True
    return True


# per-shard min/max stats support these column types. Temporal columns
# are recorded in EPOCH-INTEGER form (micros for timestamp, days for
# date) because the snapshot log is JSON and the comparator is plain
# Python ordering: a datetime never round-trips JSON, an int always
# does, and min/max commute with the monotonic epoch conversion so the
# recorded bound is exact. Event-time is the single most common prune
# axis on a 100 TB events table — intra-day range scans must skip
# shards WITHOUT needing days(ts) partition granularity.
_STATS_COL_TYPES = (
    "int", "bigint", "smallint", "tinyint", "float", "double", "string",
    "date", "timestamp", "timestamp_ntz",
)


def _stats_input(dtype: str, col: str):
    """The aggregation input recorded as a stats bound for a column of
    ``dtype`` (simpleString): temporal columns record their epoch-int
    form (``unix_micros``/``unix_date`` — JVM-side, exact, no session
    timezone in play: Spark timestamps ARE UTC epoch micros
    internally), everything else records the raw value."""
    from pyspark.sql import functions as F

    if dtype == "timestamp":
        return F.unix_micros(F.col(col))
    if dtype == "timestamp_ntz":
        # NTZ is a zoneless wall clock; record micros-of-the-wall-clock
        # (the canonical Iceberg encoding) via pure COMPONENT math —
        # cast-to-date and HOUR/MINUTE/SECOND date_parts read the wall
        # fields directly. Deliberately NOT unix_micros(to_utc_timestamp
        # (ntz, "UTC")): that shape implicitly coerces NTZ -> TIMESTAMP
        # through the SESSION zone first, silently baking the writer's
        # timezone into the recorded bound (caught by the Tokyo-session
        # test). SECOND carries the fractional part (decimal), so x1e6
        # is exact micros.
        c = F.col(col)
        return (
            F.unix_date(c.cast("date")).cast("long")
            * F.lit(86_400_000_000)
            + F.date_part(F.lit("HOUR"), c).cast("long")
            * F.lit(3_600_000_000)
            + F.date_part(F.lit("MINUTE"), c).cast("long")
            * F.lit(60_000_000)
            + (F.date_part(F.lit("SECOND"), c) * F.lit(1_000_000)).cast(
                "long"
            )
        ).cast("long")
    if dtype == "date":
        return F.unix_date(F.col(col))
    return F.col(col)


def _session_tz():
    """The timezone Spark uses to interpret NAIVE timestamp values
    (``spark.sql.session.timeZone``, defaulting to the JVM/OS zone):
    recorded timestamp stats are absolute instants (epoch micros), so
    a naive probe must be localised exactly the way a collect()
    localised the values the user derived it from.

    Resolution order: zoneinfo region IDs, then Spark's fixed-offset
    forms ('+08:00', '-0530', 'GMT+8', 'UTC+08:00:30', 'Z', 'UT') as
    :class:`datetime.timezone` offsets. Returns ``None`` when the conf
    names a form neither path can resolve — callers MUST treat None as
    "cannot localise" and leave the probe unconverted, so the
    comparator's incomparable-types rule conservatively keeps every
    shard. Guessing the process-local zone here would be a correctness
    hazard, not conservative: pruning is trusted as a superset
    reducer, and a probe shifted by a wrong offset can move the prune
    interval off the shards that actually contain matching rows."""
    import datetime as _d
    import re as _re

    name = None
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            name = s.conf.get("spark.sql.session.timeZone", None)
    except Exception:
        pass
    if not name:
        # no session conf to read: Spark itself would fall back to the
        # JVM/OS zone, so the process-local zone IS the session zone
        return _d.datetime.now().astimezone().tzinfo
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:
        pass
    if name in ("Z", "UT", "UTC", "GMT"):
        return _d.timezone.utc
    m = _re.fullmatch(
        r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?",
        name,
    )
    if m:
        sign = -1 if m.group(1) == "-" else 1
        delta = _d.timedelta(
            hours=int(m.group(2)),
            minutes=int(m.group(3) or 0),
            seconds=int(m.group(4) or 0),
        )
        if delta <= _d.timedelta(hours=18):  # ZoneOffset's legal range
            return _d.timezone(sign * delta)
    return None


def _epoch_probe(dtype: str, value):
    """Normalize one prune/pushdown probe against a ``date`` /
    ``timestamp`` column to the RECORDED epoch-int stats form:

    - ``datetime``/``date`` objects convert exactly (tz-aware as-is;
      naive localised in the session timezone, matching how Spark
      interprets naive literals);
    - ISO-8601 strings parse first;
    - numbers follow the module's time conventions: epoch SECONDS for
      timestamp columns (the unit ``as_of``/``older_than``/
      ``start_timestamp`` already use), epoch DAYS for date columns.

    Anything unconvertible returns unchanged — the comparator's
    incomparable-types rule then conservatively keeps every shard, so
    a bad probe can never skip wrongly. Two loud exceptions where
    silence would be a SKIP hazard rather than a KEEP: a numeric
    timestamp probe of implausible magnitude (``table_stats`` reports
    bounds in epoch MICROS — feeding those back as "seconds" would
    scale every bound 1e6× high and silently skip every shard)
    raises; and an unresolvable session timezone leaves naive probes
    unconverted (see :func:`_session_tz`) instead of guessing."""
    import datetime as _d

    def _plausible_seconds(v):
        # epoch SECONDS ~1.7e9 today; 1e11 is already year ~5138.
        # Millis (~1.7e12) and micros (~1.7e15) — the forms a user
        # copies out of table_stats — both exceed it.
        if abs(v) > 100_000_000_000:
            raise ValueError(
                f"snapshot_table: numeric timestamp probes are epoch "
                f"SECONDS; {v!r} is implausibly large for seconds "
                f"(millis/micros fed back from table_stats?) — pass "
                f"seconds, a datetime, or an ISO-8601 string"
            )
        return v

    if value is None or isinstance(value, bool):
        return value
    if dtype == "timestamp_ntz":
        # wall-clock encoding: naive datetimes/ISO strings ARE the wall
        # clock; a tz-aware probe converts to its UTC wall clock first
        # (documented choice — NTZ columns order by wall clock)
        if isinstance(value, (int, float)):
            return int(round(_plausible_seconds(value) * 1_000_000))
        if isinstance(value, str):
            try:
                value = _d.datetime.fromisoformat(value)
            except ValueError:
                return value
        if isinstance(value, _d.date) and not isinstance(
            value, _d.datetime
        ):
            value = _d.datetime(value.year, value.month, value.day)
        if isinstance(value, _d.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(_d.timezone.utc).replace(
                    tzinfo=None
                )
            return (
                value - _d.datetime(1970, 1, 1)
            ) // _d.timedelta(microseconds=1)
        return value
    if dtype == "date":
        if isinstance(value, (int, float)):
            return int(value)
        if isinstance(value, str):
            try:
                value = _d.date.fromisoformat(value)
            except ValueError:
                return value
        if isinstance(value, _d.datetime):
            value = value.date()
        if isinstance(value, _d.date):
            return (value - _d.date(1970, 1, 1)).days
        return value
    if isinstance(value, (int, float)):
        return int(round(_plausible_seconds(value) * 1_000_000))
    if isinstance(value, str):
        try:
            value = _d.datetime.fromisoformat(value)
        except ValueError:
            return value
    if isinstance(value, _d.date) and not isinstance(value, _d.datetime):
        value = _d.datetime(value.year, value.month, value.day)
    if isinstance(value, _d.datetime):
        if value.tzinfo is None:
            tz = _session_tz()
            if tz is None:
                # unresolvable session zone: leave the probe naive so
                # the comparator's incomparable-types rule KEEPS every
                # shard — never localise with a guessed zone (a wrong
                # offset shifts the prune interval and can wrongly
                # SKIP shards holding matching rows)
                return value
            value = value.replace(tzinfo=tz)
        epoch = _d.datetime(1970, 1, 1, tzinfo=_d.timezone.utc)
        return (value - epoch) // _d.timedelta(microseconds=1)
    return value


def _normalize_prune(schema_json: dict, prune: tuple | None):
    """Map a caller's ``prune=(col, lo, hi)`` probe to the recorded
    stats form when ``col`` is temporal (see :func:`_epoch_probe`);
    non-temporal columns pass through untouched. Every prune entry
    point (batch read, DML triage, DSv2 pushdown) routes through this
    so datetime probes skip shards instead of hitting the comparator's
    conservative incomparable-types keep."""
    if prune is None:
        return None
    col, lo, hi = prune
    t = next(
        (
            f.get("type")
            for f in schema_json.get("fields", [])
            if f.get("name") == col
        ),
        None,
    )
    if t not in ("timestamp", "timestamp_ntz", "date"):
        return prune
    return (col, _epoch_probe(t, lo), _epoch_probe(t, hi))


# partition values are recorded in the snapshot log in their PORTABLE
# string form (what Spark's cast-to-string produces for the hive dir
# name), so type support mirrors bloom_cols: integral/string only —
# floats don't round-trip through strings and make terrible partition
# keys anyway
_PARTITION_TYPES = ("int", "bigint", "smallint", "tinyint", "string")


def _pstr(value) -> str | None:
    """Normalize a Python-side partition probe to the recorded string
    form (``None`` stays NULL — the hive default-partition case)."""
    return None if value is None else str(value)


def _probe_log(matching: dict) -> dict:
    """``{col: value_or_list}`` partition probes in the recorded string
    form — how every partition-scoped commit logs what it matched."""
    return {
        c: [_pstr(v) for v in w] if isinstance(w, (list, tuple, set))
        else _pstr(w)
        for c, w in matching.items()
    }


def _parse_partition_spec(spec: str) -> dict:
    """Parse one ``partition_by`` field into its transform (Iceberg
    partition-spec shaped). Supported forms and their portable
    Python/DuckDB-computable twins (``py`` maps a SOURCE value to the
    recorded partition string; NULL stays None everywhere):

    - ``"col"``              identity (integral/string)
    - ``"bucket(N, col)"``   ``portable_hash64(col) % N`` (integral/string)
    - ``"truncate(W, col)"`` string prefix of width W / integer floored
                             to a multiple of W
    - ``"days(col)"``        calendar date of a date/timestamp column
    - ``"years(col)"`` / ``"months(col)"`` / ``"hours(col)"``
                             the coarser/finer calendar tiers (the full
                             Iceberg transform set); hours requires a
                             time component (timestamp/timestamp_ntz)

    Returns ``{spec, source, kind, expr, py, types}`` where ``spec`` is
    the canonical string (the snapshot-log key), ``expr(df)`` builds the
    Spark STRING column staging partitions on, and ``types`` gates the
    source column's type. Transforms make the partitioning HIDDEN: a
    reader filters on the SOURCE column and the engine maps the probe
    through the transform — the user never addresses buckets or date
    dirs directly (the Iceberg improvement over raw hive layout)."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from ..functions.hashing import portable_hash64

    s = spec.strip()
    m = re.fullmatch(r"(\w+)", s)
    if m:
        col = m.group(1)
        return {
            "spec": col, "source": col, "kind": "identity",
            "types": _PARTITION_TYPES,
            "expr": lambda df: F.col(col).cast("string"),
            "py": _pstr,
        }
    m = re.fullmatch(r"bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)", s)
    if m:
        n, col = int(m.group(1)), m.group(2)
        if n <= 0:
            raise ValueError(
                f"snapshot_table: bucket width must be positive: {spec!r}"
            )

        def _bucket_py(v, n=n):
            if v is None:
                return None
            return str(
                int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % n
            )

        return {
            "spec": f"bucket({n}, {col})", "source": col, "kind": "bucket",
            "types": _PARTITION_TYPES,
            "expr": lambda df, n=n, col=col: (
                portable_hash64(F.col(col)) % n
            ).cast("string"),
            "py": _bucket_py,
        }
    m = re.fullmatch(r"truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)", s)
    if m:
        w, col = int(m.group(1)), m.group(2)
        if w <= 0:
            raise ValueError(
                f"snapshot_table: truncate width must be positive: {spec!r}"
            )

        def _trunc_expr(df, w=w, col=col):
            t = df.schema[col].dataType.simpleString()
            if t == "string":
                return F.substring(F.col(col), 1, w)
            # integer floor to a multiple of w; pmod keeps negatives on
            # the floor side (-3 -> -10 for w=10), matching Python %
            return (F.col(col) - F.pmod(F.col(col), F.lit(w))).cast(
                "string"
            )

        def _trunc_py(v, w=w):
            if v is None:
                return None
            if isinstance(v, str):
                return v[:w]
            return str(int(v) - (int(v) % w))

        return {
            "spec": f"truncate({w}, {col})", "source": col,
            "kind": "truncate", "types": _PARTITION_TYPES,
            "expr": _trunc_expr, "py": _trunc_py,
        }
    m = re.fullmatch(r"(years|months|hours)\(\s*(\w+)\s*\)", s)
    if m:
        kind, col = m.group(1), m.group(2)

        def _fold_aware(v):
            # same convention as days(): the JVM twin records wall
            # fields in the session timezone (UTC everywhere this
            # engine runs); a tz-aware probe normalizes to UTC first
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                return v.astimezone(datetime.timezone.utc)
            return v

        if kind == "years":

            def _py(v):
                if v is None:
                    return None
                if isinstance(v, str):
                    return str(int(v[:4]))  # de-pad to match F.year
                return str(_fold_aware(v).year)

            expr = lambda df, col=col: F.year(F.col(col)).cast("string")  # noqa: E731
            types: tuple = ("date", "timestamp", "timestamp_ntz")
        elif kind == "months":

            def _py(v):
                if v is None:
                    return None
                if isinstance(v, str):
                    return f"{int(v[:4])}-{v[5:7]}"
                v = _fold_aware(v)
                return f"{v.year}-{v.month:02d}"

            expr = lambda df, col=col: F.concat(  # noqa: E731
                F.year(F.col(col)).cast("string"),
                F.lit("-"),
                F.lpad(F.month(F.col(col)).cast("string"), 2, "0"),
            )
            types = ("date", "timestamp", "timestamp_ntz")
        else:  # hours

            def _py(v):
                if v is None:
                    return None
                if isinstance(v, str):
                    # the same date-only refusal as the datetime.date
                    # branch below, for the string form: '2024-03-01'
                    # would silently yield bucket '2024-03-01 ' (empty
                    # hour) that matches no recorded value and skips
                    # every shard
                    if len(v) < 13 or not v[11:13].isdigit():
                        raise ValueError(
                            "snapshot_table: hours(...) partition "
                            "probes need a time component — pass an "
                            "ISO timestamp string like "
                            "'2024-03-01 07:00', not a date-only "
                            "string"
                        )
                    return f"{v[:10]} {v[11:13]}"
                if isinstance(v, datetime.date) and not isinstance(
                    v, datetime.datetime
                ):
                    # months/years accept plain dates (their buckets
                    # are date-grained); an hours bucket is not
                    # derivable from a date — refuse loudly instead of
                    # the AttributeError v.hour would raise
                    raise ValueError(
                        "snapshot_table: hours(...) partition probes "
                        "need a time component — pass a datetime or "
                        "ISO timestamp string, not a plain date"
                    )
                v = _fold_aware(v)
                return f"{v.date().isoformat()} {v.hour:02d}"

            expr = lambda df, col=col: F.concat(  # noqa: E731
                F.col(col).cast("date").cast("string"),
                F.lit(" "),
                F.lpad(F.hour(F.col(col)).cast("string"), 2, "0"),
            )
            types = ("timestamp", "timestamp_ntz")
        # component extraction (year/month/hour/cast-to-date) reads
        # wall fields directly for date and timestamp_ntz, and
        # session-zone fields for timestamp — the exact convention
        # days() established; no date_format (whose timestamp path
        # would re-render through the session zone ambiguously for ntz)
        return {
            "spec": f"{kind}({col})", "source": col, "kind": kind,
            "types": types, "expr": expr, "py": _py,
        }
    m = re.fullmatch(r"days\(\s*(\w+)\s*\)", s)
    if m:
        col = m.group(1)

        def _days_py(v):
            if v is None:
                return None
            if isinstance(v, str):
                return v[:10]
            # the JVM twin records cast(ts AS date) in the session
            # timezone (UTC everywhere this engine runs); a tz-aware
            # probe must be normalized to the same wall clock or the
            # EXACT partition tier silently drops matching shards
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc)
            return v.isoformat()[:10]  # datetime.date / datetime.datetime

        return {
            "spec": f"days({col})", "source": col, "kind": "days",
            "types": ("date", "timestamp", "timestamp_ntz"),
            "expr": lambda df, col=col: F.col(col).cast("date").cast(
                "string"
            ),
            "py": _days_py,
        }
    raise ValueError(
        f"snapshot_table: unsupported partition transform {spec!r} "
        f"(supported: col, bucket(N, col), truncate(W, col), "
        f"years(col), months(col), days(col), hours(col))"
    )


def _transform_probes(pb: list[str], key: str, want) -> set:
    """Map SOURCE-value probe(s) for partition field ``key`` (which must
    be a member of the table's spec ``pb``) to their recorded string
    forms — the hidden-partitioning hop. Raises on an unknown key: a
    silently ignored filter would read correctly but scan everything,
    which is exactly the kind of quiet regression the spec exists to
    prevent."""
    if key not in pb:
        raise ValueError(
            f"snapshot_table: {key!r} is not a partition field "
            f"(spec: {pb})"
        )
    f = _parse_partition_spec(key)
    vals = want if isinstance(want, (list, tuple, set)) else (want,)
    return {f["py"](v) for v in vals}


def _partition_match(shard: dict, key: str, transformed) -> bool:
    """Can this shard contain a row whose partition field ``key``
    (canonical spec string) has recorded value in ``transformed`` (a
    set of already-transformed string forms — see
    :func:`_transform_probes`)? Same conservative triage contract as
    :func:`_stats_overlap`: a shard with NO recorded value for ``key``
    (written before the table was partitioned, or by a writer that
    didn't partition) is kept — skipping must be PROVABLE."""
    recorded = shard.get("partition", {})
    if key not in recorded:
        return True
    return recorded[key] in transformed


def _triage_shards(
    shards: list[dict], prune: tuple | None,
    partition_prune: dict | None, pb: list[str] | None = None,
) -> tuple[list[dict], list[dict]]:
    """(touched, carried) for a partial DML rewrite: a shard is CARRIED
    (zero read, zero write) when its recorded stats or partition values
    PROVABLY exclude the operation's key range / partitions; kept
    conservative otherwise (unrecorded values rewrite). Caller contract
    as documented on ``delete_where``: the bounds must be implied by
    the row condition. ``partition_prune`` holds SOURCE-value probes
    keyed by partition field; they are mapped through the field's
    transform against the table spec ``pb``."""
    touched, carried = [], []
    probes = {
        key: _transform_probes(pb or [], key, want)
        for key, want in (partition_prune or {}).items()
    }
    for s in shards:
        hit = True
        if prune is not None:
            col, lo, hi = prune
            hit = _stats_overlap(s, col, lo, hi)
        if hit:
            for key, tvals in probes.items():
                if not _partition_match(s, key, tvals):
                    hit = False
                    break
        (touched if hit else carried).append(s)
    return touched, carried


def _arrow_partition_split(t, fields: list[dict]) -> list[tuple]:
    """Executor-side twin of the hive-shadow staging split for the
    official Arrow writers: split table ``t`` into one sub-table per
    distinct partition tuple over the given IDENTITY fields (parsed
    specs — transforms are the JVM path's job). Distinct tuples come
    from a zero-aggregate ``group_by`` over the string-cast key columns
    — actual values, NO separator encoding, so a value containing any
    byte sequence can never shift or truncate across columns; NULL
    matches via ``is_null``. Returns ``[(sub_table, {spec: str|None})]``
    (``[(t, {})]`` when ``fields`` is empty)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not fields:
        return [(t, {})]
    keys = [
        pc.cast(t[f["source"]], pa.string()).combine_chunks()
        for f in fields
    ]
    key_tbl = pa.table({f"k{i}": k for i, k in enumerate(keys)})
    uniq = key_tbl.group_by(key_tbl.column_names).aggregate([])
    out = []
    for u in uniq.to_pylist():
        mask = None
        for i in range(len(keys)):
            v = u[f"k{i}"]
            m = (
                pc.is_null(keys[i]) if v is None
                else pc.fill_null(pc.equal(keys[i], v), False)
            )
            mask = m if mask is None else pc.and_(mask, m)
        vals = {f["spec"]: u[f"k{i}"] for i, f in enumerate(fields)}
        out.append((t.filter(mask), vals))
    return out


def table_partition_by(table: str, branch: str | None = None) -> list[str]:
    """The live table's partition columns ([] for an unpartitioned,
    new, or absent table). With ``branch=``, the branch head's spec."""
    current = latest_version(table, branch)
    if current is None:
        return []
    return list(
        _load_snapshot(table, current, branch).get("partition_by", [])
    )


def _enforce_constraints(df: DataFrame, constraints: dict) -> None:
    """CHECK-constraint enforcement (Delta invariants shaped): a row
    VIOLATES a constraint only when its condition evaluates to FALSE —
    NULL passes, standard SQL CHECK semantics. One limit(1) scan per
    constraint over the incoming batch; raises naming the constraint
    and a sample violating row. Runs BEFORE any data is staged, so a
    rejected commit leaves nothing to clean up."""
    from pyspark.sql import functions as F

    for name, cond in (constraints or {}).items():
        bad = df.where(
            ~F.coalesce(F.expr(cond).cast("boolean"), F.lit(True))
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"snapshot_table: CHECK constraint {name!r} ({cond}) "
                f"violated by row {bad[0].asDict()!r}"
            )


def _base_constraints(table: str, branch: str | None = None) -> dict:
    """The live table's constraints (empty for a new/absent table).
    With ``branch=``, the branch head's constraints (a fork copies the
    main snapshot verbatim, so branches inherit and keep enforcing the
    table's invariants — audit writes are not a constraint bypass)."""
    current = latest_version(table, branch)
    if current is None:
        return {}
    return _load_snapshot(table, current, branch).get("constraints", {})


def add_constraint(
    spark: SparkSession, table: str, name: str, condition: str,
) -> int:
    """ALTER TABLE ADD CONSTRAINT (Delta CHECK-constraint shaped):
    record ``condition`` in the snapshot log so every subsequent
    append/merge batch is validated against it at commit time (rows
    where it is FALSE are rejected loudly; NULL passes — SQL CHECK).
    Existing data must already satisfy it (one scan, same as Delta),
    so a reader can trust the invariant over the WHOLE table from this
    version on. NOT NULL is the special case ``col IS NOT NULL``.
    Commits a metadata-only snapshot (same shards as the parent —
    row-preserving by construction, so incremental/CDC readers skip
    it). Constraints persist through overwrite, compaction, and merge;
    :func:`rollback` restores DATA only and keeps the current
    constraints (rolled-back rows were validated at their own commit).
    """
    from pyspark.sql import functions as F

    current = latest_version(table)
    if current is None:
        raise FileNotFoundError(f"snapshot_table: {table} has no snapshots")
    snap = _load_snapshot(table, current)
    constraints = dict(snap.get("constraints", {}))
    if name in constraints:
        raise ValueError(
            f"snapshot_table: constraint {name!r} already exists "
            f"({constraints[name]})"
        )
    # parse-check against the schema first (a committed unparseable
    # condition would fail every subsequent write), then validate the
    # data that is already live
    schema = StructType.fromJson(snap["schema"])
    _ = spark.createDataFrame([], schema).where(
        F.coalesce(F.expr(condition).cast("boolean"), F.lit(True))
    ).schema
    _enforce_constraints(
        read_snapshot(spark, table, current), {name: condition}
    )
    constraints[name] = condition
    return _commit_metadata(table, constraints, {"constraint_added": name})


def drop_constraint(table: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing the
    named constraint (missing name raises — no silent no-op)."""
    current = latest_version(table)
    if current is None:
        raise FileNotFoundError(f"snapshot_table: {table} has no snapshots")
    snap = _load_snapshot(table, current)
    constraints = dict(snap.get("constraints", {}))
    if name not in constraints:
        raise ValueError(f"snapshot_table: no constraint named {name!r}")
    del constraints[name]
    return _commit_metadata(table, constraints, {"constraint_dropped": name})


def _commit_metadata(table: str, constraints: dict, props: dict) -> int:
    """Metadata-only commit: the parent's shards/schema/deletes verbatim
    under ``operation: 'metadata'`` with updated constraints. A lost
    race re-derives from the new base (shards may have changed; the
    metadata delta still applies on top)."""
    return _commit(
        table, None,
        lambda snap: {
            "operation": "metadata",
            "properties": dict(props),
            "schema": snap["schema"],
            "shards": snap["shards"],
            "constraints": constraints,
        },
    )


def _alter_columns(
    spark: SparkSession, table: str, operation: str, props: dict,
    make_schema, stamp_shard, alters: tuple = (),
) -> int:
    """Shared commit for the ALTER TABLE column ops
    (:func:`rename_column` / :func:`drop_column` / :func:`add_column`):
    a METADATA-ONLY snapshot carrying a new schema and (for rename/
    drop) per-shard column mappings — zero data files touched, the
    Iceberg field-mapping move. ``make_schema(old)`` returns the new
    logical schema (raising on invalid requests); ``stamp_shard(shard,
    old_schema)`` returns the shard entry to record (None = unchanged).
    Live CHECK constraints are re-analyzed against the new schema and
    block the commit if they reference an altered column (drop the
    constraint first — loud, never a broken table). Pending CONDITION
    tombstones block rename/drop for the same reason (their SQL text
    is written against current names); pending positional deletion
    vectors do NOT — (file, pos) coordinates are name-free and carry
    forward untouched."""
    from pyspark.sql import functions as F

    def apply(snap: dict) -> dict:
        # only CONDITION tombstones block rename/drop: their SQL text is
        # written against current column names, so the alter would
        # orphan them. POSITIONAL deletion vectors are name-free (file,
        # pos) coordinates — they compose with column mapping for free
        # and carry forward untouched.
        conditional = [
            d for d in snap.get("deletes", []) if "condition" in d
        ]
        if conditional and operation != "add_column":
            raise ValueError(
                f"snapshot_table: {operation} with pending lazy "
                f"deletes would orphan their conditions; run "
                f"compact_table first"
            )
        schema = StructType.fromJson(snap["schema"])
        psrc = {
            _parse_partition_spec(s)["source"]
            for s in snap.get("partition_by", [])
        }
        hit = [c for c in alters if c in psrc]
        if hit:
            # the spec and every shard's recorded values are keyed by
            # column NAME; renaming/dropping one would orphan them
            # (Delta/Iceberg forbid this too)
            raise ValueError(
                f"snapshot_table: {operation} on partition column(s) "
                f"{hit} — re-partition via an overwrite instead"
            )
        new_schema = make_schema(schema)
        for name, cond in (snap.get("constraints") or {}).items():
            try:
                _ = spark.createDataFrame([], new_schema).where(
                    F.expr(cond).cast("boolean")
                ).schema
            except Exception as exc:
                raise ValueError(
                    f"snapshot_table: CHECK constraint {name!r} "
                    f"({cond}) references a column this {operation} "
                    f"alters; drop the constraint first"
                ) from exc
        identity = {f.name: f.name for f in new_schema.fields}

        def _normalized(s: dict) -> dict:
            # a map equal to the identity over the NEW schema is
            # equivalent to no map (every field reads its own physical
            # name) — normalize it away so a rename CYCLE (v->w->v)
            # leaves a plain protocol-1 table with single-scan reads
            # instead of a permanently mapped one. UNLESS the shard
            # hides dropped physical columns ("hidden", recorded by
            # drop_column): there the absent-entry behavior is
            # load-bearing — an unmapped read after a same-name re-add
            # would resurface the dropped bytes
            if s.get("names") == identity and not s.get("hidden"):
                s = dict(s)
                del s["names"]
            return s

        return {
            "operation": operation,
            "properties": dict(props),
            "schema": new_schema.jsonValue(),
            "shards": [
                _normalized(stamp_shard(s, schema) or s)
                for s in snap["shards"]
            ],
        }

    return _commit(table, None, apply)


def _file_has_column(shard: dict, table: str, physical: str) -> bool:
    """Does the shard's parquet file physically contain ``physical``?
    One driver-side footer read; an unreadable footer conservatively
    answers True (assuming presence is the SAFE direction — it only
    keeps a column mapping alive)."""
    try:
        import pyarrow.parquet as pq

        names = pq.read_schema(
            os.path.join(table, _DATA_DIR, shard["file"])
        ).names
        return physical in names
    except Exception:
        return True


def _stamped(shard: dict, old_schema: StructType) -> dict:
    """Deep-enough copy of a shard entry with its column mapping made
    EXPLICIT (identity over the current logical schema if absent) so a
    rename/drop can mutate it. Claiming a physical name the file lacks
    is harmless — the explicit-schema read NULL-fills it — but an
    ABSENT map entry is load-bearing: it is what keeps a re-added
    column from resurfacing dropped bytes."""
    s = dict(shard)
    s["names"] = dict(
        s.get("names") or {f.name: f.name for f in old_schema.fields}
    )
    if "stats" in s:
        s["stats"] = dict(s["stats"])
    if "bloom" in s:
        s["bloom"] = dict(s["bloom"])
    return s


def rename_column(
    spark: SparkSession, table: str, old: str, new: str,
) -> int:
    """ALTER TABLE RENAME COLUMN without rewriting a single data file —
    the Iceberg field-mapping rename (Delta column-mapping 'name'
    mode). A metadata-only commit renames the field in the table
    schema and stamps every live shard's logical->physical column map
    so readers alias the old physical bytes to the new name
    (:func:`_read_shards`). Per-shard stats/bloom entries move with the
    column, so pruning on the NEW name keeps working. Time travel to
    pre-rename versions still shows the old name (each snapshot is
    self-contained). Raises on unknown ``old``, existing ``new``,
    pending CONDITION tombstones (their SQL text is written against
    current names — positional deletion vectors are name-free
    coordinates and compose freely), or a live CHECK constraint
    referencing ``old`` (drop it first). Incremental/CDC reads refuse ranges that
    cross the rename (frames before and after disagree on names —
    restart the consumer from the evolution point)."""
    def make_schema(schema: StructType) -> StructType:
        if old not in schema.fieldNames():
            raise ValueError(f"snapshot_table: no column {old!r} to rename")
        if new in schema.fieldNames():
            raise ValueError(f"snapshot_table: column {new!r} already exists")
        from pyspark.sql.types import StructField

        return StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old else f
                for f in schema.fields
            ]
        )

    def stamp(shard: dict, schema: StructType) -> dict:
        s = _stamped(shard, schema)
        if old in s["names"]:
            s["names"][new] = s["names"].pop(old)
        for kind in ("stats", "bloom"):
            if old in s.get(kind, {}):
                s[kind][new] = s[kind].pop(old)
        return s

    return _alter_columns(
        spark, table, "rename_column", {"renamed": [old, new]},
        make_schema, stamp, alters=(old,),
    )


def drop_column(spark: SparkSession, table: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN without rewriting data (Iceberg drop):
    a metadata-only commit removes the field from the schema and from
    every shard's column map — the physical bytes stay in the files
    (column pruning means they are never read again; a compaction
    rewrite sheds them physically) and time travel to pre-drop
    versions still surfaces them. Re-adding a column with the same
    name later reads NULL from pre-drop shards, never the old bytes
    (the name-reuse trap the mapping exists to close). Same guards as
    :func:`rename_column`."""
    def make_schema(schema: StructType) -> StructType:
        if col not in schema.fieldNames():
            raise ValueError(f"snapshot_table: no column {col!r} to drop")
        if len(schema.fields) == 1:
            raise ValueError(
                "snapshot_table: cannot drop the only column"
            )
        return StructType([f for f in schema.fields if f.name != col])

    def stamp(shard: dict, schema: StructType) -> dict:
        s = _stamped(shard, schema)
        physical = s["names"].pop(col, None)
        if physical is not None and _file_has_column(
            shard, table, physical
        ):
            # the file still physically holds these bytes: the shard's
            # map must never be normalized away (see _alter_columns),
            # or a same-name re-add would read them. Checked against
            # the parquet FOOTER (one driver-side metadata read per
            # shard — still no data rewrite): a shard written before
            # the column ever existed has nothing to hide, and marking
            # it anyway would pin reader protocol 2 and multi-scan
            # reads forever
            s["hidden"] = sorted(set(s.get("hidden", [])) | {physical})
        for kind in ("stats", "bloom"):
            s.get(kind, {}).pop(col, None)
        return s

    return _alter_columns(
        spark, table, "drop_column", {"dropped": col}, make_schema, stamp,
        alters=(col,),
    )


def add_column(
    spark: SparkSession, table: str, name: str, dtype: str,
) -> int:
    """ALTER TABLE ADD COLUMN (nullable): a metadata-only commit
    widening the schema; every existing shard reads the new column as
    NULL (the same evolution contract appends already get via
    union-by-name). ``dtype`` is a DDL type string (``'bigint'``,
    ``'array<double>'``). Row-preserving by construction, so
    incremental/CDC readers pass through it like a constraint
    commit."""
    from pyspark.sql.types import _parse_datatype_string

    dt = _parse_datatype_string(dtype)

    def make_schema(schema: StructType) -> StructType:
        if name in schema.fieldNames():
            raise ValueError(
                f"snapshot_table: column {name!r} already exists"
            )
        from pyspark.sql.types import StructField

        return StructType(list(schema.fields) + [StructField(name, dt, True)])

    return _alter_columns(
        spark, table, "add_column", {"added": [name, dtype]},
        make_schema, lambda s, schema: None,
    )


def _bloom_bits_for(value, m: int, k: int) -> list[int]:
    """The ``k`` encoded bit positions a value sets — the driver-side
    twin of ``operators.sketches._salted_bucket`` (md5 of ``"j|value"``
    is the portable hash both engines share), with the same ``j*m + pos``
    flat encoding ``bloom_prune`` uses."""
    import hashlib

    return [
        j * m
        + int(hashlib.md5(f"{j}|{value}".encode()).hexdigest()[:8], 16) % m
        for j in range(k)
    ]


def _bloom_may_contain(shard: dict, col: str, value) -> bool:
    """Bloom membership triage for one shard: False ONLY when the shard's
    recorded filter for ``col`` provably excludes ``value`` (no false
    negatives — every bit of a stored value is in the set). Shards
    without a bloom for ``col`` are conservatively True, same contract
    as :func:`_stats_overlap`."""
    b = shard.get("bloom", {}).get(col)
    if b is None:
        return True
    bits = set(b["bits"])
    return all(p in bits for p in _bloom_bits_for(value, b["m"], b["k"]))


def _compute_blooms(
    spark: SparkSession, table: str, names: list[str],
    bloom_cols: list[str], m: int, k: int,
    schema: StructType | None = None,
) -> dict[str, dict]:
    """Per-shard Bloom filters for ``bloom_cols`` as snapshot metadata:
    one distributed pass per column over just this job's shards —
    explode the ``k`` hash rows, distinct the ≤ m·k set bit positions
    per file, collect the sorted position list (≤ m·k ints, metadata
    weight). NULLs set no bits (point lookup of NULL is not a bloom
    question — stats/row filters handle it).

    Every requested file starts with an EMPTY filter (``bits: []``)
    that rows then overwrite: a file contributing no non-null values —
    zero rows, an all-NULL column, or a column it physically predates —
    is stamped with the provably-excludes-everything sentinel instead
    of silently left bloom-less, which is both the correct filter for
    it (no non-null value exists to look up) and what lets
    :func:`analyze_table`'s second run be a true no-op. ``schema``
    (pass the TABLE schema when the files may predate a column) pins
    the read so an absent column NULL-fills instead of failing
    analysis."""
    from pyspark.sql import functions as F

    from ..operators.sketches import _salted_bucket

    if not names or not bloom_cols:
        return {n: {} for n in names}
    out: dict[str, dict] = {
        n: {c: {"m": m, "k": k, "bits": []} for c in bloom_cols}
        for n in names
    }
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*[os.path.join(table, _DATA_DIR, n) for n in names])
    j = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    for c in bloom_cols:
        rows = (
            df.select(F.input_file_name().alias("f"), F.col(c))
            .where(F.col(c).isNotNull())
            .select("f", j, F.col(c))
            .select(
                "f",
                (F.col("j") * m + _salted_bucket(F.col("j"), F.col(c), m))
                .alias("bit"),
            )
            .groupBy("f")
            .agg(F.sort_array(F.collect_set("bit")).alias("bits"))
            .collect()
        )
        for r in rows:
            out[os.path.basename(r["f"])][c] = {
                "m": m, "k": k, "bits": [int(b) for b in r["bits"]],
            }
    return out


def _inherited_blooms(
    spark: SparkSession, table: str, mine: list[str],
    ref_shards: list[dict],
) -> dict[str, dict]:
    """Recompute Bloom filters for freshly staged shards ``mine`` over
    every column the REWRITTEN shards already carried one for (with
    their recorded m/k) — the bloom twin of the stats-inheritance rule
    every partial rewrite applies. Without it a routine compaction or
    DML rewrite silently sheds blooms and point-lookup pruning degrades
    to full-partition scans."""
    specs: dict[str, tuple[int, int]] = {}
    for s in ref_shards:
        for c, b in s.get("bloom", {}).items():
            specs.setdefault(c, (b["m"], b["k"]))
    out: dict[str, dict] = {n: {} for n in mine}
    by_mk: dict[tuple[int, int], list[str]] = {}
    for c, mk in specs.items():
        by_mk.setdefault(mk, []).append(c)
    for (m, k), cols in by_mk.items():
        got = _compute_blooms(spark, table, mine, sorted(cols), m, k)
        for n in mine:
            out[n].update(got[n])
    return out


def _remove_unreferenced(
    table: str, dry_run: bool = False, older_than: float | None = None,
) -> int:
    """Delete data files no surviving snapshot references (the orphan
    sweep shared by :func:`vacuum` and :func:`expire_snapshots`).
    BRANCH snapshots (``_refs/<name>/``) count as references too —
    an unpublished audit branch's data must survive GC until the
    branch itself is dropped. Manifest segments are swept by the same
    rule: a segment named by any surviving snapshot (and every data
    file inside it) is live; segments orphaned by lost commit races or
    expired history are deleted AFTER the data scan (a crash between
    the two sweeps only ever leaves extra files, never a live snapshot
    naming a deleted one), and count toward the returned total in both
    modes — so a ``dry_run`` preview reports exactly what a real run
    would delete (data files AND segment files). ``dry_run`` counts
    without deleting. ``older_than`` (seconds) is the in-flight-writer
    grace window: only unreferenced files whose mtime is older than
    the threshold are removed — a file published (step 2) but not yet
    claimed by a snapshot (step 3) looks orphaned to a concurrent
    sweep, and the age threshold is how production engines (Delta
    VACUUM's retention, Iceberg remove_orphan_files' older_than) make
    GC safe next to live writers. Recently-written true orphans
    survive until a later sweep — GC is idempotent, so deferral never
    loses anything.

    Liveness refuses snapshots requiring a NEWER reader protocol, same
    gate as the read path: GC computes a snapshot's file references by
    interpreting its keys, and a future protocol may reference files
    through a key this version doesn't know — silently resolving only
    the known keys would delete that snapshot's data as orphans."""
    def _refs_of(snap: dict):
        for s in snap.get("shards", []):
            yield s["file"]
        # positional deletion vectors live in data/ too: a surviving
        # snapshot's pending DV is as load-bearing as its shards
        for d in snap.get("deletes", []):
            if "positions" in d:
                yield from _dv_parts(d)

    live: set[str] = set()
    live_mans: set[str] = set()

    def _scan(raw: dict) -> None:
        required = raw.get("reader_version", 1)
        if required > _READER_VERSION:
            raise ValueError(
                f"snapshot_table: GC found a snapshot (version "
                f"{raw.get('version')}) requiring reader protocol "
                f"{required}; this reader supports up to "
                f"{_READER_VERSION} — refusing to compute liveness for "
                f"a snapshot it cannot fully interpret (its files "
                f"would be deleted as orphans); upgrade before GC"
            )
        live_mans.update(raw.get("manifests", []))
        live.update(_refs_of(_resolve_manifests(table, raw)))

    snaps: list[dict] = []
    for p in glob.glob(
        os.path.join(_log_dir(table), "*.json")
    ) + glob.glob(os.path.join(table, _REFS_DIR, "*", "*.json")):
        try:
            with open(p) as f:
                snaps.append(json.load(f))
        except FileNotFoundError:
            continue  # expired / branch dropped concurrently
    for raw in snaps:
        # a missing SEGMENT under a live snapshot raises loudly here —
        # silently skipping it would orphan-delete that segment's data
        _scan(raw)
    cutoff = None if older_than is None else time.time() - older_than

    def _young(p: str) -> bool:
        if cutoff is None:
            return False
        try:
            return os.path.getmtime(p) >= cutoff
        except FileNotFoundError:
            return True  # gone already: nothing to sweep

    removed = 0
    for pat in ("part-*.parquet", "dv-*.parquet"):
        for p in glob.glob(os.path.join(table, _DATA_DIR, pat)):
            if os.path.basename(p) not in live and not _young(p):
                if not dry_run:
                    os.remove(p)
                removed += 1
    for p in glob.glob(os.path.join(table, _MAN_DIR, "m-*.json")):
        if os.path.basename(p) not in live_mans and not _young(p):
            if not dry_run:
                os.remove(p)
                _MANIFEST_CACHE.pop(p, None)
            removed += 1
    return removed


def _footer_stats(
    spark: SparkSession, table: str, names: list[str], schema,
    stats_cols: list[str] | None,
) -> tuple[dict, dict] | None:
    """Per-shard row counts and min/max stats read from the parquet
    FOOTERS on the driver — no Spark job, no re-scan of data just
    written (round-13 optimization: the stats pass was one extra job +
    scheduling gap per commit, ~0.3-0.9s each on the measured
    timeline). Returns ``(counts, stats)`` in exactly the shapes the
    Spark aggregation produced, or ``None`` when ANY value cannot be
    proven bit-identical to the aggregation — the caller then falls
    back to the Spark job, so this path can only ever be a cost
    reducer, never a semantics change.

    Exactness whitelist (validated empirically against ``F.min/F.max``
    per type, see OPTIMIZATION_r13.md):

    - counts: ``FileMetaData.num_rows`` — exact by definition.
    - int/bigint/smallint/tinyint: footer int stats are exact.
    - string: parquet-mr stores full chunk-level min/max (it DROPS the
      pair above ~4 KB rather than truncating); values are accepted
      only below a 1 KiB paranoia bound. Byte-wise unsigned UTF-8
      order == Spark's UTF8String order == Python ``str`` order.
    - date: INT32 epoch days == ``unix_date`` exactly.
    - timestamp: INT64 epoch micros == ``unix_micros`` exactly (the
      session writes TIMESTAMP_MICROS, never stats-less INT96);
      timestamp_ntz: INT64 wall-clock micros == the component-math
      encoding in :func:`_stats_input` exactly.
    - float/double: accepted only when both bounds are finite and
      nonzero — NaN ordering and ±0.0 normalization are the two spots
      where a writer's idea of min/max could diverge from Spark's, so
      those fall back to the aggregation.

    All-NULL shards (``has_min_max`` false, ``null_count == num_rows``)
    stamp the ``[None, None]`` sentinel, same as the aggregation path.
    Any other surprise — missing stats, row-group without statistics,
    an unexpected python type — returns None (fallback)."""
    import datetime as _dt

    try:
        import pyarrow.parquet as _pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None

    dtypes = {}
    for c in stats_cols or []:
        dtypes[c] = schema[c].dataType.simpleString()

    if any(t == "string" for t in dtypes.values()):
        # trust-boundary pin (round-14, VERDICT item 9): the string
        # whitelist relies on parquet-mr DROPPING oversized chunk
        # statistics rather than truncating them. That holds at the
        # default config, but `parquet.statistics.truncate.length`
        # makes the writer store a truncated (prefix / last-byte-
        # incremented) bound that pyarrow 16 cannot distinguish from
        # an exact one — so if the session's Hadoop conf sets any
        # finite truncation length, refuse the fast path and let the
        # caller run the exact aggregation instead. The session is the
        # writer's own (passed in, not getActiveSession(), which is None
        # in thread-pool workers and would silently refuse the path).
        try:
            hc = spark.sparkContext._jsc.hadoopConfiguration()
            v = hc.get("parquet.statistics.truncate.length")
            if v is not None and int(v) < (1 << 31) - 1:
                return None
        except Exception:
            return None  # cannot prove the writer config — fall back

    _EPOCH_D = _dt.date(1970, 1, 1)
    _EPOCH_TS = _dt.datetime(1970, 1, 1)

    def _micros(v, ltz: bool):
        if not isinstance(v, _dt.datetime):
            return None
        if ltz:
            off = v.utcoffset()
            if off is None:
                return None  # LTZ column surfaced naive — bail
            v = v.replace(tzinfo=None) - off
        elif v.tzinfo is not None:
            return None  # NTZ column surfaced tz-aware — bail
        d = v - _EPOCH_TS
        return (
            d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds
        )

    def _convert(dtype: str, v):
        """Footer value -> the recorded stats form; None = not provable
        (distinct from a legitimately-NULL bound, which never reaches
        here: has_min_max was true)."""
        if dtype in ("int", "bigint", "smallint", "tinyint"):
            return v if isinstance(v, int) and not isinstance(v, bool) \
                else None
        if dtype == "string":
            if isinstance(v, bytes):
                try:
                    v = v.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            if isinstance(v, str) and len(v.encode("utf-8")) <= 1024:
                return v
            return None
        if dtype == "date":
            return (
                (v - _EPOCH_D).days if type(v) is _dt.date else None
            )
        if dtype == "timestamp":
            return _micros(v, ltz=True)
        if dtype == "timestamp_ntz":
            return _micros(v, ltz=False)
        if dtype in ("float", "double"):
            if isinstance(v, float) and math.isfinite(v) and v != 0.0:
                return v
            return None
        return None

    counts: dict[str, int] = {}
    stats: dict[str, dict] = {}
    for n in names:
        path = os.path.join(table, _DATA_DIR, n)
        try:
            md = _pq.ParquetFile(path).metadata
        except Exception:
            return None
        counts[n] = md.num_rows
        if not dtypes:
            stats[n] = {}
            continue
        per_col: dict[str, list] = {}
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for c, dtype in dtypes.items():
            if c not in idx:
                return None
            lo = hi = None
            nulls = 0
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx[c])
                st = col.statistics
                if st is None or st.null_count is None:
                    return None
                nulls += st.null_count
                if not st.has_min_max:
                    if st.null_count != md.row_group(rg).num_rows:
                        return None  # stats dropped, not all-NULL
                    continue
                a, b = _convert(dtype, st.min), _convert(dtype, st.max)
                if a is None or b is None:
                    return None
                lo = a if lo is None or a < lo else lo
                hi = b if hi is None or b > hi else hi
            if lo is None:
                # no row group carried bounds: legal only when every
                # value is NULL (or the shard is empty)
                if nulls != md.num_rows:
                    return None
            per_col[c] = [lo, hi]
        stats[n] = per_col
    return counts, stats


def _stage_publish(
    df: DataFrame, table: str, published: list[str],
    stats_cols: list[str] | None,
    partition_by: list[str] | None = None,
    cluster_within: list[str] | None = None,
    cluster_parts: int | None = None,
) -> tuple[list[str], dict, dict, dict]:
    """Steps 1–2 of the commit protocol: stage ``df`` as parquet under
    a private ``_tmp/<job>/`` dir (removed on return), publish the
    shards into ``data/`` under fresh uuid names (invisible until a
    snapshot names them; each name is appended to ``published`` as it
    lands, so :func:`_commit` can reclaim it), and compute per-shard
    row counts + optional min/max stats from the footers or in ONE
    metadata-weight job via ``input_file_name`` — not a per-file driver
    loop. Returns ``(names, counts, stats, partitions)``.

    With ``partition_by``, staging writes hive-layout via SHADOW
    columns (``__p_<col>`` string copies consumed by ``partitionBy``),
    so every staged file holds rows of exactly one partition tuple
    while the REAL columns stay in the data files — shards remain
    self-contained and the read path never reconstructs values from
    directory names (the Iceberg hidden-partitioning property, unlike
    raw hive layout). The per-file partition values parsed from the
    staged directories land in the snapshot log (``partitions``:
    name -> {col: str|None}), which is what metadata pruning reads."""
    # schema-only validation FIRST: failing after the distributed write
    # would waste the whole job and strand orphans in data/
    reserved = [c for c in ("__file", "__pos") if c in df.columns]
    if reserved:
        raise ValueError(
            f"snapshot_table: column names {reserved} are reserved for "
            f"the merge-on-read row identity (_read_shards with_pos); "
            f"rename before writing"
        )
    for c in stats_cols or []:
        t = df.schema[c].dataType.simpleString()
        if t not in _STATS_COL_TYPES:
            raise ValueError(
                f"snapshot_table: stats_cols supports numeric/string/"
                f"date/timestamp/timestamp_ntz columns only; "
                f"{c!r} is {t}"
            )
    os.makedirs(os.path.join(table, _SNAP_DIR), exist_ok=True)
    os.makedirs(os.path.join(table, _DATA_DIR), exist_ok=True)
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    tmp_dir = os.path.join(table, "_tmp", uuid.uuid4().hex)
    try:
        # 1. stage: a normal distributed parquet write into private tmp;
        # partitioned tables stage hive-layout on shadow string copies so
        # the real columns survive inside each file
        pb = list(partition_by or [])
        if pb:
            # shadow columns are the TRANSFORMED partition values (identity
            # = string cast); positional names because spec strings like
            # "bucket(8, doc_id)" are not valid column names. Every non-NULL
            # value is prefixed with "=" before hitting the hive dir name:
            # Spark writes an EMPTY STRING to __HIVE_DEFAULT_PARTITION__
            # (conflating '' with NULL — silent wrong pruning and a wrong
            # drop_partition); the prefix makes '' a real directory and is
            # stripped on decode. concat propagates NULL, so NULL still
            # lands in the default partition.
            fields = [_parse_partition_spec(s) for s in pb]
            staged_df = df
            for i, f in enumerate(fields):
                staged_df = staged_df.withColumn(
                    f"__p_{i}", F.concat(F.lit("="), f["expr"](df))
                )
            # one shuffle BEFORE partitionBy bounds the commit's file count:
            # without it every upstream task fans into every partition it
            # touches (tasks x partitions staged files — the small-file
            # explosion Delta/Iceberg optimized writes exist to prevent).
            # Plain writes hash on the tuple (~one file per partition
            # value); CLUSTERED rewrites (cluster_within) instead range-
            # partition on (tuple, cluster keys) into ``cluster_parts``
            # slices — files stay bounded by the slice budget, sized by
            # rows (the range sampler gives big partitions more files), and
            # each file covers a narrow key range WITHIN its tuple, which
            # is what keeps per-shard stats selective inside a partition.
            shadow = [F.col(f"__p_{i}") for i in range(len(pb))]
            if cluster_within or cluster_parts:
                if cluster_parts:
                    n_out = cluster_parts
                else:
                    try:
                        n_out = int(
                            df.sparkSession.conf.get(
                                "spark.sql.shuffle.partitions"
                            )
                        )
                    except (TypeError, ValueError):  # e.g. AQE "auto"
                        n_out = df.sparkSession.sparkContext.defaultParallelism
                # without cluster keys, big tuples still need a within-tuple
                # split key for the ``cluster_parts`` file budget to mean
                # anything: spark_partition_id() is plan-agnostic (works on
                # unions/joins, unlike input_file_name) and splits a big
                # tuple at upstream-partition granularity — for the
                # compaction/DML rewrites that set cluster_parts, upstream
                # partitions are the files being rewritten
                inner = (
                    [F.col(c) for c in cluster_within]
                    if cluster_within else [F.spark_partition_id()]
                )
                staged_df = staged_df.repartitionByRange(
                    max(1, n_out), *shadow, *inner
                )
                if cluster_within:
                    staged_df = staged_df.sortWithinPartitions(
                        *[f"__p_{i}" for i in range(len(pb))], *cluster_within
                    )
            else:
                staged_df = staged_df.repartition(*shadow)
            staged_df.write.mode("overwrite").partitionBy(
                *[f"__p_{i}" for i in range(len(pb))]
            ).parquet(tmp_dir)
            staged = sorted(
                glob.glob(
                    os.path.join(
                        tmp_dir,
                        *[f"__p_{i}=*" for i in range(len(pb))],
                        "part-*.parquet",
                    )
                )
            )
        else:
            df.write.mode("overwrite").parquet(tmp_dir)
            staged = sorted(glob.glob(os.path.join(tmp_dir, "part-*.parquet")))
        # 2. publish under fresh uuid names (invisible: nothing refs them)
        mine = []
        partitions: dict[str, dict] = {}
        for p in staged:
            name = f"part-{uuid.uuid4().hex}.parquet"
            if pb:
                # decode this file's partition tuple from its hive dirs:
                # tmp/__p_0=x/__p_1=y/part-*.parquet (hive %-escapes
                # special chars; __HIVE_DEFAULT_PARTITION__ encodes NULL);
                # logged under the canonical spec-string keys
                comps = os.path.relpath(p, tmp_dir).split(os.sep)[:-1]
                vals: dict[str, str | None] = {}
                for f, comp in zip(fields, comps):
                    raw = comp.split("=", 1)[1]
                    if raw == "__HIVE_DEFAULT_PARTITION__":
                        vals[f["spec"]] = None
                        continue
                    dec = unquote(raw)
                    if not dec.startswith("="):  # the staged "=" prefix
                        raise RuntimeError(
                            f"snapshot_table: staged partition dir {comp!r} "
                            f"lacks the value prefix — staging layout bug"
                        )
                    vals[f["spec"]] = dec[1:]
                partitions[name] = vals
            os.replace(p, os.path.join(table, _DATA_DIR, name))
            published.append(name)
            mine.append(name)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    spark = df.sparkSession
    counts = {n: 0 for n in mine}
    stats: dict[str, dict] = {n: {} for n in mine}
    footer = (
        _footer_stats(spark, table, mine, df.schema, stats_cols)
        if mine else None
    )
    if footer is not None:
        # driver-side footer read replaces the per-commit stats job —
        # bit-identical by the _footer_stats whitelist, else it
        # returned None and the aggregation below runs as before
        counts, stats = footer
    elif mine:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in stats_cols or []:
            # temporal columns record epoch-int bounds (see
            # _STATS_COL_TYPES); min/max commute with the monotonic
            # conversion so the recorded bound is exact
            e = _stats_input(df.schema[c].dataType.simpleString(), c)
            aggs.append(F.min(e).alias(f"__min__{c}"))
            aggs.append(F.max(e).alias(f"__max__{c}"))
        rows = (
            spark.read.parquet(
                *[os.path.join(table, _DATA_DIR, n) for n in mine]
            )
            .groupBy(F.input_file_name().alias("f"))
            .agg(*aggs)
            .collect()
        )
        for r in rows:
            name = os.path.basename(r["f"])
            counts[name] = r["__n"]
            stats[name] = {
                c: [r[f"__min__{c}"], r[f"__max__{c}"]]
                for c in stats_cols or []
            }
    # zero-row shards (empty upstream partitions) are noise in the
    # manifest and defeat stats pruning — delete instead of register
    for n in [n for n in mine if counts[n] == 0]:
        os.remove(os.path.join(table, _DATA_DIR, n))
        mine.remove(n)
        counts.pop(n), stats.pop(n), partitions.pop(n, None)
    return mine, counts, stats, partitions


def _shard_entries(
    mine: list[str], counts: dict, stats: dict, blooms: dict, parts: dict,
) -> list[dict]:
    """Snapshot-log entries for freshly published shards: file and row
    count, plus the stats/bloom/partition maps when non-empty."""
    out = []
    for n in mine:
        s = {"file": n, "n_rows": counts[n]}
        for key, vals in (
            ("stats", stats), ("bloom", blooms), ("partition", parts),
        ):
            if vals.get(n):
                s[key] = vals[n]
        out.append(s)
    return out


# -- the official Arrow writers (snapshot_sink.py, snapshot_datasource.py)
# share one executor-side stager and one driver-side commit; each writer
# is a protocol adapter around them


@dataclass
class _StagedFiles(WriterCommitMessage):
    # one task's staged entries, each {name, n_rows, stats, bloom,
    # partition?}; [] = empty task. Several entries when the table is
    # partitioned and the task's rows span partition tuples
    files: list = field(default_factory=list)


def _arrow_write_options(options, schema: StructType, prefix: str) -> dict:
    """The ``stats_cols``/``bloom_cols``/``bloom_bits``/``bloom_k``
    options of an Arrow writer, parsed on the driver under the same
    type gates write_snapshot applies, before any job runs: a timestamp
    stats column would crash the commit's JSON serialization after
    publish, and a float bloom column would record hashes whose string
    form disagrees with probe-time values (silent wrong pruning).
    Errors start with the writer's ``prefix``."""
    meta = {
        k: [c for c in (options.get(k) or "").split(",") if c]
        for k in ("stats_cols", "bloom_cols")
    }
    meta["bloom_bits"] = int(options.get("bloom_bits", 2048))
    meta["bloom_k"] = int(options.get("bloom_k", 3))
    integral = ("int", "bigint", "smallint", "tinyint")
    for key, kinds, ok in (
        ("stats_cols", "numeric/string",
         integral + ("float", "double", "string")),
        ("bloom_cols", "integral/string", integral + ("string",)),
    ):
        for c in meta[key]:
            t = schema[c].dataType.simpleString()
            if t not in ok:
                raise ValueError(
                    f"{prefix}: {key} supports {kinds} columns only; "
                    f"{c!r} is {t}"
                )
    return meta


def _stage_arrow(
    batches, stage: str, prefix: str, fields: list[dict], meta: dict,
) -> list[dict]:
    """Executor side of the Arrow writers: stage one task's record
    batches (zero-copy, no Row materialisation) as private parquet
    files ``<prefix>-<uuid>.parquet`` under ``stage`` — one per
    partition tuple over the identity ``fields`` (the shared
    :func:`_arrow_partition_split`), one file when there are none — and
    return their entries: name, row count, min/max of each
    ``stats_cols`` column and the bloom bits of each ``bloom_cols``
    column (``meta``, see :func:`_arrow_write_options`), computed from
    the batches in passing, and the partition values. An empty task
    stages nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    batches = list(batches)
    if not sum(len(b) for b in batches):
        return []
    os.makedirs(stage, exist_ok=True)
    m, k = meta["bloom_bits"], meta["bloom_k"]
    entries = []
    for sub, partition in _arrow_partition_split(
        pa.Table.from_batches(batches), fields
    ):
        stats, bloom = {}, {}
        for c in meta["stats_cols"]:
            if c in sub.schema.names:
                mm = pc.min_max(sub[c])
                stats[c] = [mm["min"].as_py(), mm["max"].as_py()]
        for c in meta["bloom_cols"]:
            if c in sub.schema.names:
                bits: set[int] = set()
                for v in pc.unique(sub[c]).to_pylist():
                    if v is not None:
                        bits.update(_bloom_bits_for(v, m, k))
                bloom[c] = {"m": m, "k": k, "bits": sorted(bits)}
        name = f"{prefix}-{uuid.uuid4().hex}.parquet"
        pq.write_table(sub, os.path.join(stage, name))
        entry = {
            "name": name, "n_rows": sub.num_rows,
            "stats": stats, "bloom": bloom,
        }
        if partition:
            entry["partition"] = partition
        entries.append(entry)
    return entries


def _staged_entries(messages) -> list[dict]:
    """Every staged entry of a job's commit messages (a failed task
    sends None)."""
    return [e for m in messages if m is not None and m.files for e in m.files]


def _discard_staged(stage: str, messages) -> None:
    """Delete a job's staged files (abort, replay, refusal): none of
    them ever becomes visible."""
    for e in _staged_entries(messages):
        try:
            os.remove(os.path.join(stage, e["name"]))
        except FileNotFoundError:
            pass


def _validate_paths(
    paths: list[str], schema: StructType, constraints: dict, prefix: str,
) -> None:
    """CHECK-constraint enforcement for an Arrow-writer commit (entry
    validation of staged files, and in-loop revalidation of constraints
    added concurrently, against the published files). The commit runs
    in a Python runner WITHOUT a JVM gateway (``getActiveSession()`` is
    None there), so when no session is reachable the shards are
    validated with DuckDB — the repo-wide semantic twin — under the
    same NULL-passes CHECK rule. FAIL-CLOSED: a condition DuckDB cannot
    parse or evaluate rejects the commit with a clear message instead
    of skipping validation (an invariant is never silently
    unenforced)."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        _enforce_constraints(
            spark.read.schema(schema).parquet(*paths), constraints
        )
        return
    import duckdb

    con = duckdb.connect()
    for name, cond in constraints.items():
        try:
            # the path list is a bound parameter, never SQL text: a
            # table directory may contain a quote
            bad = con.execute(
                "SELECT * FROM read_parquet(?) "
                f"WHERE NOT coalesce(CAST(({cond}) AS BOOLEAN), "
                "TRUE) LIMIT 1",
                [paths],
            ).fetchall()
        except Exception as exc:
            raise ValueError(
                f"{prefix}: CHECK constraint {name!r} ({cond}) cannot be "
                f"validated in the writer commit (no Spark session in "
                f"this context and the twin evaluator rejected it: "
                f"{exc}); commit refused — write via write_snapshot or "
                f"drop the constraint"
            ) from exc
        if bad:
            raise ValueError(
                f"{prefix}: CHECK constraint {name!r} ({cond}) violated "
                f"by row {bad[0]!r}"
            )


def _commit_staged(
    table: str, stage: str, messages, schema: StructType, shape: dict,
    guard, prefix: str,
) -> int:
    """Driver side of the Arrow writers: commit one job's staged files
    (:func:`_stage_arrow`) as ONE snapshot. Enforces the table's CHECK
    constraints against the staged files before anything is published
    (a refusal discards them), publishes them into ``data/`` under
    fresh ``part-<uuid>`` names and claims the next version through
    :func:`_commit`. ``shape`` is the writer's part of the snapshot
    (``operation``, ``properties``, optionally ``partition_by``); the
    schema and shards are added here. On every rebase onto an existing
    head, constraints the head gained since the entry read are
    enforced against the published files, then an ``overwrite``
    replaces the head's shards (and clears its pending deletes) while an
    ``append`` first runs the writer's ``guard(base)`` (its own
    conflict checks: raise to refuse) and adds its shards to the head's
    under the by-name schema union. A refused batch's published files
    are removed on the way out."""
    staged = _staged_entries(messages)
    validated = dict(_base_constraints(table))
    if validated and staged:
        try:
            _validate_paths(
                [os.path.join(stage, e["name"]) for e in staged],
                schema, validated, prefix,
            )
        except ValueError:
            _discard_staged(stage, messages)  # nothing becomes visible
            raise
    os.makedirs(os.path.join(table, _SNAP_DIR), exist_ok=True)
    os.makedirs(os.path.join(table, _DATA_DIR), exist_ok=True)
    mine, counts, stats, blooms, parts = [], {}, {}, {}, {}
    for e in staged:
        n = f"part-{uuid.uuid4().hex}.parquet"
        os.replace(
            os.path.join(stage, e["name"]), os.path.join(table, _DATA_DIR, n)
        )
        mine.append(n)
        counts[n], stats[n], blooms[n] = e["n_rows"], e["stats"], e["bloom"]
        parts[n] = e.get("partition")
    published = [os.path.join(table, _DATA_DIR, n) for n in mine]
    new = {
        **shape,
        "schema": schema.jsonValue(),
        "shards": _shard_entries(mine, counts, stats, blooms, parts),
    }

    def apply(base):
        if base is None:
            return dict(new)  # the first commit creates the table
        fresh = {
            k: v for k, v in base.get("constraints", {}).items()
            if validated.get(k) != v
        }
        if fresh and published:
            _validate_paths(published, schema, fresh, prefix)
            validated.update(fresh)
        if new["operation"] == "overwrite":
            return {**new, "deletes": []}
        guard(base)
        return {
            **new,
            "schema": _merge_schema(
                StructType.fromJson(base["schema"]), schema
            ).jsonValue(),
            "shards": base["shards"] + new["shards"],
        }

    return _commit(table, None, apply, mine, create=True)


def _recheck_constraints(df: DataFrame, validated: dict, base: dict) -> None:
    """A constraint added concurrently (between a writer's entry
    validation and its claim) still binds the batch: enforce every
    constraint of ``base`` that ``validated`` lacks, then record it."""
    fresh = {
        k: v for k, v in base.get("constraints", {}).items()
        if validated.get(k) != v
    }
    if fresh:
        _enforce_constraints(df, fresh)
        validated.update(fresh)


def _rebase_evolution_guard(
    table: str, branch: str | None, snap: dict, current: int,
    entry_version: int | None, what: str,
) -> None:
    """Walk the operation chain from the current head back to the
    version this job entered at; a rename_column/drop_column anywhere
    in between means this job's entry-time schema is stale and a
    silent ``_merge_schema`` rebase would resurrect the renamed or
    dropped name as a separate column. Delta/Iceberg raise a metadata
    conflict here; so does every rebasing writer in this module."""
    if current == entry_version:
        return
    v = current
    while v is not None and v != entry_version:
        try:
            s = snap if v == current else _load_snapshot(table, v, branch)
        except FileNotFoundError:
            # an intermediate snapshot expired while we rebased: the
            # chain back to the entry base is unverifiable, so
            # conservatively conflict (the documented retry) instead
            # of crashing with a missing-file error
            raise ValueError(
                f"snapshot_table: history between this {what}'s base "
                f"({entry_version}) and the current head ({current}) "
                f"was expired while the {what} was staging; retry the "
                f"write against the new head"
            ) from None
        if s["operation"] in ("rename_column", "drop_column"):
            raise ValueError(
                f"snapshot_table: table schema evolved "
                f"({s['operation']} committed at version {v}) while "
                f"this {what} was staging; retry the write against "
                f"the new schema"
            )
        v = s.get("parent")


def write_snapshot(
    df: DataFrame, table: str, mode: str = "append",
    properties: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 2048, bloom_k: int = 3,
    partition_by: list[str] | None = None,
    branch: str | None = None,
    _cluster_within: list[str] | None = None,
    _cluster_parts: int | None = None,
) -> int:
    """Commit ``df`` to ``table`` as a new snapshot; returns the version.

    ``branch=`` commits onto a named branch (:func:`create_branch`)
    instead of the main chain — the Iceberg write-audit-publish
    staging write: the commit is a real snapshot (same protocol, same
    shared ``data/`` dir, own sequence numbers under ``_refs/<name>/``)
    but INVISIBLE to every main-chain reader until
    :func:`publish_branch` cherry-picks the branch head onto main.
    Branches inherit and keep enforcing the table's constraints and
    partition spec (the fork copies the main snapshot verbatim).

    ``append`` keeps every live shard and adds this job's; ``overwrite``
    makes this job's shards the only live ones (old files stay on disk
    for time travel until :func:`expire_snapshots`). ``properties`` is
    recorded verbatim in the snapshot (commit metadata — e.g. the
    streaming batch id :func:`streaming_snapshot_sink` uses for
    idempotent replay). ``stats_cols`` records per-shard min/max for
    those columns in the snapshot (numeric/string/date/timestamp/
    timestamp_ntz;
    temporal bounds are stored as epoch days/micros — see
    :data:`_STATS_COL_TYPES`), enabling shard skipping in
    :func:`read_snapshot` — the Iceberg/Delta file-pruning mechanism,
    which at 100 TB turns a key-range query from a full scan into a
    few-file read when the layout clusters the key (pair with
    ``writers.write_clustered``). Event-time is the canonical case:
    stats on a timestamp column let intra-day range scans skip shards
    at file granularity, finer than ``days(ts)`` partitioning alone.

    ``bloom_cols`` additionally records a small per-shard BLOOM FILTER
    per column (``bloom_bits`` bits × ``bloom_k`` hashes, stored as the
    sorted set-bit list — metadata weight) — the Delta bloom-index /
    Parquet bloom idea lifted into the snapshot log. Min/max stats
    cannot skip a POINT lookup on an unclustered high-cardinality key
    (every shard's range covers it); a bloom can: a key lives in one
    shard, and ``read_snapshot(bloom_point=(col, v))`` skips every
    shard whose filter provably excludes ``v`` (no false negatives;
    false-positive shards are scanned harmlessly). Integral/string
    columns only — the bloom hashes the portable string form, which
    floats do not round-trip across engines.

    ``partition_by`` declares PARTITION COLUMNS (Delta/Iceberg
    ``PARTITIONED BY``): staging splits the job's output so every
    shard holds exactly one partition tuple, and the snapshot log
    records each shard's values — :func:`read_snapshot`
    ``partition_filter`` and the official DataSource reader then skip
    non-matching shards from metadata alone, the coarsest and cheapest
    pruning tier (above stats, above blooms). The columns stay INSIDE
    the data files (hidden partitioning — readers never reconstruct
    values from paths), and the spec is table metadata: appends
    INHERIT it (passing a conflicting spec raises; pass nothing to
    follow the table), ``overwrite`` may redefine it (``[]``
    explicitly un-partitions; ``None`` inherits), and DML rewrites and
    compaction preserve it. Integral/string columns only — values are
    logged in portable string form.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot_table: unknown mode {mode!r}")
    if branch is not None and latest_version(table, branch) is None:
        raise FileNotFoundError(
            f"snapshot_table: branch {branch!r} does not exist on "
            f"{table}; create_branch() first — a branch write with no "
            f"fork point has no base to publish against"
        )
    for c in bloom_cols or []:
        t = df.schema[c].dataType.simpleString()
        if t not in ("int", "bigint", "smallint", "tinyint", "string"):
            raise ValueError(
                f"snapshot_table: bloom_cols supports integral/string "
                f"columns only; {c!r} is {t}"
            )
    # resolve the partition spec BEFORE staging (layout depends on it):
    # appends inherit the table's spec and reject a conflicting one;
    # overwrite inherits on None and redefines otherwise
    table_pb = table_partition_by(table, branch)
    if partition_by is None:
        pb = table_pb
    else:
        # canonicalize ("bucket( 8,doc_id )" == "bucket(8, doc_id)")
        # before comparing to the stored spec
        pb = [_parse_partition_spec(s)["spec"] for s in partition_by]
        if mode == "append" and latest_version(table, branch) is not None \
                and pb != table_pb:
            raise ValueError(
                f"snapshot_table: append with partition_by={pb} "
                f"conflicts with the table's spec {table_pb}; appends "
                f"inherit (pass nothing) — repartition via overwrite"
            )
    for spec in pb:
        f = _parse_partition_spec(spec)
        if f["source"] not in df.columns:
            raise ValueError(
                f"snapshot_table: partition column {f['source']!r} "
                f"not in DataFrame"
            )
        t = df.schema[f["source"]].dataType.simpleString()
        if t not in f["types"]:
            raise ValueError(
                f"snapshot_table: partition field {spec!r} supports "
                f"{'/'.join(f['types'])} source columns only; "
                f"{f['source']!r} is {t}"
            )
    validated = _base_constraints(table, branch)
    _enforce_constraints(df, validated)  # fail BEFORE staging any data
    # remember the base this job's schema was captured against: a
    # rebase that crosses a schema-evolution commit must conflict, not
    # silently merge (see the rename/drop check in apply)
    entry_version = latest_version(table, branch)
    published: list[str] = []
    mine, counts, stats, parts = _stage_publish(
        df, table, published, stats_cols, pb,
        cluster_within=_cluster_within,
        cluster_parts=_cluster_parts,
    )
    blooms = _compute_blooms(
        df.sparkSession, table, mine, bloom_cols or [],
        bloom_bits, bloom_k,
    )
    new = _shard_entries(mine, counts, stats, blooms, parts)

    def apply(snap: dict | None) -> dict:
        out = {
            "operation": mode,
            "properties": dict(properties or {}),
            "schema": df.schema.jsonValue(),
            "shards": new,
            "partition_by": pb,
        }
        if snap is None:
            return out  # first commit creates the table
        _recheck_constraints(df, validated, snap)
        if mode == "overwrite":
            # evolution compatibility is an APPEND concern only: an
            # overwrite replaces the table schema outright (Delta
            # overwriteSchema-style), so a type change there is a legal
            # redefinition, not an error. Constraints persist through
            # it; pending lazy deletes do not (nothing they cover is
            # live any more).
            out["deletes"] = []
            return out
        schema = _merge_schema(StructType.fromJson(snap["schema"]), df.schema)
        # a concurrent overwrite that changed the partition spec
        # invalidates this job's staged LAYOUT, not just its base —
        # rebasing silently would commit shards partitioned under the
        # old spec
        if snap.get("partition_by", []) != pb:
            raise ValueError(
                f"snapshot_table: table was re-partitioned to "
                f"{snap.get('partition_by', [])} while this "
                f"append (spec {pb}) was staging; retry the write"
            )
        # likewise, an append rebased across a concurrent
        # rename_column/drop_column would _merge_schema its ENTRY-TIME
        # df.schema into the evolved base and resurrect the
        # renamed/dropped name as a separate column, landing the new
        # rows under the stale name. Delta/Iceberg raise a metadata
        # conflict here; so do we.
        _rebase_evolution_guard(
            table, branch, snap, snap["version"], entry_version, "append",
        )
        # pending lazy deletes carry forward untouched: each one names
        # the shards it covers, and these new shards are not among them
        # (append-after-delete rows must survive)
        out["schema"] = schema.jsonValue()
        out["shards"] = snap["shards"] + new
        return out

    return _commit(table, branch, apply, published, create=True)


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None,
    prune: tuple | None = None, as_of: float | None = None,
    bloom_point: tuple | None = None,
    partition_filter: dict | None = None,
    branch: str | None = None, tag: str | None = None,
) -> DataFrame:
    """Scan one pinned snapshot (latest by default) — time travel via
    ``version=`` or ``as_of=`` (epoch seconds; resolved to the last
    commit at or before that instant by :func:`version_as_of` —
    mutually exclusive with ``version``). The schema comes from the
    snapshot, so shards written before a column existed read it as
    NULL (evolution contract).

    ``prune=(col, lo, hi)`` skips every shard whose recorded
    [min, max] for ``col`` (see ``write_snapshot(stats_cols=...)``) does
    not overlap [lo, hi] — file skipping from snapshot metadata alone,
    before any footer is opened. Shards without stats for ``col`` are
    conservatively kept; the caller still applies its own row filter
    (pruning is a scan reducer, not a filter). Temporal columns take
    ``datetime``/``date``/ISO-string probes (naive datetimes are
    interpreted in the session timezone, like Spark literals); a
    NUMBER against a timestamp column means epoch SECONDS — the same
    unit as ``as_of`` — and epoch DAYS against a date column.

    ``bloom_point=(col, value)`` skips every shard whose recorded Bloom
    filter for ``col`` (``write_snapshot(bloom_cols=...)``) provably
    excludes ``value`` — the POINT-lookup skipper min/max stats cannot
    provide on unclustered keys. No false negatives by construction;
    false-positive shards are merely scanned. Composes with ``prune``;
    same reducer-not-filter contract.

    ``partition_filter={col: value_or_list}`` skips every shard whose
    RECORDED partition value (``write_snapshot(partition_by=...)``)
    matches none of the wanted values — partition pruning, the
    coarsest tier: exact (a partitioned shard holds exactly one
    value per partition column, so unlike stats there are no false
    positives), metadata-only, and O(shards) cheap. Shards written
    before the table was partitioned carry no values and are
    conservatively kept; same reducer-not-filter contract (the caller
    still applies the row filter).

    Pending lazy deletes (``delete_where(lazy=True)``) are applied at
    read time — merge-on-read: shards are grouped by which delete
    conditions cover them (each delete records the shards live when it
    committed, so later appends are never affected), each group scans
    with its combined NOT-filter, and the groups union. With no pending
    deletes this is exactly one explicit-file-list scan."""
    if branch is not None and tag is not None:
        raise ValueError(
            "snapshot_table: branch= and tag= are mutually exclusive"
        )
    if tag is not None:
        # a tag is an immutable NAME for a main-chain version — resolve
        # and fall through to the plain pinned-version read
        if version is not None or as_of is not None:
            raise ValueError(
                "snapshot_table: tag= already pins a version; it is "
                "mutually exclusive with version= and as_of="
            )
        version = _load_tag(table, tag)["version"]
    if as_of is not None:
        if version is not None:
            raise ValueError(
                "snapshot_table: version= and as_of= are mutually exclusive"
            )
        if branch is not None:
            # branch commit stamps are monotonic within the BRANCH log
            # only; AS OF over a fork would silently mix two timelines
            raise ValueError(
                "snapshot_table: as_of= is main-chain only; pin a "
                "branch sequence with version= instead"
            )
        version = version_as_of(table, as_of)
    v = latest_version(table, branch) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_table: {table} has no snapshots"
            + (f" on branch {branch!r}" if branch is not None else "")
        )
    if prune is not None:
        # temporal probes (datetime/date/ISO string/epoch seconds) map
        # to the recorded epoch-int stats form BEFORE either pruning
        # tier sees them — otherwise the incomparable-types rule keeps
        # every shard and event-time range scans silently stop pruning
        prune = _normalize_prune(
            _raw_snapshot(table, v, branch)["schema"], prune
        )
    # the scan-path loader skips whole manifest segments whose rolled
    # summary provably excludes prune/partition predicates BEFORE any
    # per-shard triage — O(matching segments) driver metadata, the tier
    # that keeps a 1M-file table's filtered read off the full file list
    snap = _load_snapshot_scan(
        table, v, branch, prune=prune, partition_filter=partition_filter,
        # NULL probes are rejected below (blooms record no NULL bits);
        # never let one prune a segment first
        bloom_point=(
            bloom_point
            if bloom_point is not None and bloom_point[1] is not None
            else None
        ),
    )
    schema = StructType.fromJson(snap["schema"])
    shards = snap["shards"]
    if prune is not None:
        col, lo, hi = prune
        shards = [s for s in shards if _stats_overlap(s, col, lo, hi)]
    if bloom_point is not None:
        col, value = bloom_point
        if value is None:
            # blooms set no bits for NULLs (see _compute_blooms), so a
            # None probe would hash the string 'None' and prune shards
            # that DO hold NULL rows — a silent false negative. Point
            # lookup of NULL is not a bloom question; scan with a row
            # filter instead.
            raise ValueError(
                "snapshot_table: bloom_point value may not be None — "
                "Bloom filters record no bits for NULLs; use a row "
                "filter (col IS NULL) without bloom pruning"
            )
        shards = [s for s in shards if _bloom_may_contain(s, col, value)]
    pb = snap.get("partition_by", [])
    for key, want in (partition_filter or {}).items():
        tvals = _transform_probes(pb, key, want)
        shards = [s for s in shards if _partition_match(s, key, tvals)]
    return _scan_with_deletes(
        spark, table, schema, shards, snap.get("deletes", []),
    )


def _read_shards(
    spark: SparkSession, table: str, shards: list[dict],
    schema: StructType, with_pos: bool = False,
) -> DataFrame:
    """Explicit-file-list scan of ``shards`` surfacing the snapshot's
    LOGICAL ``schema``. A shard carrying a column mapping (``names``:
    logical -> physical, stamped by :func:`rename_column` /
    :func:`drop_column`) is read under its PHYSICAL names and aliased
    back — the Iceberg field-mapping read, which is what lets a rename
    avoid rewriting data files. A logical column absent from a shard's
    mapping (added after the shard was written, or re-added after a
    drop — the classic name-reuse trap) reads as NULL, never as the
    old physical bytes. Unmapped shards scan directly (the
    explicit-schema parquet read NULL-fills missing columns). One scan
    per distinct mapping; with no mappings this is exactly one scan.

    ``with_pos`` additionally surfaces each row's physical identity —
    ``__file`` (shard basename) and ``__pos`` (parquet ``_metadata.
    row_index``) — the coordinates positional deletion vectors key on.
    Files are immutable once committed, so (file, pos) is a stable
    row id across every later read of the same shard."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField

    pos_cols = (
        [
            F.substring_index(F.col("_metadata.file_path"), "/", -1)
            .alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        if with_pos else []
    )
    if not shards:
        df = spark.createDataFrame([], schema)
        if with_pos:
            df = df.withColumn(
                "__file", F.lit(None).cast("string")
            ).withColumn("__pos", F.lit(None).cast("bigint"))
        return df
    groups: dict[tuple | None, list[str]] = {}
    for s in shards:
        names = s.get("names")
        key = None if names is None else tuple(sorted(names.items()))
        groups.setdefault(key, []).append(s["file"])
    parts = []
    for key, files in sorted(
        groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or ())
    ):
        paths = [os.path.join(table, _DATA_DIR, n) for n in sorted(files)]
        if key is None:
            df = spark.read.schema(schema).parquet(*paths)
            parts.append(df.select("*", *pos_cols) if with_pos else df)
            continue
        mapping = dict(key)
        physical = StructType(
            [
                StructField(mapping[f.name], f.dataType, True)
                for f in schema.fields
                if f.name in mapping
            ]
        )
        df = spark.read.schema(physical).parquet(*paths)
        parts.append(
            df.select(
                *[
                    F.col(mapping[f.name]).alias(f.name)
                    if f.name in mapping
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ],
                *pos_cols,
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def _scan_with_deletes(
    spark: SparkSession, table: str, schema: StructType,
    shards: list[dict], deletes: list[dict],
    with_pos: bool = False,
) -> DataFrame:
    """Scan the given shard entries under a snapshot's pending
    tombstones — the merge-on-read kernel shared by
    :func:`read_snapshot` (whole snapshot) and :func:`read_cdc` (just
    the shards whose visibility changed at one commit). Two tombstone
    encodings compose here:

    - CONDITION (``{"condition", "shards"}``, from
      ``delete_where(lazy=True)``): the NOT-filter re-evaluates at
      read time;
    - POSITIONAL deletion vector (``{"positions", "shards",
      "n_rows"}``, from ``merge_upsert(mor=True)`` — Delta DV /
      Iceberg positional-delete shaped): ``positions`` names a parquet
      file of (file, pos) row coordinates under ``data/``; covered
      shards scan with their physical row identity surfaced and the
      DV anti-joins them away — broadcast when the recorded ``n_rows``
      is small (the common case: a DV holds one merge's matched rows),
      a plain join otherwise.

    Shards are grouped by which tombstones cover them; each group
    scans once (column-mapping aware, via :func:`_read_shards`);
    with no tombstones this is one explicit-file-list scan.
    ``with_pos=True`` keeps the ``__file``/``__pos`` identity columns
    on the result (the MoR writers need the VISIBLE rows' coordinates
    to stack a new vector on top)."""
    from functools import reduce

    from pyspark.sql import functions as F

    def _strip(df, had_pos):
        if had_pos and not with_pos:
            return df.drop("__file", "__pos")
        return df

    if not shards:
        return _read_shards(spark, table, [], schema, with_pos)
    if not deletes:
        return _read_shards(spark, table, shards, schema, with_pos)
    covers = [set(d["shards"]) for d in deletes]
    groups: dict[tuple, list[dict]] = {}
    for s in shards:
        key = tuple(i for i, cover in enumerate(covers) if s["file"] in cover)
        groups.setdefault(key, []).append(s)
    # one read (and at most one broadcast) per VECTOR, shared by every
    # shard group it covers — a stacked vector typically covers both
    # the original shards and a later merge's appends, two groups
    dv_dfs: dict[int, DataFrame] = {}
    for i, d in enumerate(deletes):
        if "positions" not in d:
            continue
        dv = spark.read.schema("file string, pos bigint").parquet(
            *[os.path.join(table, _DATA_DIR, n) for n in _dv_parts(d)]
        ).select(
            F.col("file").alias("__file"), F.col("pos").alias("__pos"),
        )
        # ~10 MB of (path-less name, bigint) rows — Spark's own
        # auto-broadcast ballpark; bigger vectors shuffle-join safely
        if d.get("n_rows", 0) <= 200_000:
            dv = F.broadcast(dv)
        dv_dfs[i] = dv
    parts = []
    for key, group in sorted(groups.items()):
        has_dv = any(i in dv_dfs for i in key)
        df = _read_shards(
            spark, table, group, schema, with_pos or has_dv
        )
        for i in key:
            if i in dv_dfs:
                df = df.join(dv_dfs[i], ["__file", "__pos"], "left_anti")
            else:
                cond = F.expr(deletes[i]["condition"]).cast("boolean")
                df = df.where(~F.coalesce(cond, F.lit(False)))
        parts.append(_strip(df, has_dv))
    return reduce(lambda a, b: a.unionByName(b), parts)


def expire_snapshots(
    table: str, keep_last: int = 1, older_than: float | None = None,
    orphan_older_than: float | None = None,
) -> dict:
    """Retention maintenance (Iceberg ``expire_snapshots`` shaped):
    drop expired snapshot files, then delete data shards no surviving
    snapshot references. Returns counts.

    ``keep_last`` keeps the newest N versions unconditionally.
    ``older_than`` (epoch seconds) is the time-based policy the
    public engines default to: additionally KEEP every snapshot
    committed at or after that instant, however many that is — so
    retention is "the last N versions, or everything younger than the
    cutoff, whichever keeps more". Expiring a snapshot removes it from
    :func:`version_as_of`'s reach (AS OF older than retention fails
    loudly, by design). Commit stamps are strictly monotonic, so the
    two policies agree on a single cutoff version.

    Deletion order is the reverse of commit: retire the snapshot files
    FIRST (after which the shards are unreferenced orphans), then the
    shards — a crash mid-way never leaves a live snapshot naming a
    deleted file.

    TAGGED versions (:func:`create_tag`) are never expired, whatever
    the policy says — a tag is the retention pin (Iceberg keeps
    tag-referenced snapshots through expiration for the same reason:
    an audit that cites a tag must stay readable until the tag itself
    is deleted). Branch logs are untouched (their forks hold verbatim
    COPIES of main snapshots, so expiring the main file never breaks
    a branch).

    ``orphan_older_than`` (seconds) threads the in-flight-writer grace
    window into the trailing orphan sweep, same as
    :func:`vacuum` — expiry's own deletions are unaffected (they
    follow snapshot liveness, not age), but the sweep for
    now-unreferenced shards then spares anything younger than the
    window, making scheduled retention safe next to live writers.
    """
    last = latest_version(table)
    if last is None:
        return {"snapshots_removed": 0, "shards_removed": 0}
    # protocol gate BEFORE any removal: the orphan sweep below refuses
    # snapshots requiring a newer reader (it cannot compute their
    # liveness), and that refusal must arrive while expiry is still a
    # no-op — raising AFTER the os.remove loop would have already
    # irreversibly dropped history while looking like a clean failure
    for p in glob.glob(
        os.path.join(_log_dir(table), "*.json")
    ) + glob.glob(os.path.join(table, _REFS_DIR, "*", "*.json")):
        try:
            with open(p) as f:
                required = json.load(f).get("reader_version", 1)
        except FileNotFoundError:
            continue
        if required > _READER_VERSION:
            raise ValueError(
                f"snapshot_table: {p} requires reader protocol "
                f"{required}; this reader supports up to "
                f"{_READER_VERSION} — refusing to expire history (the "
                f"orphan sweep cannot compute liveness for snapshots "
                f"it cannot fully interpret); upgrade before GC"
            )
    cutoff = last - max(1, keep_last)
    if older_than is not None:
        while cutoff >= 1:
            try:  # stamp only: raw read, no manifest resolution
                at = _raw_snapshot(table, cutoff).get("committed_at")
            except FileNotFoundError:  # already expired earlier
                break
            if at is None or at < older_than:
                break  # this one really is old enough to expire
            cutoff -= 1  # younger than the cutoff: keep it too
    tagged = {r["version"] for r in list_refs(table) if r["type"] == "tag"}
    removed_snaps = 0
    for v in range(1, cutoff + 1):
        if v in tagged:
            continue
        try:
            os.remove(_snap_path(table, v))
            removed_snaps += 1
        except FileNotFoundError:
            pass
    return {
        "snapshots_removed": removed_snaps,
        "shards_removed": _remove_unreferenced(
            table, older_than=orphan_older_than
        ),
    }


def vacuum(
    table: str, stage_older_than: float | None = None,
    dry_run: bool = False, orphan_older_than: float | None = None,
) -> dict:
    """Orphan-file GC (Delta ``VACUUM`` / Iceberg
    ``remove_orphan_files`` shaped): delete data files referenced by NO
    committed snapshot — the residue of crashed jobs and lost commit
    races, which the protocol guarantees are never referenced — WITHOUT
    touching any snapshot (history and time travel keep working,
    unlike :func:`expire_snapshots`). Safe concurrently with readers:
    an unreferenced file is unreachable from every snapshot by
    construction. Concurrent WRITERS are the hazard (a file published
    in step 2 but not yet claimed in step 3 looks orphaned):
    ``orphan_older_than`` (seconds) is the production-engine fix — the
    data/manifest orphan sweep then removes only files older than the
    window (Iceberg ``remove_orphan_files(older_than=...)``), so any
    in-flight write younger than it survives to commit and vacuum is
    safe to run next to live writers. Without it, the caller must not
    vacuum while a write is in flight. The window is mtime-based, so a
    ``dry_run`` preview with it reflects file ages AT PREVIEW TIME.

    ``stage_older_than`` (seconds) additionally sweeps the residue of
    CRASHED writers out of ``_tmp/``: the stream/batch Arrow writers
    stage shards there and a task that died before commit/abort leaves
    them forever (they are invisible — never referenced — but they are
    disk). Only files whose mtime is older than the threshold are
    removed (the age threshold is what makes this safe next to
    in-flight jobs); emptied staging directories are pruned. Off by
    default — the return dict gains ``staged_removed`` only when
    requested.

    ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``) returns the same
    counts without deleting anything — the operational preflight for
    the in-flight-writer hazard above: inspect what WOULD go before
    letting it go."""
    out = {
        "orphans_removed": _remove_unreferenced(
            table, dry_run=dry_run, older_than=orphan_older_than
        ),
        **({"dry_run": True} if dry_run else {}),
    }
    if stage_older_than is not None and dry_run:
        raise ValueError(
            "snapshot_table: vacuum(dry_run=True) does not preview the "
            "_tmp/ staging sweep — age-thresholded staging residue is "
            "time-dependent; run the preview without stage_older_than"
        )
    if stage_older_than is not None:
        cutoff = time.time() - stage_older_than
        staged = 0
        tmp_root = os.path.join(table, "_tmp")
        for root, _dirs, files in os.walk(tmp_root):
            for f in files:
                p = os.path.join(root, f)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        staged += 1
                except FileNotFoundError:
                    pass  # a concurrent abort got there first
        for root, dirs, _files in os.walk(tmp_root, topdown=False):
            if root != tmp_root:
                try:
                    os.rmdir(root)  # only succeeds when empty
                except OSError:
                    pass
        out["staged_removed"] = staged
    return out


def analyze_table(
    spark: SparkSession, table: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 2048, bloom_k: int = 3,
    branch: str | None = None,
) -> int:
    """Compute per-shard min/max stats (and optionally Bloom filters)
    for LIVE shards that lack them and restamp the snapshot log in one
    METADATA-ONLY commit (Delta ``ANALYZE``/``compute statistics``
    shaped) — no data file moves, no visible-row change (the commit is
    ``operation: 'metadata'``, which every stream source and CDC diff
    treats as row-preserving). Returns the new version, or the current
    one when every live shard already carries the requested metadata
    (idempotent no-op, commits nothing).

    This closes the stats gap for STREAMING-INGESTED tables: the
    exactly-once sink lands shards unstamped, so range scans on a hot
    table degrade to full-partition reads until a compaction rewrites
    the files — analyze restamps them after ONE distributed
    metadata-weight pass (`input_file_name` group-by, the same job
    shape the write path uses) at zero rewrite cost. At 100 TB that is
    the difference between "pruning returns after the nightly
    compaction" and "pruning returns after a stats pass over only the
    unstamped files".

    Shards carrying a column MAPPING (rename/drop evolution) are
    SKIPPED, not guessed at: reading a logical column by name from a
    mapped shard can hit a reused physical name and stamp WRONG stats,
    which unlike missing stats would prune incorrectly. Their count is
    recorded in ``properties.analyze_skipped_mapped``; compaction
    converges layouts and a later analyze covers them. Columns a shard
    physically lacks (pre-evolution files) stamp as ``[None, None]``
    stats — conservatively unprunable, never wrong — and the EMPTY
    bloom sentinel (``bits: []``, which provably excludes every probe:
    no non-null value exists in the file); zero-row and all-NULL files
    stamp the same way, so every target leaves the set and a repeat
    analyze is a true no-op. Concurrent commits are
    handled by the standard optimistic retry; already-computed per-file
    results are reused across retries (data files are immutable)."""
    from pyspark.sql import functions as F

    if not stats_cols and not bloom_cols:
        raise ValueError(
            "snapshot_table: analyze_table needs stats_cols and/or "
            "bloom_cols"
        )
    stat_cache: dict[str, dict] = {}
    bloom_cache: dict[str, dict] = {}

    def apply(head: dict) -> dict | None:
        schema = StructType.fromJson(head["schema"])
        for c in list(stats_cols or []) + list(bloom_cols or []):
            if c not in schema.fieldNames():
                raise ValueError(
                    f"snapshot_table: analyze_table column {c!r} "
                    f"not in the table schema"
                )
        for c in stats_cols or []:
            t = schema[c].dataType.simpleString()
            if t not in _STATS_COL_TYPES:
                raise ValueError(
                    f"snapshot_table: stats_cols supports "
                    f"numeric/string/date/timestamp/timestamp_ntz "
                    f"columns only; {c!r} is {t}"
                )
        for c in bloom_cols or []:
            t = schema[c].dataType.simpleString()
            if t not in ("int", "bigint", "smallint", "tinyint",
                         "string"):
                raise ValueError(
                    f"snapshot_table: bloom_cols supports "
                    f"integral/string columns only; {c!r} is {t}"
                )
        skipped_mapped = 0
        targets: list[dict] = []
        for s in head["shards"]:
            need_stats = any(
                c not in s.get("stats", {}) for c in stats_cols or []
            )
            need_bloom = any(
                c not in s.get("bloom", {}) for c in bloom_cols or []
            )
            if not (need_stats or need_bloom):
                continue
            if s.get("names") is not None:
                skipped_mapped += 1
                continue
            targets.append(s)
        if not targets:
            return None  # fully stamped already: no-op
        todo_stats = [
            s["file"] for s in targets
            if s["file"] not in stat_cache and stats_cols
        ]
        if todo_stats:
            aggs = []
            for c in stats_cols:
                # epoch-int bounds for temporal columns — same
                # recording rule as the write path (_stats_input)
                e = _stats_input(schema[c].dataType.simpleString(), c)
                aggs.append(F.min(e).alias(f"__min__{c}"))
                aggs.append(F.max(e).alias(f"__max__{c}"))
            rows = (
                spark.read.schema(schema).parquet(
                    *[
                        os.path.join(table, _DATA_DIR, n)
                        for n in todo_stats
                    ]
                )
                .groupBy(F.input_file_name().alias("f"))
                .agg(*aggs)
                .collect()
            )
            from urllib.parse import unquote

            for r in rows:
                name = os.path.basename(unquote(r["f"]))
                stat_cache[name] = {
                    c: [r[f"__min__{c}"], r[f"__max__{c}"]]
                    for c in stats_cols
                }
            for n in todo_stats:
                if n not in stat_cache:
                    # a zero-row file produces no group: stamp the
                    # conservative unprunable sentinel so it leaves
                    # the target set and re-analyze stays a no-op
                    stat_cache[n] = {
                        c: [None, None] for c in stats_cols
                    }
        todo_bloom = [
            s["file"] for s in targets
            if s["file"] not in bloom_cache and bloom_cols
        ]
        if todo_bloom:
            # schema-pinned like the stats pass: target files may
            # PREDATE a bloom column (evolution) — the pinned read
            # NULL-fills it and the file stamps the empty sentinel
            # instead of failing analysis
            bloom_cache.update(
                _compute_blooms(
                    spark, table, todo_bloom, list(bloom_cols),
                    bloom_bits, bloom_k, schema=schema,
                )
            )
        restamped = []
        target_names = {s["file"] for s in targets}
        for s in head["shards"]:
            if s["file"] not in target_names:
                restamped.append(s)
                continue
            s = dict(s)
            if stats_cols:
                s["stats"] = {
                    **s.get("stats", {}),
                    **{
                        c: v
                        for c, v in stat_cache.get(
                            s["file"], {}
                        ).items()
                        if c not in s.get("stats", {})
                    },
                }
            if bloom_cols:
                s["bloom"] = {
                    **s.get("bloom", {}),
                    **{
                        c: v
                        for c, v in bloom_cache.get(
                            s["file"], {}
                        ).items()
                        if c not in s.get("bloom", {})
                    },
                }
            restamped.append(s)
        out = {
            "operation": "metadata",
            "properties": {
                "analyzed": len(targets),
                **(
                    {"analyze_stats_cols": sorted(stats_cols)}
                    if stats_cols else {}
                ),
                **(
                    {"analyze_bloom_cols": sorted(bloom_cols)}
                    if bloom_cols else {}
                ),
                **(
                    {"analyze_skipped_mapped": skipped_mapped}
                    if skipped_mapped else {}
                ),
            },
            "schema": head["schema"],
            "shards": restamped,
        }
        if head.get("base_version"):  # a fork head keeps its fork point
            out["base_version"] = head["base_version"]
        return out

    return _commit(table, branch, apply)


def rewrite_manifests(table: str, branch: str | None = None) -> int:
    """Compact the head snapshot's manifest segments into ONE segment
    (Iceberg ``rewrite_manifests`` shaped) as a metadata-only commit —
    no data file moves, no visible-row change (CDC over it emits
    nothing: the file set is identical). Steady-state appends roll one
    ~:data:`_MANIFEST_INLINE_MAX`-entry segment per that many new
    files, so segment count grows ~live_files/max; run this when the
    segment list itself gets long, exactly like compacting small data
    files. Returns the new version (or the current one unchanged when
    there is nothing to compact: zero or one segment and no inline
    spill)."""

    def apply(head: dict) -> dict | None:
        raw = _raw_snapshot(table, head["version"], branch)
        mans = raw.get("manifests", [])
        if len(mans) <= 1 and not (mans and raw.get("shards")):
            return None  # already compact: nothing to rewrite
        out = {k: head[k] for k in ("schema", "shards", "base_version")
               if k in head}
        out.update(
            operation="rewrite_manifests",
            properties={"rewrote_segments": len(mans)},
            _rewrite_manifests=True,
        )
        return out

    return _commit(table, branch, apply)


# ---------------------------------------------------------------------------
# Refs: branches + tags (Iceberg refs / write-audit-publish)
#
# A BRANCH is an independent snapshot log under _refs/<name>/ sharing
# the table's data/ directory: same snapshot format, same put-if-absent
# commit protocol, its own sequence numbers. Sequence 1 (the FORK) is a
# verbatim copy of one main-chain snapshot plus a recorded
# base_version; write_snapshot(branch=...) then commits onto the branch
# head, invisible to every main-chain reader. publish_branch()
# cherry-picks the branch head's table state onto main as one commit —
# the Iceberg WAP flow (write to the audit branch, audit it, publish) —
# and conflicts LOUDLY if main advanced past the fork base, because a
# squash-publish over someone else's commit would silently drop it.
# A TAG is an immutable name for one main-chain version; expire_
# snapshots() keeps tagged versions alive, so a tag is the retention
# pin the public formats use for "keep the audited release readable
# forever". BOTH ref types claim the SAME put-if-absent file
# (_refs/<name>.ref.json), so a tag and a branch can never race into
# the same name — one namespace, one claim point, exactly like the
# snapshot chain itself.
# ---------------------------------------------------------------------------

_REF_NAME_OK = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-."
)


def _check_ref_name(name: str) -> None:
    # "." and ".." would alias the branch log onto _refs/ itself or the
    # table root (drop_branch would then rmtree EVERYTHING); a leading
    # non-alphanumeric also rules out other dots-only spellings. A
    # ".json" suffix is rejected too: a branch named "x.ref.json" would
    # put its log DIRECTORY where list_refs' "*.ref.json" glob expects
    # claim files, and open() on a directory would crash GC.
    if (
        not name
        or len(name) > 128
        or not set(name) <= _REF_NAME_OK
        or not name[0].isalnum()
        or name.endswith((".ref", ".tag", ".json"))
    ):
        raise ValueError(
            f"snapshot_table: invalid ref name {name!r} (letters/"
            f"digits/_-. only, must start alphanumeric, <=128 chars, "
            f"may not end with '.ref'/'.tag'/'.json')"
        )


def _ref_path(table: str, name: str) -> str:
    return os.path.join(table, _REFS_DIR, f"{name}.ref.json")


def _claim_ref(table: str, name: str, payload: dict) -> bool:
    """Put-if-absent claim of the ref NAME (shared by tags and
    branches — the single claim point that makes cross-type duplicate
    names impossible). True = claimed; False = the name is taken."""
    os.makedirs(os.path.join(table, _REFS_DIR), exist_ok=True)
    tmp = os.path.join(table, "_tmp", f"ref-{uuid.uuid4().hex}.json")
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, _ref_path(table, name))
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _load_ref(table: str, name: str) -> dict | None:
    try:
        with open(_ref_path(table, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _load_tag(table: str, name: str) -> dict:
    ref = _load_ref(table, name)
    if ref is None:
        raise FileNotFoundError(
            f"snapshot_table: no tag {name!r} on {table}"
        )
    if ref.get("type") != "tag":
        raise ValueError(
            f"snapshot_table: ref {name!r} on {table} is a "
            f"{ref.get('type')}, not a tag"
        )
    return ref


def create_tag(table: str, name: str, version: int | None = None) -> int:
    """Name a main-chain version immutably (Iceberg tag). Claimed with
    the same put-if-absent link as snapshots, so a concurrent duplicate
    — tag OR branch — loses loudly; re-pointing a tag means delete_tag
    + create_tag (the immutability IS the contract — audits cite tags
    precisely because they cannot move). Returns the tagged version."""
    _check_ref_name(name)
    v = latest_version(table) if version is None else version
    if v is None or not os.path.exists(_snap_path(table, v)):
        raise FileNotFoundError(
            f"snapshot_table: cannot tag version {v!r} of {table} — "
            f"no such committed snapshot"
        )
    if not _claim_ref(
        table, name,
        {"name": name, "type": "tag", "version": v,
         "created_at": time.time()},
    ):
        raise FileExistsError(
            f"snapshot_table: a ref named {name!r} already exists"
        )
    return v


def delete_tag(table: str, name: str) -> None:
    """Drop a tag (its version becomes expirable again)."""
    _load_tag(table, name)  # raises on absent name or branch ref
    try:
        os.remove(_ref_path(table, name))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"snapshot_table: no tag {name!r} on {table}"
        ) from None


def create_branch(
    table: str, name: str, at_version: int | None = None,
) -> int:
    """Fork a branch from a main-chain version (latest by default):
    branch sequence 1 is a verbatim copy of that snapshot plus the
    recorded ``base_version`` that :func:`publish_branch` later
    validates against. The NAME is claimed put-if-absent in the shared
    ref namespace first, then the fork snapshot — two concurrent
    create_branch calls (or a branch racing a tag) for the same name
    race safely; a crash between the two claims leaves a torn ref that
    a retry of create_branch repairs. Returns the fork's branch
    sequence (always 1)."""
    _check_ref_name(name)
    base = latest_version(table) if at_version is None else at_version
    if base is None or not os.path.exists(_snap_path(table, base)):
        raise FileNotFoundError(
            f"snapshot_table: cannot fork {name!r} at version {base!r} "
            f"of {table} — no such committed snapshot"
        )
    if not _claim_ref(
        table, name,
        {"name": name, "type": "branch", "created_at": time.time()},
    ):
        ref = _load_ref(table, name)
        torn = (
            ref is not None
            and ref.get("type") == "branch"
            and latest_version(table, name) is None
        )
        if not torn:
            raise FileExistsError(
                f"snapshot_table: a ref named {name!r} already exists"
            )
        # torn create (marker claimed, fork never committed): fall
        # through and claim the fork — the repair path
    fork = dict(_load_snapshot(table, base))
    fork.update(
        {
            "version": 1,
            "parent": None,
            "operation": "fork",
            "branch": name,
            "base_version": base,
            "properties": {"forked_from": base},
        }
    )
    tmp_dir = os.path.join(table, "_tmp", f"fork-{uuid.uuid4().hex}")
    try:
        if not _claim_snapshot(table, tmp_dir, fork, branch=name):
            raise FileExistsError(
                f"snapshot_table: a branch named {name!r} already exists"
            )
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return 1


def drop_branch(table: str, name: str) -> None:
    """Delete a branch: its snapshot log first, then its name claim.
    Data files only the branch referenced become orphans;
    :func:`vacuum` reclaims them. (Deletion order mirrors create in
    reverse — a crash between the two leaves a torn ref that
    create_branch's repair path or a drop_branch retry clears.)"""
    ref = _load_ref(table, name)
    if ref is None or ref.get("type") != "branch":
        raise FileNotFoundError(
            f"snapshot_table: no branch {name!r} on {table}"
        )
    shutil.rmtree(os.path.join(table, _REFS_DIR, name), ignore_errors=True)
    try:
        os.remove(_ref_path(table, name))
    except FileNotFoundError:
        pass  # a concurrent drop got there first


def list_refs(table: str) -> list[dict]:
    """All refs, sorted by name: tags as ``{"name", "type": "tag",
    "version"}``, branches as ``{"name", "type": "branch", "head_seq",
    "base_version"}``. Concurrently-dropped refs and torn branch
    creates (name claimed, fork not yet committed) are skipped, never
    crashed on — this runs inside GC."""
    out = []
    root = os.path.join(table, _REFS_DIR)
    for p in sorted(glob.glob(os.path.join(root, "*.ref.json"))):
        if not os.path.isfile(p):
            continue  # a stray directory matching the glob is not a ref
        try:
            with open(p) as f:
                ref = json.load(f)
        except FileNotFoundError:
            continue  # dropped concurrently
        name = ref.get("name")
        if ref.get("type") == "tag":
            out.append(
                {"name": name, "type": "tag", "version": ref["version"]}
            )
            continue
        head = latest_version(table, name)
        if head is None:
            continue  # torn create_branch: no claimed fork yet
        try:
            fork = _load_snapshot(table, 1, name)
        except FileNotFoundError:
            continue  # dropped between the two reads
        out.append(
            {
                "name": name,
                "type": "branch",
                "head_seq": head,
                "base_version": fork.get("base_version"),
            }
        )
    return sorted(out, key=lambda r: r["name"])


def publish_branch(table: str, branch: str) -> int:
    """Cherry-pick the branch head's table state onto main as ONE
    commit (Iceberg WAP publish): schema, shards, deletes, constraints,
    and partition spec all come from the branch head; the new main
    snapshot records which branch and sequence it published. The
    publish only commits while main's head still equals the branch's
    fork base — if main advanced, a squash over the interleaved commit
    would silently drop it, so the publish conflicts loudly
    (re-fork + replay is the caller's retry, exactly Iceberg's
    cherry-pick ancestry rule). Publishing a branch with no commits
    beyond the fork is refused (nothing to publish — no version churn,
    same discipline as the no-op DML guard). Returns the new main
    version; the branch is left intact for the caller to drop.

    Streaming-sink commits on the branch carry ``streaming_batch_id``
    stamps; the publish does NOT copy them verbatim (a leaked stamp on
    a main commit would poison main-chain sink idempotence). Instead it
    records each lineage's HIGH-WATER batch id under
    ``published_streaming`` — the durable replay ledger the branch sink
    consults after the documented publish → drop_branch → create_branch
    cycle destroys the branch's own log (the Delta txnAppId discipline:
    the ledger lives in the store that persists)."""
    head_seq = latest_version(table, branch)
    if head_seq is None:
        raise FileNotFoundError(
            f"snapshot_table: no branch {branch!r} on {table}"
        )
    if head_seq == 1:
        raise ValueError(
            f"snapshot_table: branch {branch!r} has no commits beyond "
            f"its fork; nothing to publish"
        )
    head = _load_snapshot(table, head_seq, branch)
    base = _load_snapshot(table, 1, branch).get("base_version")
    # per-lineage streaming high-water marks across the WHOLE branch log
    # (app_id None keys as "" — JSON keys are strings)
    lineages: dict[str, int] = {}
    for s in snapshot_history(table, branch):
        props = s.get("properties", {})
        bid = props.get("streaming_batch_id")
        if bid is None:
            continue
        key = props.get("streaming_app_id") or ""
        lineages[key] = max(lineages.get(key, -1), bid)
    merged: dict[str, int] = {}

    def apply(snap: dict) -> dict:
        current = snap["version"]
        if current != base:
            raise ValueError(
                f"snapshot_table: cannot publish branch {branch!r}: "
                f"main is at version {current} but the branch forked "
                f"from {base} — a squash-publish would drop the "
                f"interleaved commits; re-fork from {current} and "
                f"replay the branch writes"
            )
        props = {
            # streaming_* stamps stay off main commits: the main sink's
            # replay scan matches on those exact keys, and a leaked
            # branch stamp would make it skip or duplicate real main
            # batches
            k: v
            for k, v in head.get("properties", {}).items()
            if not k.startswith("streaming_")
        }
        props["published_branch"] = branch
        props["published_seq"] = head_seq
        # carry EVERY known lineage's mark forward, not just this
        # branch's: merge the durable ledger + the base snapshot's marks
        # + this window's — so the latest publish commit and the ledger
        # each hold the COMPLETE map and retention can never erase a
        # lineage's only high-water mark
        merged.clear()
        merged.update(_ledger_marks(table))
        base_marks = snap.get("properties", {}).get("published_streaming", {})
        for src in (base_marks, lineages):
            for k, v in src.items():
                merged[k] = max(merged.get(k, -1), v)
        if merged:
            props["published_streaming"] = merged
        # the table state comes from the branch head alone: an empty
        # deletes/constraints/spec there must not inherit main's
        return {
            "deletes": [], "constraints": {}, "partition_by": [],
            **{
                k: v
                for k, v in head.items()
                if k not in (
                    "version", "parent", "operation", "branch",
                    "base_version", "committed_at", "properties",
                )
            },
            "operation": "publish",
            "properties": props,
        }

    # a lost claim re-runs apply, whose fork-base check then conflicts
    version = _commit(table, None, apply)
    if merged:
        _ledger_append(table, merged)
    return version


_LEDGER_DIR = "_ledger"  # under _refs/: survives expire_snapshots


def _ledger_marks(table: str) -> dict[str, int]:
    """Latest entry of the durable streaming-publish ledger (empty if
    none). The ledger is a put-if-absent sequence chain under
    ``_refs/_ledger/`` — expire_snapshots never touches ``_refs``, so a
    lineage's high-water mark outlives the publish snapshot that first
    recorded it (the Delta txnAppId discipline: the replay ledger lives
    in durable table state, not in expirable history)."""
    seq = latest_version(table, _LEDGER_DIR)
    if seq is None:
        return {}
    try:
        return _load_snapshot(table, seq, _LEDGER_DIR).get("marks", {})
    except FileNotFoundError:
        return {}


def _ledger_append(table: str, marks: dict[str, int]) -> None:
    """Append a merged ledger entry (claim loop: losers re-merge with
    the winner and retry). Ledger entries are not snapshots — no
    schema, shards or parent chain — so this claims directly instead of
    going through :func:`_commit`."""
    tmp_dir = os.path.join(table, "_tmp", f"ledger-{uuid.uuid4().hex}")
    try:
        while True:
            prev = _ledger_marks(table)
            merged = dict(prev)
            for k, v in marks.items():
                merged[k] = max(merged.get(k, -1), v)
            if merged == prev:
                return  # nothing new to record
            seq = (latest_version(table, _LEDGER_DIR) or 0) + 1
            entry = {"version": seq, "parent": None, "marks": merged}
            if _claim_snapshot(table, tmp_dir, entry, _LEDGER_DIR):
                return
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)


def streaming_snapshot_sink(
    table: str, app_id: str | None = None, branch: str | None = None,
):
    """Exactly-once streaming writes into a snapshot table: a
    ``foreachBatch`` function committing each micro-batch as one atomic
    APPEND snapshot stamped with its batch id.

    ``branch=`` is the STREAMING write-audit-publish form: micro-batches
    land on an audit branch (:func:`create_branch` first), invisible to
    main readers, with the same batch-id idempotence replayed against
    the BRANCH's log; a downstream audit then :func:`publish_branch`-es
    the accumulated window onto main as one commit. This is how a
    continuous ingest gets gated without ever exposing unaudited rows.

    foreachBatch is at-least-once — after a crash Spark replays the last
    un-checkpointed batch — so the sink is made idempotent by the
    snapshot log itself: a replayed batch id that already appears in a
    committed snapshot is skipped. The commit is atomic (hard-link
    create), so a crash mid-commit leaves either no snapshot (replay
    re-commits; the half-published shards are unreferenced orphans) or a
    complete one (replay skips) — never a partial batch. This is the
    file-sink transactionality Structured Streaming's built-in parquet
    sink gets from its own _spark_metadata log, provided here by the
    table format so batch writers, streaming writers, and time travel
    share ONE commit history.

    ``app_id`` namespaces the idempotence key (the Delta
    ``txnAppId``+``txnVersion`` pattern): batch ids restart at 0 for a
    query on a fresh checkpoint and for every distinct query, so two
    writer lineages into ONE table must carry distinct ``app_id``s or
    the second's early batches would be skipped as replays of the
    first's. With ``app_id=None`` (legacy) the table accepts exactly
    ONE streaming checkpoint lineage — the single-writer contract —
    and ignores any namespaced commits when checking replays.

    Replay lookback walks the snapshot history; batch ids are monotonic
    within a lineage, so only that lineage's most recent snapshot can
    matter — at 100 TB pair this with :func:`expire_snapshots`
    retention (bounded history) as any Delta/Iceberg deployment does.
    """
    return _exactly_once(
        table, app_id, branch,
        lambda batch_df, props: write_snapshot(
            batch_df, table, mode="append", properties=props, branch=branch,
        ),
    )


def _exactly_once(
    table: str, app_id: str | None, branch: str | None, apply,
):
    """The ``foreachBatch`` function of a streaming sink: skips a batch
    id this writer lineage already committed
    (:func:`_streaming_replayed`) and otherwise runs
    ``apply(batch_df, props)``, whose ONE commit must carry ``props`` —
    the ``streaming_batch_id`` (and ``streaming_app_id``) stamp the
    replay check reads back."""
    if app_id == "":
        # "" is the ledger/publish-map key for app_id=None (JSON keys
        # are strings); allowing a user lineage named "" would make the
        # two share one high-water mark and silently skip each other's
        # replayed batches after a publish.
        raise ValueError(
            "snapshot_table: app_id='' is reserved for the unnamed "
            "lineage (app_id=None); pass a non-empty app_id or None"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if _streaming_replayed(table, app_id, batch_id, branch):
            return
        props = {"streaming_batch_id": batch_id}
        if app_id is not None:
            props["streaming_app_id"] = app_id
        apply(batch_df, props)

    return sink


def _streaming_replayed(
    table: str, app_id: str | None, batch_id: int, branch: str | None,
) -> bool:
    """The shared idempotence check behind every streaming sink: has a
    commit of THIS writer lineage already landed this batch id? Walks
    the (branch) log for the lineage's most recent stamp; for branches
    it additionally consults the durable ``_refs/_ledger`` chain and
    the latest publish commit's ``published_streaming`` map — the
    branch's own log is destroyed by the WAP cycle (publish →
    drop_branch → re-create), so a replay racing a window rollover
    finds a fresh empty log, and the ledger (carried forward by every
    publish, immune to expire_snapshots) is what remembers the
    published high-water mark. Batch ids are monotonic per lineage, so
    only the most recent stamp can matter."""
    for snap in reversed(_raw_history(table, branch)):
        props = snap.get("properties", {})
        done = props.get("streaming_batch_id")
        if done is None or props.get("streaming_app_id") != app_id:
            continue  # not a commit from THIS writer lineage
        if done == batch_id:
            return True  # at-least-once replay of a committed batch
        if done < batch_id:
            break  # monotonic per lineage: older can't hold this id
    if branch is not None:
        key = app_id or ""
        done = _ledger_marks(table).get(key, -1)
        if done >= batch_id:
            return True  # replay of an already-PUBLISHED batch
        for snap in reversed(_raw_history(table)):
            marks = snap.get("properties", {}).get(
                "published_streaming", {}
            )
            if key in marks:
                if marks[key] >= batch_id:
                    return True  # replay of an already-PUBLISHED batch
                break  # high-water marks are monotonic per lineage
    return False


def streaming_merge_sink(
    table: str, key_cols: list[str], app_id: str | None = None,
    mor: bool = True, branch: str | None = None,
):
    """Exactly-once streaming UPSERT into a snapshot table: a
    ``foreachBatch`` function applying each micro-batch as ONE
    :func:`merge_upsert` commit — the Delta "MERGE in foreachBatch"
    CDC-apply pattern, keyed by ``key_cols``. With ``mor=True`` (the
    default, and the point) every batch costs O(batch + one coordinate
    scan of the matched shards) via deletion vectors instead of a CoW
    rewrite of every matched file per micro-batch — pair with a
    periodic :func:`compact_table` to materialise the stacked vectors,
    exactly the cadence a continuous CDC-apply runs at 100 TB.
    ``mor=False`` is the CoW form for low-rate streams (note it
    refuses while any tombstones are pending, so it cannot follow a
    MoR batch without compaction in between).

    Idempotence is the same snapshot-log replay protocol as
    :func:`streaming_snapshot_sink` (``app_id`` namespacing, branch
    WAP + durable-ledger rules included): a replayed batch id that
    already appears in a committed snapshot of this lineage is
    skipped, so the at-least-once ``foreachBatch`` contract becomes
    exactly-once table state. Each batch must carry at most one row
    per key (the ambiguous-merge refusal is loud) — dedup upstream
    with ``dropDuplicates``/``max_by`` as Delta's pattern prescribes.
    """

    def apply(batch_df: DataFrame, props: dict) -> None:
        # pin the micro-batch: merge_upsert runs several actions over
        # its input (ambiguity gate, match scan, stage write), and a
        # batch backed by a Python streaming source re-executes the
        # whole Python-boundary scan per action without this (guide
        # §4: cross the JVM<->Python boundary once)
        batch_df = batch_df.persist()
        try:
            merge_upsert(
                batch_df, table, key_cols=key_cols, mor=mor,
                branch=branch, properties=props,
            )
        finally:
            batch_df.unpersist()

    return _exactly_once(table, app_id, branch, apply)


def streaming_cdc_apply_sink(
    table: str, key_cols: list[str], app_id: str | None = None,
    mor: bool = True, branch: str | None = None,
):
    """Apply a ``snapshot_cdc``-shaped change feed (table rows +
    ``_change_type`` 'insert'|'delete' + ``_commit_version``) to a
    downstream table as ONE exactly-once merge per micro-batch — the
    replication leg that completes the table→table CDC loop: upstream
    DML → ``snapshot_cdc`` stream → this sink → downstream equals
    upstream, no version polling, no manual diffing.

    Per batch the feed first REDUCES to one decision per key (a batch
    can span several upstream commits touching the same key):

    - keep the change with the highest ``_commit_version`` per key;
    - within that version, 'insert' beats 'delete' — an upstream
      UPDATE arrives as its delete(pre)+insert(post) pair at ONE
      version, and its net effect is the post-image; a version whose
      only change for the key is 'delete' is a true delete.

    Survivors then apply in one :func:`merge_upsert`: post-images as
    ``updates``, deleted keys as ``delete_keys`` — the metadata
    columns never touch the target's schema. Idempotence is the same
    snapshot-log replay protocol as :func:`streaming_merge_sink`
    (``app_id`` namespacing, branch rules included), and the merge's
    no-op rule means idle feed windows commit nothing.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def apply(batch_df: DataFrame, props: dict) -> None:
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc("_commit_version"),
            F.when(F.col("_change_type") == "insert", 0).otherwise(1),
        )
        # pin the per-key reduction: post/dead and every merge_upsert
        # action below would otherwise re-run the window AND the
        # Python streaming source's Arrow scan per action (measured
        # round 13: addBatch 7.9s -> the merge's own ~2s once pinned)
        reduced = (
            batch_df.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") == 1)
            .drop("__rank")
            .persist()
        )
        payload = [
            c for c in reduced.columns
            if c not in ("_change_type", "_commit_version")
        ]
        post = reduced.where(
            F.col("_change_type") == "insert"
        ).select(*payload)
        dead = reduced.where(
            F.col("_change_type") == "delete"
        ).select(*key_cols)
        try:
            merge_upsert(
                post, table, key_cols=key_cols, delete_keys=dead,
                mor=mor, branch=branch, properties=props,
            )
        finally:
            reduced.unpersist()

    return _exactly_once(table, app_id, branch, apply)


# coordinate rows per deletion-vector part file: each publish task
# writes at most this many (file, pos) rows, so a merge/update matching
# tens of millions of rows fans its vector write across executors
# instead of funnelling through one task — ~200 MB of coordinates per
# part at typical shard-name lengths. One micro-batch-sized vector
# (the common CDC-apply case) still lands as a single file.
_DV_ROWS_PER_PART = 4_000_000


def _stage_dv(
    matched: DataFrame, table: str, published: list[str],
) -> dict | None:
    """Write visible matched-row coordinates (``__file``/``__pos``) as
    deletion-vector parquet part(s) published under ``data/``
    (invisible until a snapshot's tombstone names them — same two-step
    protocol as shards; each part is appended to ``published`` as it
    lands, like :func:`_stage_publish`). Small vectors
    (≤ :data:`_DV_ROWS_PER_PART` coordinates) stay ONE file; bigger
    ones split into ``ceil(n / _DV_ROWS_PER_PART)`` round-robin parts
    written in parallel, so a GDPR-scale delete never serialises
    O(matched rows) through a single task. Returns the positional
    tombstone naming them — ``{"positions", "shards", "n_rows"}`` with
    the covered files — or None when nothing matched."""
    import math

    from pyspark.sql import functions as F

    coords = matched.select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    ).persist()
    out = os.path.join(table, "_tmp", uuid.uuid4().hex)
    try:
        # one tight aggregation for total + distinct covered files
        # (was groupBy("file").count().collect(): a 32-partition
        # shuffle AQE split into ~4 jobs; the file set is metadata-
        # scale — bounded by the snapshot's shard count — so
        # collect_set moves strictly less data to the driver than the
        # per-file rows did)
        g = coords.agg(
            F.count(F.lit(1)).alias("__n"),
            F.collect_set("file").alias("__files"),
        ).collect()[0]
        if not g["__n"]:
            return None
        total = int(g["__n"])
        n_parts = max(1, math.ceil(total / _DV_ROWS_PER_PART))
        # range-partition + sort by (file, pos): parts stay row-count
        # bounded AND file-clustered, so a per-covered-file read (the
        # CDC stream pushes filters=[("file","=",name)]) prunes whole
        # parts/row-groups instead of scanning the entire vector —
        # round-robin would scatter every file across every part
        (
            coords.repartitionByRange(n_parts, "file", "pos")
            .sortWithinPartitions("file", "pos")
            if n_parts > 1
            else coords.coalesce(1).sortWithinPartitions("file", "pos")
        ).write.mode("overwrite").parquet(out)
        staged = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        stem = f"dv-{uuid.uuid4().hex}"
        names = []
        for i, p in enumerate(staged):
            name = (
                f"{stem}.parquet" if len(staged) == 1
                else f"{stem}-{i:05d}.parquet"
            )
            os.replace(p, os.path.join(table, _DATA_DIR, name))
            published.append(name)
            names.append(name)
        return {
            "positions": names[0] if len(names) == 1 else names,
            "shards": sorted(g["__files"]),
            "n_rows": total,
        }
    finally:
        coords.unpersist()
        shutil.rmtree(out, ignore_errors=True)


def _dv_parts(tombstone: dict) -> list[str]:
    """The part file(s) of a positional tombstone — ``positions`` is a
    bare string for single-part vectors (the original on-disk form,
    kept so pre-split tables read unchanged) and a list for vectors
    big enough to have fanned out across writer tasks."""
    p = tombstone["positions"]
    return [p] if isinstance(p, str) else list(p)


def merge_upsert(
    updates: DataFrame, table: str, key_cols: list[str],
    prune_col: str | None = None, delete_condition: str | None = None,
    delete_keys: DataFrame | None = None,
    partition_prune: dict | None = None,
    branch: str | None = None,
    mor: bool = False,
    properties: dict | None = None,
) -> int:
    """Copy-on-write MERGE (Delta ``MERGE WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT``-shaped): rows in ``updates`` replace current rows
    with the same key; unmatched keys insert. One atomic snapshot.

    ``mor=True`` is the MERGE-ON-READ encoding (Delta deletion vectors
    / Iceberg positional deletes): instead of rewriting every matched
    file, the merge appends the updates as new shards and records the
    matched rows' physical coordinates (shard file, parquet row index)
    in a small deletion-vector parquet; readers subtract them via an
    anti-join in :func:`_scan_with_deletes`. Write cost drops from
    O(matched files) to O(updates + one coordinate scan of the matched
    files) — the update-heavy 100 TB workload (CDC apply, GDPR
    deletes, feature backfills) where CoW rewrite amplification is the
    bottleneck. MoR merges STACK (each adds a vector over the still-
    visible rows), and :func:`compact_table` materialises all pending
    vectors back into clean files — the standing compaction cadence
    the public formats pair with DVs. Read-side cost until then: one
    broadcast anti-join per vector over the covered shards only.
    CoW DML refuses while vectors are pending (compact first), exactly
    as with condition tombstones; schema evolution COMPOSES — the
    coordinates are name-free, so rename/drop/add commit straight over
    a pending vector.

    Plan shape: current LEFT ANTI updates on the keys (drop the rows
    being replaced) union the updates — two scans and one join, no
    driver-side row handling; at 100 TB the anti-join broadcast-builds
    when updates are small (the common upsert) and shuffles otherwise.

    ``branch=`` merges onto a BRANCH head (WAP remediation: upsert
    corrected rows on the audit branch, re-audit, publish) — the third
    branch-DML leg next to ``delete_where``/``update_where``; same
    shared ``data/`` staging, commit in the branch log only.

    ``prune_col`` (one of ``key_cols``) makes the rewrite PARTIAL: the
    updates' [min, max] on that column bounds which keys can match, so
    every live shard whose recorded stats (``stats_cols`` /
    ``compact_table(cluster_by=...)``) are disjoint from it is carried
    over verbatim — zero read, zero write. That turns a small upsert
    against a clustered 100 TB table from a full-table rewrite into
    O(matched files + updates), which is what Delta/Iceberg derive from
    the merge condition automatically. Shards without stats for
    ``prune_col`` are conservatively rewritten; correctness never
    depends on the stats (a shard is skipped only when its key range
    provably cannot intersect the updates). An all-NULL ``prune_col``
    in ``updates`` falls back to a full rewrite. For update-heavy
    workloads the merge-on-read encoding (delete vectors) layers on
    top of the same snapshot protocol.

    ``partition_prune={field: source_value_or_list}`` is the
    partitioned-table form (caller contract: every key in ``updates``
    lies in those partitions): non-matching shards carry over EXACTLY.
    Composes with ``prune_col`` — a shard is rewritten only if both
    tiers keep it.

    ``delete_condition`` is the MERGE delete clause (Delta ``WHEN
    MATCHED [AND cond] THEN DELETE`` shaped), evaluated on each
    UPDATES row: a matching row REMOVES its key from the table instead
    of updating it, and an unmatched one inserts nothing (``WHEN NOT
    MATCHED AND cond`` — skip). One atomic commit for the
    upsert-and-prune shape incremental maintenance produces (e.g.
    ``delete_condition="cnt = 0"`` when applying signed CDC deltas —
    see the snapshot_cdc_aggregate catalog query), instead of a merge
    followed by a table-wide ``delete_where``.

    ``delete_keys`` is the key-set form of the delete clause (``WHEN
    MATCHED THEN DELETE`` driven by a separate key DataFrame): rows in
    the table whose key appears in ``delete_keys`` are removed, with
    no payload columns involved — which is exactly what a CDC feed
    needs (its 'delete' rows carry ``_change_type`` metadata that must
    NOT evolve into the target's schema; see
    :func:`streaming_cdc_apply_sink`). A key in BOTH ``updates`` and
    ``delete_keys`` is ambiguous and raises, same as duplicate update
    keys. Composes with ``prune_col`` (bounds widen to cover the
    delete keys) and both MoR/CoW encodings in the same single atomic
    commit.

    A merge that loses the commit race retries against the new base
    (same conservative conflict rule as :func:`delete_where`).

    A merge that changes nothing commits nothing (update_where's
    no-empty-commit rule): an empty ``updates`` batch — or one fully
    consumed by ``delete_condition`` whose keys match no visible row —
    returns the current version without a new snapshot, so a
    :func:`streaming_merge_sink` fed empty micro-batches does not
    churn one version per batch.
    """
    if prune_col is not None and prune_col not in key_cols:
        raise ValueError(
            f"snapshot_table: prune_col {prune_col!r} must be a merge key"
        )
    if delete_keys is not None:
        missing_k = [c for c in key_cols if c not in delete_keys.columns]
        if missing_k:
            raise ValueError(
                f"snapshot_table: delete_keys lacks merge key(s) "
                f"{missing_k}"
            )
        # key projection only — NO eager distinct: every consumer that
        # needs set semantics already dedups (match_keys.distinct(),
        # semi/anti joins are multiplicity-blind) and the guard
        # aggregation only tests n_del for zero-ness, so the extra
        # exchange per delete-carrying merge bought nothing
        delete_keys = delete_keys.select(*key_cols)
    # one merge runs several jobs over the inputs (emptiness/dup/clash
    # guards, prune bounds, the DV coordinate scan, the staged write):
    # cache both for the call so a hot streaming batch is computed
    # once, not 4-6 times; released in the outermost finally
    updates = updates.persist()
    if delete_keys is not None:
        delete_keys = delete_keys.persist()
    try:
        return _merge_upsert_cached(
            updates, table, key_cols, prune_col, delete_condition,
            delete_keys, partition_prune, branch, mor, properties,
        )
    finally:
        updates.unpersist()
        if delete_keys is not None:
            delete_keys.unpersist()


def _merge_upsert_cached(
    updates, table, key_cols, prune_col, delete_condition,
    delete_keys, partition_prune, branch, mor, properties,
) -> int:
    from pyspark.sql import functions as F

    spark = updates.sparkSession
    # ONE per-key aggregation answers every pre-commit guard at once
    # (round-13 consolidation — these were 4-6 separate actions, each
    # paying its scheduling gap on the measured timeline):
    #   - updates_empty / deletes_empty (no-op rules)
    #   - duplicate update keys (Delta's "multiple source rows
    #     matched" refusal)
    #   - update-vs-delete_keys clash (ambiguous merge)
    #   - surviving_empty (delete_condition consumed the whole batch)
    #   - prune_col bounds over ALL match keys (updates ∪ delete_keys)
    # Sample keys for the two error messages are re-queried only on
    # the failure path.
    surv_flag = (
        F.lit(1) if delete_condition is None
        else F.when(
            F.coalesce(
                F.expr(delete_condition).cast("boolean"), F.lit(False)
            ),
            F.lit(0),
        ).otherwise(F.lit(1))
    )
    uk = updates.select(
        *key_cols,
        F.lit(1).alias("__u"),
        F.lit(0).alias("__d"),
        surv_flag.alias("__s"),
    )
    if delete_keys is not None:
        uk = uk.unionByName(
            delete_keys.select(
                *key_cols,
                F.lit(0).alias("__u"),
                F.lit(1).alias("__d"),
                F.lit(0).alias("__s"),
            )
        )
    per_key = uk.groupBy(*key_cols).agg(
        F.sum("__u").alias("__nu"),
        F.sum("__d").alias("__nd"),
        F.sum("__s").alias("__ns"),
    )
    # the historical clash check was a null-UNSAFE semi-join: a NULL
    # merge key never clashes there, so exclude NULL-keyed groups from
    # the folded flag to preserve that behavior exactly
    any_null_key = F.col(key_cols[0]).isNull()
    for c in key_cols[1:]:
        any_null_key = any_null_key | F.col(c).isNull()
    top_aggs = [
        F.coalesce(F.sum("__nu"), F.lit(0)).alias("n_upd"),
        F.coalesce(F.sum("__nd"), F.lit(0)).alias("n_del"),
        F.coalesce(F.sum("__ns"), F.lit(0)).alias("n_surv"),
        F.coalesce(F.max("__nu"), F.lit(0)).alias("max_dup"),
        F.coalesce(
            F.max(
                F.when(
                    (F.col("__nu") > 0)
                    & (F.col("__nd") > 0)
                    & ~any_null_key,
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("clash"),
    ]
    if prune_col is not None:
        # the bounds compare against RECORDED stats, so a temporal
        # prune_col computes its epoch-int form (same rule as the
        # write path) — collected datetimes would hit the comparator's
        # conservative keep and the partial rewrite would degrade to
        # full-table
        pe = _stats_input(
            updates.schema[prune_col].dataType.simpleString(), prune_col,
        )
        top_aggs.append(F.min(pe).alias("__plo"))
        top_aggs.append(F.max(pe).alias("__phi"))
    g = per_key.agg(*top_aggs).collect()[0]
    updates_empty = g["n_upd"] == 0
    deletes_empty = delete_keys is None or g["n_del"] == 0
    if g["max_dup"] > 1:
        dup = (
            updates.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"snapshot_table: updates contain duplicate merge key "
            f"{tuple(dup[0][c] for c in key_cols)!r}"
        )
    if g["clash"] == 1:
        clash = (
            updates.select(*key_cols)
            .join(delete_keys, on=key_cols, how="left_semi")
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"snapshot_table: merge key "
            f"{tuple(clash[0][c] for c in key_cols)!r} appears in "
            f"both updates and delete_keys — ambiguous"
        )
    surviving = updates
    if delete_condition is not None:
        # rows matching the delete clause take their key OUT of the
        # table: they still anti-join away the current row (matched →
        # delete) but contribute nothing back (unmatched → skip)
        surviving = updates.where(
            ~F.coalesce(
                F.expr(delete_condition).cast("boolean"), F.lit(False)
            )
        )
    # a merge that can neither insert nor delete is a NO-OP, never a
    # commit (matching update_where's no-empty-commit rule): a
    # streaming_merge_sink fed empty micro-batches must not churn one
    # version per batch. Fully-delete_condition-consumed batches still
    # proceed — their keys legitimately delete matched rows (the MoR
    # path re-checks after staging the vector: no vector + nothing
    # surviving → no-op too).
    surviving_empty = updates_empty or (
        delete_condition is not None and g["n_surv"] == 0
    )
    # every key that can MATCH a current row: update keys and delete
    # keys alike anti-join/semi-join the current rows away
    match_keys = updates.select(*key_cols)
    if not deletes_empty:
        match_keys = match_keys.unionByName(delete_keys)
    match_keys = match_keys.distinct()
    bounds = None
    if prune_col is not None and g["__plo"] is not None \
            and g["__phi"] is not None:
        bounds = (g["__plo"], g["__phi"])
    published: list[str] = []

    def apply(snap: dict) -> dict | None:
        if snap.get("deletes") and not mor:
            # a CoW rewrite would detach pending tombstones; a MoR
            # merge composes with them instead (its coordinate scan
            # sees only the rows still visible under them)
            raise ValueError(
                "snapshot_table: merge with pending lazy deletes would "
                "detach them; run compact_table first (or merge with "
                "mor=True, which stacks)"
            )
        table_schema = StructType.fromJson(snap["schema"])
        missing = [c for c in key_cols if c not in table_schema.fieldNames()]
        if missing:
            raise ValueError(
                f"snapshot_table: merge keys {missing} not in table"
            )
        if updates_empty and deletes_empty:
            return None  # no keys → no matches → no-op, no commit
        # kept rows already satisfied the invariants at their own
        # commit; only the incoming (surviving) rows need validation
        _enforce_constraints(surviving, snap.get("constraints", {}))
        touched, carried = _triage_shards(
            snap["shards"],
            (prune_col, bounds[0], bounds[1]) if bounds is not None
            else None,
            partition_prune,
            snap.get("partition_by", []),
        )
        schema = _merge_schema(table_schema, updates.schema)
        dv = None
        if mor or not touched:
            # the updates ALWAYS append under MoR (matched old rows are
            # subtracted by coordinates); normalized to the evolved
            # table schema (fills any table columns the updates batch
            # omits with NULL)
            merged = spark.createDataFrame([], schema).unionByName(
                surviving, allowMissingColumns=True
            )
        else:
            cur = _read_shards(spark, table, touched, table_schema)
            kept = cur.join(match_keys, on=key_cols, how="left_anti")
            merged = kept.unionByName(surviving, allowMissingColumns=True)
        if mor and touched:
            # coordinates of the VISIBLE matched rows (pending
            # tombstones applied first, so stacked vectors never
            # double-delete): semi-join the touched shards' rows on the
            # merge keys, keep (file, pos) only
            vis = _scan_with_deletes(
                spark, table, table_schema, touched,
                snap.get("deletes", []), with_pos=True,
            )
            matched = vis.join(
                match_keys, on=key_cols, how="left_semi",
            ).select("__file", "__pos")
            dv = _stage_dv(matched, table, published)
        if surviving_empty and dv is None and (mor or not touched):
            # nothing to insert AND nothing deleted (MoR: the staged
            # vector came back empty; CoW: prune proved no shard can
            # match) — unchanged state, no commit
            return None
        pb = snap.get("partition_by", [])
        mine, counts, stats, parts = _stage_publish(
            merged, table, published,
            sorted({c for s in snap["shards"] for c in s.get("stats", {})}),
            pb,
            cluster_parts=max(1, len(touched)) if pb else None,
        )
        blooms = (
            _inherited_blooms(spark, table, mine, touched) if mine else {}
        )
        return {
            "operation": "merge",
            "properties": {
                **(properties or {}),
                "merge_keys": list(key_cols),
                "shards_rewritten": 0 if mor else len(touched),
                "shards_skipped": len(carried),
                **(
                    {
                        "mor": True,
                        "rows_deleted": dv["n_rows"] if dv else 0,
                        **({"dv": ",".join(_dv_parts(dv))} if dv else {}),
                    }
                    if mor else {}
                ),
                **(
                    {"delete_condition": delete_condition}
                    if delete_condition is not None else {}
                ),
            },
            "schema": schema.jsonValue(),
            # physical rows: pending vectors subtract at read time
            "shards": (snap["shards"] if mor else carried)
            + _shard_entries(mine, counts, stats, blooms, parts),
            "deletes": snap.get("deletes", []) + ([dv] if dv else []),
        }

    # a lost claim re-runs apply against the new base: the conservative
    # conflict rule (re-scan every shard the winner may have touched)
    return _commit(table, branch, apply, published)


def drop_partition(table: str, matching: dict) -> int:
    """DROP PARTITION as a METADATA-ONLY commit (Iceberg
    ``DROP PARTITION`` / Delta partition-predicate delete fast path):
    remove every shard whose recorded partition values match
    ``matching`` ({col: value_or_list}, all columns must be declared
    partition columns) from the live set — zero rows read, zero rows
    written, O(shards) driver work, because a partitioned shard holds
    EXACTLY one partition tuple so dropping the file drops precisely
    the partition's rows. The 100 TB retention primitive: expiring a
    day/language/tenant is one JSON commit regardless of data size.

    Loud-refusal contract: if any live shard lacks a recorded value
    for a requested column (written before the table was partitioned,
    or by the arrival-order streaming sink), that shard MAY contain
    matching rows and the drop would be silently incomplete — raise
    and point at ``compact_table`` (whose rewrite re-splits every shard
    under the spec). Time travel to pre-drop versions still reads the
    dropped rows; :func:`expire_snapshots` reclaims the files. Pending
    lazy-delete tombstones stay attached to the surviving shards they
    cover (the read path resolves covers against LIVE shards only).
    Returns the committed version."""

    def apply(snap: dict) -> dict:
        pb = snap.get("partition_by", [])
        bad = [c for c in matching if c not in pb]
        if bad:
            raise ValueError(
                f"snapshot_table: drop_partition columns {bad} are "
                f"not partition columns (spec: {pb})"
            )
        unstamped = [
            s["file"]
            for s in snap["shards"]
            if any(c not in s.get("partition", {}) for c in matching)
        ]
        if unstamped:
            raise ValueError(
                f"snapshot_table: {len(unstamped)} shard(s) carry no "
                f"recorded partition values for {sorted(matching)} "
                f"(pre-partitioning or streaming appends) and may "
                f"contain matching rows; run compact_table first"
            )
        probes = {
            c: _transform_probes(pb, c, w) for c, w in matching.items()
        }
        kept, dropped = [], []
        for s in snap["shards"]:
            (dropped if all(
                _partition_match(s, c, t) for c, t in probes.items()
            ) else kept).append(s)
        return {
            "operation": "drop_partition",
            "properties": {
                "partition": _probe_log(matching),
                "shards_dropped": len(dropped),
                "rows_dropped": sum(s["n_rows"] for s in dropped),
            },
            "schema": snap["schema"],
            "shards": kept,
        }

    return _commit(table, None, apply)


def replace_partition(
    df: DataFrame, table: str, matching: dict | None = None,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
    branch: str | None = None,
) -> int:
    """ATOMIC partition overwrite (Iceberg ``replacePartitions`` /
    ``INSERT OVERWRITE ... PARTITION``): drop every live shard of the
    target partition(s) and install ``df``'s shards in their place as
    ONE commit — no reader can ever see the hole that composing
    :func:`drop_partition` + :func:`write_snapshot` (two commits)
    exposes between them. The daily re-materialization idiom: rebuild
    day N from corrected upstream data while days != N are carried
    verbatim (byte-identical files, zero read, zero write) and time
    travel to the pre-replace version still serves the old day N.

    ``matching={col_or_spec: value_or_list}`` is the STATIC form: the
    named partitions are replaced, and every staged shard must fall
    inside them — a row outside the named partition would silently
    land in (and corrupt) a partition this commit did not declare, so
    it raises and the staged files are removed. ``matching=None`` is
    the DYNAMIC form (Spark ``spark.sql.sources.partitionOverwriteMode
    =dynamic`` / Iceberg dynamic overwrite): exactly the partition
    tuples PRESENT in ``df`` are replaced — an empty ``df`` is a
    loud error there, since "replace nothing" is never what a
    re-materialization meant.

    Same loud-refusal contract as :func:`drop_partition`: a live shard
    with no recorded value for a needed partition field (written
    before partitioning) MAY hold matching rows, so the replace
    refuses and points at ``compact_table``. Same rebase rules as the
    other DML writers: the claim loop re-validates freshly added
    constraints, conflicts on a concurrent re-partition or
    rename/drop-column, and carries pending lazy-delete tombstones
    (their covers resolve against live shards only). ``branch=``
    replaces on a branch head (WAP remediation of one bad partition).
    Returns the committed version."""
    pb = table_partition_by(table, branch)
    if latest_version(table, branch) is None:
        raise FileNotFoundError(
            f"snapshot_table: no branch {branch!r} on {table}; "
            f"create_branch() first"
            if branch is not None
            else f"snapshot_table: {table} has no snapshots"
        )
    if not pb:
        raise ValueError(
            "snapshot_table: replace_partition requires a partitioned "
            "table (use write_snapshot(mode='overwrite') to replace an "
            "unpartitioned table outright)"
        )
    probes: dict[str, set] | None = None
    if matching is not None:
        if not matching:
            raise ValueError(
                "snapshot_table: matching={} would replace EVERY "
                "partition; pass matching=None for dynamic overwrite "
                "or write_snapshot(mode='overwrite') to replace the "
                "whole table"
            )
        canon = {
            _parse_partition_spec(k)["spec"]: w for k, w in matching.items()
        }
        bad = [c for c in canon if c not in pb]
        if bad:
            raise ValueError(
                f"snapshot_table: replace_partition columns {bad} are "
                f"not partition columns (spec: {pb})"
            )
        probes = {c: _transform_probes(pb, c, w) for c, w in canon.items()}
    for spec in pb:
        f = _parse_partition_spec(spec)
        if f["source"] not in df.columns:
            raise ValueError(
                f"snapshot_table: partition column {f['source']!r} "
                f"not in DataFrame"
            )
    validated = _base_constraints(table, branch)
    _enforce_constraints(df, validated)
    entry_version = latest_version(table, branch)
    published: list[str] = []
    mine, counts, stats, parts = _stage_publish(
        df, table, published, stats_cols, pb,
    )
    staged_tuples = {tuple(sorted(parts[n].items())) for n in mine}

    def apply(snap: dict) -> dict:
        # the staged-layout checks raise inside apply so that _commit
        # reclaims the published shards (they depend only on staging)
        if matching is None and not mine:
            raise ValueError(
                "snapshot_table: dynamic replace_partition with an "
                "empty DataFrame would replace nothing; name the "
                "partitions (matching=) or use drop_partition"
            )
        if probes is not None:
            stray = [
                n for n in mine
                if not all(parts[n].get(c) in t for c, t in probes.items())
            ]
            if stray:
                ex = parts[stray[0]]
                raise ValueError(
                    f"snapshot_table: {len(stray)} staged shard(s) fall "
                    f"outside the declared partition(s) "
                    f"{sorted(probes)} (e.g. {ex}) — rows outside the "
                    f"named partition would corrupt partitions this "
                    f"replace did not declare"
                )
        needed = set(probes) if probes is not None else set(pb)
        if snap.get("partition_by", []) != pb:
            raise ValueError(
                f"snapshot_table: table was re-partitioned to "
                f"{snap.get('partition_by', [])} while this replace "
                f"(spec {pb}) was staging; retry the write"
            )
        _recheck_constraints(df, validated, snap)
        _rebase_evolution_guard(
            table, branch, snap, snap["version"], entry_version, "replace",
        )
        unstamped = [
            s["file"]
            for s in snap["shards"]
            if any(c not in s.get("partition", {}) for c in needed)
        ]
        if unstamped:
            raise ValueError(
                f"snapshot_table: {len(unstamped)} live shard(s) "
                f"carry no recorded partition values for "
                f"{sorted(needed)} (pre-partitioning or streaming "
                f"appends) and may contain matching rows; run "
                f"compact_table first"
            )
        kept, replaced = [], []
        for s in snap["shards"]:
            if probes is not None:
                hit = all(
                    _partition_match(s, c, t) for c, t in probes.items()
                )
            else:
                rec = {c: s["partition"].get(c) for c in pb}
                hit = tuple(sorted(rec.items())) in staged_tuples
            (replaced if hit else kept).append(s)
        blooms = _inherited_blooms(df.sparkSession, table, mine, replaced)
        return {
            "operation": "replace_partition",
            "properties": {
                **(properties or {}),
                # SOURCE probe values, same form drop_partition logs — a
                # metadata consumer comparing sibling commits must not
                # need to re-run the transform
                "partition": (
                    _probe_log(canon) if probes is not None
                    else {"dynamic_tuples": [
                        dict(t) for t in sorted(staged_tuples, key=repr)
                    ]}
                ),
                "shards_replaced": len(replaced),
                "rows_replaced": sum(s["n_rows"] for s in replaced),
            },
            "schema": _merge_schema(
                StructType.fromJson(snap["schema"]), df.schema
            ).jsonValue(),
            "shards": kept
            + _shard_entries(mine, counts, stats, blooms, parts),
        }

    return _commit(table, branch, apply, published)


def delete_where(
    spark: SparkSession, table: str, condition: str,
    prune: tuple | None = None, lazy: bool = False,
    partition_prune: dict | None = None,
    branch: str | None = None,
) -> int:
    """Row-level DELETE as one atomic snapshot (Delta ``DELETE FROM`` /
    Iceberg copy-on-write delete shaped): rows where ``condition`` is
    TRUE are removed; rows where it is FALSE or NULL are kept (SQL
    DELETE semantics).

    The scale story is shard skipping, not the rewrite: with
    ``prune=(col, lo, hi)`` every live shard whose recorded [min, max]
    for ``col`` (``write_snapshot(stats_cols=...)`` /
    ``compact_table(cluster_by=...)``) does not overlap [lo, hi] is
    CARRIED OVER into the new snapshot untouched — zero read, zero
    write — and only the overlapping shards are rewritten without their
    matching rows. At 100 TB deleting a key range from a clustered
    table touches O(range/shard_span) files instead of rewriting the
    table. CONTRACT: [lo, hi] must be implied by ``condition`` (every
    row the condition matches has ``col`` in [lo, hi]) — this is the
    bound a predicate analyzer derives automatically in Delta/Iceberg;
    here the caller states it. Shards without stats for ``col`` are
    conservatively rewritten. Without ``prune`` every shard is
    rewritten. ``partition_prune={col: value_or_list}`` is the
    partitioned-table form of the same contract (the condition only
    matches rows in those partitions): non-matching shards carry over
    EXACTLY, so deleting within one partition touches only its files;
    to drop WHOLE partitions use :func:`drop_partition`, which is
    metadata-only. On the ``lazy=True`` path it narrows the
    tombstone's covered-shard list the same way (fewer filtered scans
    at read time). Composes with ``prune``.

    Commit is the standard optimistic claim; on losing a race the whole
    operation retries against the new base (a delete rebased onto a
    concurrent append must re-scan the appended shards too — the
    conservative Delta conflict rule). The shards a lost attempt
    published are removed once the retry commits (:func:`_commit`).

    ``lazy=True`` is the MERGE-ON-READ delete (Iceberg equality-delete /
    Hudi MOR shaped): commit only a metadata tombstone — the condition
    plus the list of shards live right now — and let
    :func:`read_snapshot` apply the NOT-filter at scan time. O(metadata)
    regardless of table size: the update-heavy workload's answer, where
    copy-on-write would rewrite hot files over and over. Rows appended
    AFTER the delete are never affected (they are not in the recorded
    shard list — Iceberg's sequence-number rule, encoded explicitly).
    ``compact_table`` materialises pending lazy deletes (its rewrite
    reads through :func:`read_snapshot`) and clears them. Copy-on-write
    ``delete_where`` / ``merge_upsert`` on a table with pending lazy
    deletes raise loudly (their rewrites would silently detach covered
    shards from the tombstones): compact first.

    ``branch=`` deletes on a BRANCH head (WAP remediation in place: an
    audit that finds bad rows deletes them on the audit branch and
    re-audits — main never sees either state until publish). The
    rewrite reads and stages against the shared ``data/`` dir; only the
    commit lands in the branch log. A lazy tombstone on a branch rides
    the branch head and is carried onto main by ``publish_branch``
    verbatim (shard lists are table-global file names).
    """
    from pyspark.sql import functions as F

    keep = ~F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
    published: list[str] = []

    def tombstone(snap: dict) -> dict | None:
        # analyse the condition against the table schema BEFORE the
        # tombstone commits: the CoW path validates implicitly by
        # evaluating the filter, but a committed unparseable/misspelled
        # lazy condition would fail every subsequent read AND the
        # compact_table remedy (it reads through read_snapshot)
        schema = StructType.fromJson(snap["schema"])
        _ = spark.createDataFrame([], schema).where(keep).schema
        # partition_prune narrows the tombstone to the shards whose
        # partition values can match (same caller contract as the CoW
        # path): the others never pay the read-time NOT-filter
        covered, _ = _triage_shards(
            snap["shards"], None, partition_prune,
            snap.get("partition_by", []),
        )
        if not covered:
            # tombstone would cover zero shards — nothing any future
            # read could subtract; no empty commit
            return None
        return {
            "operation": "delete",
            "properties": {
                "delete_condition": condition,
                "lazy": True,
                "shards_rewritten": 0,
                "shards_skipped": len(snap["shards"]),
            },
            "schema": snap["schema"],
            # physical rows: lazy deletes subtract at read time
            "shards": snap["shards"],
            "deletes": snap.get("deletes", []) + [
                {
                    "condition": condition,
                    "shards": sorted(s["file"] for s in covered),
                }
            ],
        }

    def rewrite(snap: dict) -> dict | None:
        if snap.get("deletes"):
            raise ValueError(
                "snapshot_table: copy-on-write delete with pending lazy "
                "deletes would detach them; run compact_table first"
            )
        schema = StructType.fromJson(snap["schema"])
        touched, carried = _triage_shards(
            snap["shards"], _normalize_prune(snap["schema"], prune),
            partition_prune, snap.get("partition_by", []),
        )
        if not touched:
            # every shard provably excludes the range/partitions: no
            # row can match, so committing would churn a version for
            # nothing — return current without a commit, the same
            # "nothing to do; no empty commit" stance as
            # compact_partitions. Still analyze the condition first
            # (the rewrite path would have): a typo must raise, not
            # silently "succeed".
            _ = spark.createDataFrame([], schema).where(keep).schema
            return None
        # stats columns to recompute for rewritten shards: whatever the
        # touched shards already recorded (keeps pruning working after)
        stats_cols = sorted({c for s in touched for c in s.get("stats", {})})
        pb = snap.get("partition_by", [])
        remain = _read_shards(spark, table, touched, schema).where(keep)
        mine, counts, stats, parts = _stage_publish(
            remain, table, published, stats_cols, pb,
            cluster_parts=max(1, len(touched)) if pb else None,
        )
        blooms = (
            _inherited_blooms(spark, table, mine, touched) if mine else {}
        )
        return {
            "operation": "delete",
            "properties": {
                "delete_condition": condition,
                "shards_rewritten": len(touched),
                "shards_skipped": len(carried),
                **(
                    {"partition_prune": _probe_log(partition_prune)}
                    if partition_prune else {}
                ),
            },
            "schema": snap["schema"],
            "shards": carried
            + _shard_entries(mine, counts, stats, blooms, parts),
        }

    return _commit(table, branch, tombstone if lazy else rewrite, published)


def update_where(
    spark: SparkSession, table: str, set_exprs: dict[str, str],
    condition: str, prune: tuple | None = None,
    partition_prune: dict | None = None,
    branch: str | None = None,
    mor: bool = False,
) -> int:
    """Row-level UPDATE as one atomic snapshot (Delta ``UPDATE table
    SET col = expr WHERE cond`` / Iceberg copy-on-write update shaped)
    — the third leg of the DML triad next to :func:`delete_where` and
    :func:`merge_upsert`. Rows where ``condition`` is TRUE get each
    SET column replaced by its expression; FALSE or NULL rows are kept
    unchanged (SQL UPDATE semantics). Every SET expression is
    evaluated against the PRE-update row — ``{"a": "b", "b": "a"}``
    swaps, it does not chain — standard SQL assignment semantics.

    Scale story is the same shard skipping as :func:`delete_where`:
    with ``prune=(col, lo, hi)`` implied by ``condition`` (caller
    contract — every matching row has ``col`` in the range), shards
    whose recorded [min, max] stats are disjoint are CARRIED OVER
    untouched (zero read, zero write) and only overlapping shards are
    rewritten with the CASE-WHEN projection. At 100 TB updating a key
    range on a clustered table touches O(range/shard_span) files, not
    the table. Shards without stats are conservatively rewritten.
    ``partition_prune={col: value_or_list}`` is the partitioned-table
    twin (same caller contract: the condition only matches rows in
    those partitions): non-matching shards carry over EXACTLY —
    partition values have no false positives — so updating one
    partition touches only its files. Composes with ``prune``.

    Each SET expression must produce exactly the column's declared
    type — no silent coercion (cast explicitly in the expression);
    rejected BEFORE any data moves. CHECK constraints are validated on
    the post-image of the updated rows only (kept rows satisfied them
    at their own commit). Pending lazy deletes raise (the rewrite
    would detach their tombstones — compact first, same rule as the
    other CoW writers). A lost commit race retries against the new
    base. Returns the committed version.

    ``branch=`` updates a BRANCH head in place (WAP remediation: fix
    the bad rows on the audit branch, re-audit, publish) — same shared
    ``data/`` staging, commit lands in the branch log only.

    ``mor=True`` is the MERGE-ON-READ form (the third MoR DML leg
    next to ``delete_where(lazy=True)``'s condition tombstone and
    ``merge_upsert(mor=True)``'s vector): only the MATCHED rows'
    post-images are written as new shards, and their pre-images are
    subtracted by a positional deletion vector — write cost
    O(matched rows), never O(matched files), and it composes with
    pending tombstones of either kind (positions come from the
    still-visible rows). :func:`compact_table` materialises."""
    from pyspark.sql import functions as F

    if not set_exprs:
        raise ValueError(
            "snapshot_table: update_where needs at least one SET column"
        )
    hit = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
    published: list[str] = []

    def apply(snap: dict) -> dict | None:
        if snap.get("deletes") and not mor:
            raise ValueError(
                "snapshot_table: copy-on-write update with pending lazy "
                "deletes would detach them; run compact_table first "
                "(or update with mor=True, which stacks)"
            )
        schema = StructType.fromJson(snap["schema"])
        missing = [c for c in set_exprs if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"snapshot_table: SET columns {missing} not in table"
            )
        # analyze condition + SET expressions against the schema BEFORE
        # staging (a bad expression must not strand published orphans),
        # and hold the no-silent-coercion line on types
        probe = spark.createDataFrame([], schema)
        _ = probe.where(hit).schema
        for c, e in set_exprs.items():
            got = probe.select(F.expr(e).alias(c)).schema[0].dataType
            want = schema[c].dataType
            if got != want:
                raise ValueError(
                    f"snapshot_table: SET {c} = {e!r} produces "
                    f"{got.simpleString()}, column is "
                    f"{want.simpleString()}; cast explicitly"
                )
        touched, carried = _triage_shards(
            snap["shards"], _normalize_prune(snap["schema"], prune),
            partition_prune, snap.get("partition_by", []),
        )
        if not touched:
            # pruning proved no shard overlaps: a no-op UPDATE must not
            # churn a version (condition + SET exprs were already
            # analyzed above) — compact_partitions' no-empty-commit rule
            return None
        stats_cols = sorted({c for s in touched for c in s.get("stats", {})})
        pb = snap.get("partition_by", [])
        post = [
            F.expr(set_exprs[f.name]).alias(f.name)
            if f.name in set_exprs else F.col(f.name)
            for f in schema.fields
        ]
        dv = None
        if mor:
            # MoR: only the matched VISIBLE rows' post-images are
            # written; their pre-images are subtracted by position
            matched = _scan_with_deletes(
                spark, table, schema, touched,
                snap.get("deletes", []), with_pos=True,
            ).where(hit).persist()
            try:
                updated = matched.select(*post)
                _enforce_constraints(updated, snap.get("constraints", {}))
                dv = _stage_dv(
                    matched.select("__file", "__pos"), table, published
                )
                if dv is None:
                    return None  # nothing matched: no-op, no commit
                mine, counts, stats, parts = _stage_publish(
                    updated, table, published, stats_cols, pb,
                )
            finally:
                matched.unpersist()  # incl. constraint-refusal raises
        else:
            cur = _read_shards(spark, table, touched, schema)
            rewritten = cur.select(
                *[
                    F.when(hit, F.expr(set_exprs[f.name]))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            # validate the post-image of the rows the PRE-image
            # condition matches: filtering the rewritten frame by `hit`
            # would re-evaluate the condition on post-image values,
            # letting an update that moves rows OUT of its own
            # predicate smuggle constraint-violating rows in
            _enforce_constraints(
                cur.where(hit).select(*post), snap.get("constraints", {})
            )
            # a SET on a partition column is legal: the rewrite
            # re-partitions through _stage_publish, so moved rows land
            # in (and are logged under) their NEW partition
            mine, counts, stats, parts = _stage_publish(
                rewritten, table, published, stats_cols, pb,
                cluster_parts=max(1, len(touched)) if pb else None,
            )
        blooms = (
            _inherited_blooms(spark, table, mine, touched) if mine else {}
        )
        return {
            "operation": "update",
            "properties": {
                "update_condition": condition,
                "set": dict(set_exprs),
                "shards_rewritten": 0 if mor else len(touched),
                "shards_skipped": len(carried),
                **({"mor": True, "rows_updated": dv["n_rows"]} if mor else {}),
            },
            "schema": snap["schema"],
            "shards": (snap["shards"] if mor else carried)
            + _shard_entries(mine, counts, stats, blooms, parts),
            "deletes": snap.get("deletes", []) + ([dv] if dv else []),
        }

    return _commit(table, branch, apply, published)


def rollback(table: str, version: int) -> int:
    """Restore the table to the state of an older ``version`` by
    committing a NEW snapshot with that version's shard list and schema
    (Iceberg ``rollback_to_snapshot`` / Delta ``RESTORE`` shaped).
    History is preserved — the bad commits stay inspectable and the
    rollback itself is an audited, time-travelable commit, not an
    erasure. Requires ``version``'s snapshot file to still exist (see
    :func:`expire_snapshots` retention). Returns the new version.

    Constraints restore DATA only and keep the CURRENT invariants —
    but if any live constraint exists and the rollback would REMOVE or
    retype a column the current schema has (restoring to before a
    rename/add), the kept constraints may no longer analyze and every
    subsequent write would fail with an unresolved-column error; that
    combination refuses loudly up front (drop the constraints first —
    same guard shape as the ALTER ops; conservative: refuses even when
    the constraints don't reference the vanished column, because the
    commit must not require SQL analysis to validate)."""
    target = _load_snapshot(table, version)
    if _base_constraints(table):
        current_schema = StructType.fromJson(
            _load_snapshot(table, latest_version(table))["schema"]
        )
        target_schema = StructType.fromJson(target["schema"])
        tgt = {(f.name, f.dataType) for f in target_schema.fields}
        lost = sorted(
            f.name
            for f in current_schema.fields
            if (f.name, f.dataType) not in tgt
        )
        if lost:
            raise ValueError(
                f"snapshot_table: rollback to version {version} removes "
                f"or retypes columns {lost} while CHECK constraints are "
                f"live — the kept constraints may no longer resolve; "
                f"drop the constraints first"
            )
    # the spec travels WITH the data it describes (restoring
    # pre-repartition shards restores their absent spec too); the
    # constraints are not set, so _commit carries the CURRENT ones —
    # DATA only is restored (rolled-back rows passed validation at
    # their own commit)
    return _commit(
        table, None,
        lambda snap: {
            "operation": "rollback",
            "properties": {"rollback_of": version},
            "schema": target["schema"],
            "shards": target["shards"],
            "deletes": target.get("deletes", []),
            "partition_by": target.get("partition_by", []),
        },
    )


def _resolve_change_range(
    table: str, start_version: int | None, start_timestamp: float | None,
    branch: str | None, what: str,
) -> int:
    """Start-of-range plumbing shared by the batch incremental reads:
    exactly one of start_version/start_timestamp, timestamps main-chain
    only (branch stamps are monotonic within the branch log alone),
    resolution via the streaming sources' exclusive-start resolver."""
    if (start_version is None) == (start_timestamp is None):
        raise ValueError(
            f"snapshot_table: {what} needs exactly one of "
            f"start_version / start_timestamp"
        )
    if start_timestamp is None:
        return start_version
    if branch is not None:
        raise ValueError(
            f"snapshot_table: {what} timestamps are main-chain only "
            f"(branch commit stamps are monotonic within the branch "
            f"log alone); use start_version with branch="
        )
    return _version_before_timestamp(table, float(start_timestamp), what)


def _resolve_change_end(
    table: str, end_version: int | None, end_timestamp: float | None,
    branch: str | None, what: str,
) -> int | None:
    """End-of-range twin of :func:`_resolve_change_range`: at most one
    of end_version/end_timestamp, and — the same main-chain-only rule
    the start form enforces — end_timestamp with branch= refuses
    loudly. ``version_as_of`` resolves against the MAIN commit chain;
    applying that version as a bound on a branch's independent
    sequence numbering would silently return a wrong change range."""
    if end_timestamp is None:
        return end_version
    if end_version is not None:
        raise ValueError(
            f"snapshot_table: end_version and end_timestamp are "
            f"mutually exclusive"
        )
    if branch is not None:
        raise ValueError(
            f"snapshot_table: {what} timestamps are main-chain only "
            f"(branch commit stamps are monotonic within the branch "
            f"log alone); use end_version with branch="
        )
    return version_as_of(table, end_timestamp)


def read_changes(
    spark: SparkSession, table: str, start_version: int | None = None,
    end_version: int | None = None,
    partition_filter: dict | None = None,
    branch: str | None = None,
    start_timestamp: float | None = None,
    end_timestamp: float | None = None,
) -> DataFrame:
    """Incremental read (Iceberg incremental append scan / Delta CDF's
    append-only fast path): the rows ADDED after ``start_version`` up to
    ``end_version`` (latest by default), computed purely from snapshot
    metadata — each append snapshot's added files are its shard set
    minus its parent's, so the incremental consumer reads only new
    files and never rescans the table. This is what turns a 100 TB
    table into a streaming source for downstream jobs (backfill-free
    pipeline restarts, derived-table refresh).

    Compaction snapshots (``properties.compaction``) rewrite layout,
    not rows, and are skipped — same as Iceberg's treatment of replace
    snapshots. Any row-changing non-append commit in the range
    (overwrite, delete, merge, rollback) raises loudly: its changes are
    not representable as added files, and silently skipping it would
    hand the consumer a wrong delta. Requires the range's snapshot
    files to still exist (retention).

    ``partition_filter={field: source_value_or_list}`` (fields of the
    END version's spec, probes transformed like every other surface)
    narrows the incremental read to the matching partitions' added
    files from metadata alone — the per-language/per-day derived-table
    refresh, O(that partition's new files). Unstamped added shards are
    conservatively kept.

    ``branch=`` reads a BRANCH's own version range — with
    ``start_version=1`` (the fork) this is the WAP audit primitive
    "exactly what will this publish add", computed from branch metadata
    without touching main or rescanning the fork's content.
    ``start_version=0`` is rejected for branches: the fork (sequence 1)
    is a verbatim copy of a main snapshot, so "since creation" would
    report the entire forked corpus as a change.

    ``start_timestamp`` / ``end_timestamp`` (epoch seconds) are the
    Delta-CDF timestamp forms of the same range — start delivers every
    commit stamped AT OR AFTER it (the streaming ``start_timestamp``
    contract, shared resolver); end is AS-OF inclusive
    (:func:`version_as_of`). Each is mutually exclusive with its
    version twin and main-chain only (branch stamps are monotonic
    within the branch log alone)."""
    start_version = _resolve_change_range(
        table, start_version, start_timestamp, branch, "read_changes"
    )
    end_version = _resolve_change_end(
        table, end_version, end_timestamp, branch, "read_changes"
    )
    if branch is not None and latest_version(table, branch) is None:
        raise FileNotFoundError(
            f"snapshot_table: no branch {branch!r} on {table}; "
            f"create_branch() first"
        )
    if branch is not None and start_version == 0:
        raise ValueError(
            "snapshot_table: start_version=0 with branch= would report "
            "the whole forked corpus as a change (the fork is a "
            "verbatim copy of main); use start_version=1 for changes "
            "since the fork"
        )
    end = latest_version(table, branch) if end_version is None else end_version
    if end is None or start_version > end:
        raise ValueError(
            f"snapshot_table: bad change range ({start_version}, {end}]"
        )
    added, schema_json = _added_files(table, start_version, end, branch)
    if partition_filter:
        pb = _load_snapshot(table, end, branch).get("partition_by", [])
        for key, want in partition_filter.items():
            tvals = _transform_probes(pb, key, want)
            added = [s for s in added if _partition_match(s, key, tvals)]
    schema = StructType.fromJson(
        schema_json
        if schema_json is not None
        else _load_snapshot(table, end, branch)["schema"]
    )
    if not added:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, _DATA_DIR, s["file"]) for s in added]
    )


def read_cdc(
    spark: SparkSession, table: str, start_version: int | None = None,
    end_version: int | None = None,
    branch: str | None = None,
    start_timestamp: float | None = None,
    end_timestamp: float | None = None,
) -> DataFrame:
    """Change-data-feed read (Delta CDF / Iceberg changelog scan
    shaped): every row-level change in ``(start_version, end_version]``
    as table rows plus ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` — the general form of :func:`read_changes`,
    which covers append-only ranges. An update surfaces as its
    delete(pre-image) + insert(post-image) pair, the row-grain encoding
    CDC consumers (derived tables, replication, audit) merge by key.

    Derivation: per commit, the visible-row multiset diff old→new,
    restricted to the shards whose VISIBILITY changed at that commit —
    a shard's visible rows change iff the file was added/removed or its
    covering tombstone set changed, so untouched shards are never read
    and a partial rewrite (``delete_where(prune=...)`` /
    ``merge_upsert(prune_col=...)``) diffs only the matched files:
    O(changed files) per commit, not O(table). Rewritten-but-identical
    rows cancel in the multiset diff (signed per-row counts: one union
    + one aggregation, where the historical exceptAll pair scanned each
    side twice), so a copy-on-write commit emits exactly its net row
    changes. This one rule handles
    every operation — appends (pure insert fast path, no diff), CoW
    deletes/merges, lazy tombstones (condition applied to covered
    shards only), tombstone-materialising compactions, rollbacks, and
    overwrites; row-preserving compactions are skipped from metadata
    alone. Requires every snapshot in [start_version, end_version] to
    still exist (retention). At 100 TB the diff shuffles
    only the changed files' rows, once each; the write-side optimisation the
    public formats add — persisting change files at commit time so the
    read is a plain scan — layers on this same protocol without
    changing its semantics.

    Emitted rows use the END version's schema (evolution: columns a
    commit predates read as NULL, same contract as time travel).

    ``branch=`` reads a BRANCH's own sequence range — the row-level
    form of ``read_changes(branch=)``: with ``start_version=1`` (the
    fork) it answers "exactly which rows did this audit window's
    writes AND remediation change" BEFORE publishing, including the
    delete/insert pairs a branch ``delete_where``/``update_where``/
    ``merge_upsert`` produced — the WAP-audit diff the append-only
    read cannot represent. ``start_version=0`` is rejected for
    branches: the fork (sequence 1) is a verbatim copy of a main
    snapshot, so diffing from empty would report the entire forked
    corpus as inserts.

    ``start_timestamp`` / ``end_timestamp`` (epoch seconds) mirror
    :func:`read_changes`: commits stamped at or after start through
    the as-of end — Delta CDF's startingTimestamp/endingTimestamp,
    resolved by the same code the streaming sources use; main-chain
    only, each mutually exclusive with its version twin."""
    from pyspark.sql import functions as F

    start_version = _resolve_change_range(
        table, start_version, start_timestamp, branch, "read_cdc"
    )
    end_version = _resolve_change_end(
        table, end_version, end_timestamp, branch, "read_cdc"
    )
    if branch is not None and latest_version(table, branch) is None:
        raise FileNotFoundError(
            f"snapshot_table: no branch {branch!r} on {table}; "
            f"create_branch() first"
        )
    if branch is not None and start_version == 0:
        raise ValueError(
            "snapshot_table: start_version=0 with branch= would report "
            "the whole forked corpus as inserts (the fork is a verbatim "
            "copy of main); use start_version=1 for changes since the "
            "fork"
        )
    end = latest_version(table, branch) if end_version is None else end_version
    if end is None or start_version > end or start_version < 0:
        raise ValueError(
            f"snapshot_table: bad change range ({start_version}, {end}]"
        )
    out_schema = StructType.fromJson(
        _load_snapshot(table, end, branch)["schema"]
    )
    out_cols = out_schema.fieldNames()

    def _empty():
        df = spark.createDataFrame([], out_schema)
        return df.select(
            *out_cols,
            F.lit("").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_version"),
        ).limit(0)

    def _visibility(snap: dict) -> dict[str, tuple]:
        """file -> sorted tuple of tombstone identities covering it —
        equal signatures mean identical visible rows for that file.
        A positional vector's identity is its (immutable) file name;
        a condition tombstone's is the condition text."""
        dels = snap.get("deletes", [])
        covers = [
            (
                d["condition"] if "condition" in d
                else "dv:" + ",".join(_dv_parts(d)),
                set(d["shards"]),
            )
            for d in dels
        ]
        return {
            s["file"]: tuple(
                sorted(c for c, cover in covers if s["file"] in cover)
            )
            for s in snap["shards"]
        }

    parts = []
    prev = (
        _load_snapshot(table, start_version, branch) if start_version > 0
        else {"shards": []}
    )
    sig_prev = _visibility(prev)
    for v in range(start_version + 1, end + 1):
        snap = _load_snapshot(table, v, branch)
        old_snap, sig_old = prev, sig_prev
        sig_new = _visibility(snap)
        prev, sig_prev = snap, sig_new  # carry forward: one load per version
        if snap["operation"] in ("rename_column", "drop_column"):
            # a rename/drop commit changes no rows, but frames before
            # and after it disagree on column names — emitting both
            # under the end schema would silently NULL the renamed
            # column's pre-rename changes. Refuse; restart the CDC
            # consumer from the evolution point (Delta CDF's schema-
            # incompatible-range behavior).
            raise ValueError(
                f"snapshot_table: read_cdc range crosses a "
                f"{snap['operation']} commit at version {v}; start the "
                f"feed at or after it"
            )
        # the general form of the same guard: ANY commit whose schema
        # loses or retypes a column its parent had (a rollback across a
        # rename, an overwrite redefining a type) makes the pre-image
        # side unrepresentable under this commit's schema — the diff
        # would silently read the vanished column as NULL
        regressed = sorted(
            f.name
            for f in StructType.fromJson(old_snap["schema"]).fields
            if not any(
                g.name == f.name and g.dataType == f.dataType
                for g in StructType.fromJson(snap["schema"]).fields
            )
        ) if old_snap.get("schema") else []
        if regressed:
            raise ValueError(
                f"snapshot_table: read_cdc version {v} "
                f"({snap['operation']}) removes or retypes columns "
                f"{regressed} present at version {v - 1}; pre-images "
                f"are not representable under the commit's schema — "
                f"start the feed at or after {v}"
            )
        if (
            snap.get("properties", {}).get("compaction")
            and not old_snap.get("deletes")
        ):
            continue  # row-preserving rewrite by construction: no changes
        changed_old = [
            f for f in sig_old if sig_new.get(f) != sig_old[f]
        ]
        changed_new = [
            f for f in sig_new if sig_old.get(f) != sig_new[f]
        ]
        if not changed_old and not changed_new:
            continue
        # both sides read with THIS commit's schema: evolution only adds
        # nullable columns, so older files fill them with NULL and the
        # multiset diff stays well-typed
        schema_v = StructType.fromJson(snap["schema"])
        by_old = {s["file"]: s for s in old_snap["shards"]}
        by_new = {s["file"]: s for s in snap["shards"]}
        old_df = _scan_with_deletes(
            spark, table, schema_v,
            [by_old[f] for f in sorted(changed_old)],
            old_snap.get("deletes", []),
        )
        new_df = _scan_with_deletes(
            spark, table, schema_v,
            [by_new[f] for f in sorted(changed_new)],
            snap.get("deletes", []),
        )
        def _tag(df, kind):
            cols = [
                F.col(c) if c in df.columns
                else F.lit(None).cast(out_schema[c].dataType).alias(c)
                for c in out_cols
            ]
            k = F.lit(kind) if isinstance(kind, str) else kind
            return df.select(
                *cols,
                k.alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        if not changed_old:      # pure append: no diff needed
            parts.append(_tag(new_df, "insert"))
        elif not changed_new:    # pure removal (e.g. delete-all)
            parts.append(_tag(old_df, "delete"))
        else:
            # signed multiset diff in ONE subtree. The historical
            # exceptAll pair (ins = new∖old, dels = old∖new) put TWO
            # copies of each side's scan into the final union plan —
            # Spark does not share common subtrees across union
            # branches, so both rewritten file sets were scanned and
            # hash-aggregated twice. Signed counts give the identical
            # multisets: per distinct row value, d = cnt_new - cnt_old;
            # exceptAll emits the row max(d,0) times as insert and
            # max(-d,0) times as delete — exactly |d| copies tagged by
            # sign(d), reproduced here with one explode.
            dcol = "__cdc_d"
            diff = (
                new_df.withColumn(dcol, F.lit(1))
                .unionAll(
                    old_df.select(*new_df.columns)
                    .withColumn(dcol, F.lit(-1))
                )
                .groupBy(*new_df.columns)
                .agg(F.sum(dcol).alias(dcol))
                .where(F.col(dcol) != 0)
            )
            both = diff.select(
                "*",
                F.explode(
                    F.sequence(
                        F.lit(1).cast("long"), F.abs(F.col(dcol))
                    )
                ).alias("__cdc_i"),
            ).withColumn(
                "__cdc_kind",
                F.when(F.col(dcol) > 0, F.lit("insert")).otherwise(
                    F.lit("delete")
                ),
            )
            parts.append(_tag(both, F.col("__cdc_kind")))
    if not parts:
        return _empty()
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


def _added_files(
    table: str, start_version: int, end_version: int,
    branch: str | None = None,
) -> tuple[list[dict], dict | None]:
    """The metadata walk behind :func:`read_changes` and the
    ``snapshot_changes`` stream source: file names appended in
    ``(start_version, end_version]`` (``start_version=0`` = since table
    creation) as full SHARD ENTRIES (so callers can partition-filter
    from metadata) plus the last append's schema JSON (None if the
    range holds no append). Layout-only compactions are skipped; any other
    non-append commit raises — including a compaction whose PARENT had
    pending lazy-delete tombstones: that rewrite materialises the
    deletes, so it changes rows, not just layout (same guard
    :func:`read_cdc` applies via ``old_snap.get("deletes")``)."""
    prev_snap: dict = (
        {"shards": [], "deletes": []}
        if start_version == 0
        else _load_snapshot(table, start_version, branch)
    )
    prev: set[str] = {s["file"] for s in prev_snap["shards"]}
    added: list[dict] = []
    schema_json = None
    for v in range(start_version + 1, end_version + 1):
        snap = _load_snapshot(table, v, branch)
        cur = set(s["file"] for s in snap["shards"])
        if snap["operation"] in (
            "metadata", "add_column", "set_partition_spec",
            "rewrite_manifests",
        ):
            # constraint add/drop, ADD COLUMN, partition-spec
            # evolution, and manifest compaction: parent's shards
            # verbatim — row-preserving by construction, nothing to
            # emit (new columns read NULL on older files downstream).
            # rename/drop_column fall through to the loud raise below:
            # files appended before the rename carry old physical
            # names, which the end-schema read would silently NULL.
            prev, prev_snap = cur, snap
            continue
        if snap.get("properties", {}).get("compaction"):
            if prev_snap.get("deletes"):
                raise ValueError(
                    f"snapshot_table: read_changes supports append-only "
                    f"ranges; version {v} is a compaction that "
                    f"materialised pending lazy deletes (row-changing)"
                )
            prev, prev_snap = cur, snap  # layout only: same rows, new files
            continue
        if snap["operation"] != "append":
            raise ValueError(
                f"snapshot_table: read_changes supports append-only "
                f"ranges; version {v} is {snap['operation']!r}"
            )
        by_name = {s["file"]: s for s in snap["shards"]}
        added.extend(by_name[n] for n in sorted(cur - prev))
        prev, prev_snap = cur, snap
        schema_json = snap["schema"]
    return added, schema_json


def compact_partitions(
    spark: SparkSession, table: str, matching: dict,
    target_shards: int = 8,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 2048, bloom_k: int = 3,
) -> int:
    """PARTITION-SCOPED compaction (Iceberg ``rewrite_data_files`` with
    a partition filter / Delta ``OPTIMIZE WHERE``): rewrite only the
    shards of the partitions ``matching`` selects ({field:
    source_value_or_list}, transformed like every other probe) into
    ``target_shards`` right-sized files, carrying every other shard
    verbatim — the standing maintenance shape for streaming ingest into
    a partitioned table, where only today's/this hour's partition is
    hot and a full-table rewrite would be O(table) for an O(partition)
    problem.

    Shards with NO recorded value for a requested field (the streaming
    sink's arrival-order appends) are INCLUDED in the rewrite: they may
    hold matching rows, and the rewrite re-splits all their rows under
    the table spec — so compacting a partition also stamps the
    stragglers covering it, which is what re-arms exact pruning and
    :func:`drop_partition` after streaming appends. Row-preserving by
    construction (``properties.compaction`` — incremental/CDC readers
    skip it); pending lazy deletes refuse loudly (their shard-scoped
    tombstones would need per-shard materialisation bookkeeping — run
    the full :func:`compact_table` first, which materialises them).
    ``cluster_by`` range-clusters within the rewrite — the staged split
    range-partitions on (partition tuple, cluster keys) into
    ``target_shards`` slices, so each output file covers a narrow key
    range INSIDE its partition (multi-file clustered partitions, the
    layout per-partition stats pruning needs). ``bloom_cols`` records
    per-shard blooms on the rewrite, same as :func:`write_snapshot`.
    Returns the committed version."""
    n = max(1, target_shards)
    published: list[str] = []

    def apply(snap: dict) -> dict | None:
        if snap.get("deletes"):
            raise ValueError(
                "snapshot_table: partition-scoped compaction with "
                "pending lazy deletes would detach them; run "
                "compact_table first"
            )
        pb = snap.get("partition_by", [])
        probes = {
            c: _transform_probes(pb, c, w) for c, w in matching.items()
        }
        selected, kept = [], []
        for s in snap["shards"]:
            rec = s.get("partition", {})
            unstamped = any(c not in rec for c in matching)
            hit = all(
                _partition_match(s, c, t) for c, t in probes.items()
            )
            (selected if unstamped or hit else kept).append(s)
        if not selected:
            return None  # nothing to do; no empty commit
        schema = StructType.fromJson(snap["schema"])
        scols = stats_cols if stats_cols is not None else sorted(
            {c for s in selected for c in s.get("stats", {})}
        )
        df = _read_shards(spark, table, selected, schema)
        if cluster_by:
            # the per-tuple re-split shuffles anyway; the key locality
            # that makes stats selective is restored by cluster_within's
            # in-partition sort
            scols = list(dict.fromkeys(scols + list(cluster_by)))
        else:
            df = df.coalesce(n)
        mine, counts, stats, parts = _stage_publish(
            df, table, published, scols, pb,
            cluster_within=list(cluster_by or []),
            cluster_parts=n,
        )
        # blooms inherit like stats (recomputed for every column the
        # rewritten shards carried one for) unless the caller names an
        # explicit set
        if bloom_cols is None:
            blooms = _inherited_blooms(spark, table, mine, selected)
        else:
            blooms = _compute_blooms(
                spark, table, mine, bloom_cols, bloom_bits, bloom_k,
            )
        return {
            "operation": "compaction",
            "properties": {
                "compaction": True,
                "partition": _probe_log(matching),
                "shards_rewritten": len(selected),
                "shards_skipped": len(kept),
                "cluster_by": list(cluster_by or []),
            },
            "schema": snap["schema"],
            "shards": kept
            + _shard_entries(mine, counts, stats, blooms, parts),
        }

    # a lost claim recomputes the selection on the new base
    return _commit(table, None, apply, published)


def compact_table(
    spark: SparkSession, table: str, target_shards: int = 8,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None, zbits: int = 16,
    bloom_cols: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """Small-file compaction as a snapshot commit (Iceberg
    ``rewrite_data_files`` / Delta ``OPTIMIZE`` shaped): rewrite the
    latest version's rows into ``target_shards`` right-sized shards and
    commit as one overwrite snapshot — readers never see a torn layout,
    history still time-travels, and :func:`expire_snapshots` reclaims the
    small files. The standing maintenance job behind streaming ingestion
    (:func:`streaming_snapshot_sink` makes one snapshot per micro-batch,
    so shard counts grow until compaction runs).

    ``cluster_by`` additionally range-clusters the rewrite
    (``repartitionByRange`` + ``sortWithinPartitions`` — the single-key
    ZORDER): each output shard then covers a narrow, near-disjoint key
    range, which is what makes the snapshot's per-shard min/max stats
    (``stats_cols``) SELECTIVE for :func:`read_snapshot` pruning.
    Streaming ingest appends by arrival order, so without the clustered
    rewrite every shard spans the full key range and pruning keeps
    everything; after it, a key-range read touches O(range/shard_span)
    files. The range partitioner samples key quantiles, so skewed keys
    still split evenly at 100 TB.

    ``zorder_by=(x_col, y_col)`` is the TWO-dimensional clustered
    rewrite (Delta/Iceberg ``OPTIMIZE ZORDER BY``): Morton-interleave
    the low ``zbits`` of both columns into one sort key, then
    range-partition on it — each shard becomes a small rectangle in
    (x, y) space, so the recorded min/max stats stay selective for a
    predicate on EITHER column (single-key clustering gives that on one
    column only). Both columns must be non-negative integers below
    ``2**zbits`` for placement to be meaningful (hash/bucketize first
    otherwise; stats record REAL column values, so correctness never
    depends on this, only pruning selectivity). Mutually exclusive with
    ``cluster_by``.

    ``branch=`` compacts a BRANCH head: a streaming-WAP window
    accumulates one micro-batch file per commit, so compacting the
    branch before :func:`publish_branch` bounds the file count the
    publish makes live on main (Iceberg runs rewrite_data_files on
    branches for the same reason). Pending branch tombstones
    materialise in the rewrite, same as on main."""
    if cluster_by and zorder_by:
        raise ValueError(
            "snapshot_table: cluster_by and zorder_by are mutually exclusive"
        )
    from pyspark.sql import functions as F

    df = read_snapshot(spark, table, branch=branch)
    n = max(1, target_shards)
    # on a PARTITIONED table the staging split performs its own range
    # shuffle on (tuple, cluster keys) — a driver-side pre-shuffle here
    # would be a second full-table shuffle whose layout is immediately
    # discarded, so the clustering work is delegated entirely to
    # _stage_publish (via _cluster_within/_cluster_parts below)
    pb_live = bool(table_partition_by(table, branch))
    if cluster_by:
        if not pb_live:
            df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        stats_cols = list(dict.fromkeys((stats_cols or []) + list(cluster_by)))
    elif zorder_by:
        x_col, y_col = zorder_by
        if not pb_live:
            from ..operators.bucketing import morton_col

            mask = (1 << zbits) - 1
            z = morton_col(
                F.col(x_col).cast("bigint").bitwiseAND(F.lit(mask)),
                F.col(y_col).cast("bigint").bitwiseAND(F.lit(mask)),
                zbits,
            )
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        stats_cols = list(
            dict.fromkeys((stats_cols or []) + [x_col, y_col])
        )
    elif not pb_live:
        df = df.coalesce(n)
    # on a PARTITIONED table the staging re-split shuffles by tuple;
    # re-sorting inside each tuple preserves the clustered layout's
    # stats selectivity (zorder approximated by (x, y) lexicographic
    # order within a partition — stats stay correct either way)
    inner = list(cluster_by) if cluster_by else (
        list(zorder_by) if zorder_by else None
    )
    return write_snapshot(
        df, table, mode="overwrite",
        properties={
            "compaction": True,
            "cluster_by": list(cluster_by or []),
            "zorder_by": list(zorder_by or []),
        },
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        branch=branch,
        _cluster_within=inner,
        _cluster_parts=n,
    )
