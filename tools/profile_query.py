#!/usr/bin/env python
"""Profile ONE catalog query: split its wall time into Spark jobs vs
driver-side gaps, and label the engine calls (write_snapshot /
merge_upsert / ...) that issued them.

Round-13 measurement tool (guide §1: measure first). Two instruments:

1. Python-level: every public function defined in snapshot_table and
   materialized_view is wrapped with a wall-clock timer, so the report
   shows how much of the query's time each engine call owns (inclusive).
2. JVM-level: the Spark event log is parsed into a job timeline —
   per-job duration + the gaps between jobs (driver work: planning,
   commit protocol, py4j chatter).

Usage:
    python tools/profile_query.py <query> [sf_dir]
"""
from __future__ import annotations

import inspect
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CALLS: list[tuple[str, float, float, int]] = []  # (label, t0_rel, dur, depth)
_T0 = [0.0]
_DEPTH = [0]


def _wrap(mod, name):
    orig = getattr(mod, name)
    label = f"{mod.__name__.rsplit('.', 1)[-1]}.{name}"

    def w(*a, **k):
        _DEPTH[0] += 1
        depth = _DEPTH[0]
        t = time.time()
        try:
            return orig(*a, **k)
        finally:
            d = time.time() - t
            _DEPTH[0] -= 1
            CALLS.append((label, t - _T0[0], d, depth))

    setattr(mod, name, w)


def main():
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from svdmovie_lens_parallel_apache_spark_spark import get_spark
    from svdmovie_lens_parallel_apache_spark_spark.session import scratch_dir

    evdir = scratch_dir("evlog")

    spark = get_spark(
        app_name=f"profile-{qname}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from svdmovie_lens_parallel_apache_spark_spark.sources import (
        materialized_view as mvw,
        snapshot_table as st,
    )

    for mod in (st, mvw):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if not name.startswith("_") and fn.__module__ == mod.__name__:
                _wrap(mod, name)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import (
        load_table,
    )

    for t in ("lineitem", "events", "documents", "embeddings", "orders"):
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass

    if os.environ.get("PROFILE_WARMUP"):
        # one untimed run first: JIT/classloading/stream-machinery
        # warmup, so the timed run's structure matches bench.py's
        # min-of-N warm numbers instead of cold-start costs
        qs[qname](spark, sf_dir).count()
        CALLS.clear()

    # timed run (post-warmup)
    _T0[0] = time.time()
    df = qs[qname](spark, sf_dir)
    n = df.count()
    wall = time.time() - _T0[0]
    t0_epoch = _T0[0]
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flush event log

    print(f"\n=== {qname}: wall {wall:.3f}s, rows {n} ===")
    print("\n-- engine calls (top-level, inclusive wall) --")
    agg: dict[str, list[float]] = {}
    for label, ts, d, depth in CALLS:
        if depth == 1:
            agg.setdefault(label, []).append(d)
    for label, ds in sorted(agg.items(), key=lambda kv: -sum(kv[1])):
        print(f"{sum(ds):8.3f}s  n={len(ds):3d}  {label}")
    print(
        f"{sum(d for _, _, d, dep in CALLS if dep == 1):8.3f}s"
        f"  total in top-level engine calls"
    )

    # event-log job timeline
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cands = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        if not cands:
            print(f"no event log found under {evdir}; job timeline skipped")
            return
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):  # Spark 4 rolling event log dir
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        files = [path]

    def _lines():
        for fp in files:
            with open(fp) as f:
                yield from f

    jobs = []
    if True:
        starts = {}
        for line in _lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                site = ""
                si = ev.get("Stage Infos") or []
                if si:
                    site = si[-1].get("Stage Name", "")
                starts[ev["Job ID"]] = (ev["Submission Time"], desc, site)
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in starts:
                    t, desc, site = starts.pop(jid)
                    jobs.append((jid, t, ev["Completion Time"], desc, site))
    jobs.sort(key=lambda j: j[1])
    rel0 = t0_epoch * 1000.0
    jobs = [j for j in jobs if j[2] >= rel0]  # only jobs in the timed window
    print(f"\n-- job timeline ({len(jobs)} jobs in timed window) --")
    prev_end = rel0
    gap_total = 0.0
    job_total = 0.0
    rows = []
    for jid, t, tend, desc, site in jobs:
        gap = max(0.0, (t - prev_end) / 1000.0)
        dur = (tend - t) / 1000.0
        gap_total += gap
        job_total += dur
        rows.append((gap, dur, jid, desc or site))
        prev_end = max(prev_end, tend)
    tail_gap = max(0.0, (t0_epoch + wall) * 1000.0 - prev_end) / 1000.0
    gap_total += tail_gap
    # attribute each job to the engine call whose window contains it
    def _owner(t_ms):
        rel = (t_ms - rel0) / 1000.0
        best, bestd = "-", -1
        for label, ts, d, depth in CALLS:
            if ts <= rel <= ts + d and depth > bestd:
                best, bestd = label, depth
        return best

    for (gap, dur, jid, what), (_, t, tend, _, _) in zip(rows, jobs):
        mark = " <-- gap" if gap > 0.2 else ""
        own = _owner(t)
        print(
            f"gap {gap:6.3f}s | job {jid:4d} {dur:7.3f}s "
            f"[{own[:40]:40s}] {what[:110]}{mark}"
        )
    if tail_gap:
        print(f"gap {tail_gap:6.3f}s | (after last job)")
    print(
        f"\njobs: {job_total:.3f}s in {len(jobs)} jobs; "
        f"driver gaps: {gap_total:.3f}s; wall {wall:.3f}s"
    )


if __name__ == "__main__":
    main()
