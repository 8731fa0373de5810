#!/usr/bin/env python
"""Snapshot the physical-plan fingerprint of every catalog query.

Round-4 verdict item #2: `tests/test_plans.py` structurally gates only the
headline queries; the other ~140 could silently regress (a lost parquet
pushdown, a join that degrades to CartesianProduct, a Python UDF sneaking
into a hot path) without failing anything. This tool builds every query in
the catalog at a small SF, reduces each physical plan to the stats-stable
fingerprint from ``plans.explain.plan_fingerprint``, and writes the sorted
snapshot to PLAN_FINGERPRINTS.json (committed).
``tests/test_plan_fingerprints.py`` re-derives the fingerprints and asserts
equality, so any plan-shape drift fails CI with a per-field diff.

Update path after an INTENTIONAL plan change:

    python tools/plan_fingerprints.py          # rewrites the snapshot
    git diff PLAN_FINGERPRINTS.json            # review the drift is the one you meant
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SNAPSHOT = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
DEFAULT_SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def compute_fingerprints(spark, sf_dir: str, names=None) -> dict[str, dict]:
    """Build each catalog query (plan only — no .count(), though builders
    with internal driver loops run their bounded jobs) and fingerprint it.

    Session state is reset between queries (temp views, cache, live
    streams) so one query's leftovers never shape another's plan.
    """
    from svdmovie_lens_parallel_apache_spark_spark.plans.explain import plan_fingerprint
    from svdmovie_lens_parallel_apache_spark_spark.session import isolate

    import __spark_entry__ as entry

    qs = entry.queries()
    names = names or sorted(qs)
    keep_views = {t.name for t in spark.catalog.listTables()}
    out: dict[str, dict] = {}
    for name in names:
        out[name] = plan_fingerprint(qs[name](spark, sf_dir))
        isolate(spark, keep_views)
    return out


def main() -> None:
    from svdmovie_lens_parallel_apache_spark_spark import get_spark

    # same plan-relevant conf as tests/conftest.py: fingerprints must be
    # identical between this writer and the pytest reader
    spark = get_spark(app_name="svdml-plan-fingerprints", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    fps = compute_fingerprints(spark, DEFAULT_SF, names)
    prior = {}
    if names and os.path.exists(SNAPSHOT):  # scoped update: merge, prune removed
        with open(SNAPSHOT) as f:
            prior = json.load(f)
        import __spark_entry__ as entry

        live = set(entry.queries())
        prior = {k: v for k, v in prior.items() if k in live}
    merged = {**prior, **fps}
    with open(SNAPSHOT, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(merged)} fingerprints -> {SNAPSHOT}")
    spark.stop()


if __name__ == "__main__":
    main()
