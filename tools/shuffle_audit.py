#!/usr/bin/env python
"""Measure per-query shuffle-write vs input bytes for the whole catalog.

Round-4 verdict item #6: the regression everyone fears in a dedup/ANN
codebase is a quiet pair-explosion — a candidate set that goes quadratic
while still matching its oracle at toy SF. Plan-shape gates can't see it
(the plan is the same shape, just 1000x the rows through the exchange);
this audit CAN: it runs every catalog query, attributes executed-stage
metrics to it via ``plans.metrics.StageMetricsProbe``, and records

    amplification = shuffle_write_bytes / max(input_bytes, 1)

Writes SHUFFLE_AUDIT.json (committed, per-SF block). The pytest gate
(``tests/test_shuffle_guard.py``) re-measures live and asserts each
family stays under its committed cap.

Usage:
    python tools/shuffle_audit.py                      # sf0.01, all queries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/shuffle_audit.py q1,q2
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "SHUFFLE_AUDIT.json")


def audit(spark, sf_dir: str, names=None) -> dict[str, dict]:
    from svdmovie_lens_parallel_apache_spark_spark.plans.metrics import StageMetricsProbe
    from svdmovie_lens_parallel_apache_spark_spark.session import isolate

    import __spark_entry__ as entry

    qs = entry.queries()
    names = names or sorted(qs)
    probe = StageMetricsProbe(spark)
    keep_views = {t.name for t in spark.catalog.listTables()}
    out: dict[str, dict] = {}
    for name in names:
        before = probe.seen_stages()
        n = qs[name](spark, sf_dir).count()
        m = probe.delta(before)
        m["rows"] = n
        m["amplification"] = round(m["shuffle_write_bytes"] / max(m["input_bytes"], 1), 3)
        # generator sources (Python DataSource, rate, range) report ZERO
        # input_bytes to the stage metrics, so their "ratio" degenerates
        # to absolute shuffle bytes — flag them so a large-looking number
        # is read as bytes, not as a pair explosion (caps for these are
        # set in BYTES in tests/test_shuffle_guard.py)
        if m["input_bytes"] == 0:
            m["generator_source"] = True
        out[name] = m
        print(f"# {name}: in={m['input_bytes']} sw={m['shuffle_write_bytes']} "
              f"amp={m['amplification']}", file=sys.stderr)
        isolate(spark, keep_views)
    return out


def main() -> None:
    from svdmovie_lens_parallel_apache_spark_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="svdml-shuffle-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    res = audit(spark, sf_dir, names)
    prior = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            prior = json.load(f)
    import __spark_entry__ as entry

    live = set(entry.queries())
    block = prior.get(sf_dir, {})
    block = {k: v for k, v in block.items() if k in live}
    block.update(res)
    prior[sf_dir] = block
    with open(OUT, "w") as f:
        json.dump(prior, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(block)} audits for {sf_dir} -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
