#!/usr/bin/env python
"""Scaling rehearsal: time the heaviest catalog queries at two scale
factors (driver sf0.1 and the 10x replica fixture from
``tools/make_scale_fixture.py``) and record the empirical scaling
exponent per query:

    exponent = log(t_big / t_small) / log(size_ratio)

~1.0 = linear, ~1.15 = n log n territory, >=1.5 smells quadratic (the
thing this rehearsal exists to catch — a stage whose pair/candidate set
grows with the square of the corpus).

Writes SCALING.json at the repo root; bench.py embeds it in its JSON
line (so the per-round BENCH artifact carries the rehearsal) — timings
here are one-shot local numbers, not a tuned benchmark.

A SECOND decade (sf1 -> sf10, i.e. 100x the driver's sf0.1) is recorded
under the ``second_decade`` key when run with SPARK_GRAFT_DECADE=2: one
decade of measurement only supports one decade of extrapolation, and the
100 TB claim deserves two. Decade-2 runs default to
scratch/sf1 -> scratch/sf10 and a curated heavy subset (a full catalog
pass at sf10 is hours, not minutes).

Usage:
    python tools/make_scale_fixture.py            # once, builds scratch/sf1
    python tools/make_scale_fixture.py /root/testdata/sf0.1 scratch/sf10 100
    python tools/scale_rehearsal.py [q1,q2,...]   # decade 1 (sf0.1 -> sf1)
    SPARK_GRAFT_DECADE=2 python tools/scale_rehearsal.py [q1,q2,...]
    # decade 3 (sf10 -> sf100; build scratch/sf100 from scratch/sf10 x10
    # first): the 100 TB-risk families only (r12 verdict item 5)
    SPARK_GRAFT_DECADE=3 python tools/scale_rehearsal.py [q1,q2,...]
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the round-2 fresh-session cost ranking (VERDICT.md "Performance"):
# slowest first, spanning every heavy family — dedup pair-gen + CC,
# ANN encode/scan, stream-stream join, text aggs, TPC-H heavies; r4 adds
# the stateful-streaming family (session windows, per-key state,
# foreachBatch rollup merge) — state-STORE growth is a scale axis the
# batch queries never touch
DEFAULT_QUERIES = [
    "dedup_clusters",
    "ann_pq_knn",
    "dedup_simhash",
    "pipeline_e2e",
    "dedup_jaccard_pairs",
    "dedup_minhash",
    "streaming_click_attribution",
    "term_frequency",
    "q21_sole_returner",
    "q08_market_share",
    "streaming_session_window",
    "streaming_stateful_user_totals",
    "streaming_incremental_rollup",
    "bpe_merge_rounds",
    "bigram_lm_score",
    "corpus_build_manifest",
]

# decade-2 subset: the queries whose decade-1 exponents were highest or
# whose mechanism changes shape with size (pair generation, fixpoint
# iteration count, ANN scan width) — the ones a second decade can falsify
DECADE2_QUERIES = [
    "dedup_jaccard_pairs",   # 0.92 at decade 1 — closest to superlinear
    "dedup_clusters",
    "dedup_minhash",
    "dedup_simhash",
    "ann_pq_knn",
    "pipeline_e2e",
    "bigram_lm_score",
    "term_frequency",
    "q21_sole_returner",
    "bpe_merge_rounds",
]

# decade-3 subset: the five shapes whose 100 TB story carries the most
# risk (r12 verdict item 5) — lossless prefix-filter pair generation,
# connected-components edge-threshold crossing, CDC key-range paging,
# manifest metadata scaling, and the tf-idf two-pass agg
DECADE3_QUERIES = [
    "dedup_jaccard_prefix",
    "dedup_clusters",
    "snapshot_cdc_paged",
    "snapshot_manifest_scale",
    "tfidf_top_terms",
]

DECADE = os.environ.get("SPARK_GRAFT_DECADE", "1")
if DECADE not in ("1", "2", "3"):
    sys.exit(
        f"scale_rehearsal: SPARK_GRAFT_DECADE={DECADE!r} is not one of "
        f"1/2/3; for a custom fixture pair use SPARK_GRAFT_DECADE=1 "
        f"with SPARK_GRAFT_SMALL_SF/SPARK_GRAFT_BIG_SF overrides"
    )
_D2 = DECADE == "2"
_D3 = DECADE == "3"
_SMALL_DEFAULT = {
    "1": "/root/testdata/sf0.1",
    "2": os.path.join(REPO, "scratch", "sf1"),
    "3": os.path.join(REPO, "scratch", "sf10"),
}[DECADE]
_BIG_DEFAULT = os.path.join(
    REPO, "scratch", {"1": "sf1", "2": "sf10", "3": "sf100"}[DECADE]
)
SMALL = os.environ.get("SPARK_GRAFT_SMALL_SF", _SMALL_DEFAULT)
BIG = os.environ.get("SPARK_GRAFT_BIG_SF", _BIG_DEFAULT)
RATIO = float(os.environ.get("SPARK_GRAFT_SF_RATIO", "10"))


def main() -> None:
    default = (
        DECADE3_QUERIES if _D3 else DECADE2_QUERIES if _D2 else DEFAULT_QUERIES
    )
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else default
    from svdmovie_lens_parallel_apache_spark_spark import get_spark
    from svdmovie_lens_parallel_apache_spark_spark.session import (
        clear_scratch,
        isolate,
    )

    spark = get_spark(app_name="svdml-scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs = m.queries()
    keep_views = {t.name for t in spark.catalog.listTables()}

    out = {}
    for name in names:
        rec = {}
        for tag, sf in (("small", SMALL), ("big", BIG)):
            t0 = time.time()
            n = qs[name](spark, sf).count()
            rec[f"t_{tag}_s"] = round(time.time() - t0, 3)
            rec[f"rows_{tag}"] = n
            isolate(spark, keep_views)
            clear_scratch()
        rec["exponent"] = round(
            math.log(max(rec["t_big_s"], 1e-3) / max(rec["t_small_s"], 1e-3))
            / math.log(RATIO),
            3,
        )
        # stamp each record with the fixture pair it was measured against:
        # scoped runs merge into SCALING.json, and without the stamp a
        # merged file can silently mix exponents from different fixture
        # generations while only the header records the latest dirs
        rec["fixtures"] = f"{SMALL} -> {BIG}"
        out[name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)

    # scoped runs MERGE into the existing file (a names argument would
    # otherwise silently drop every other query's recorded exponent) —
    # but prune entries for queries since removed/renamed from the catalog.
    # Decade 1 lives at the top level (back-compat with bench embedding);
    # decade 2 under "second_decade"; each preserves the other on write.
    path = os.path.join(REPO, "SCALING.json")
    prior_full = {}
    if os.path.exists(path):
        with open(path) as f:
            prior_full = json.load(f)
    _block_key = "third_decade" if _D3 else "second_decade" if _D2 else None
    prior = (
        prior_full.get(_block_key, {}).get("queries", {})
        if _block_key
        else prior_full.get("queries", {})
    )
    merged = {**{k: v for k, v in prior.items() if k in qs}, **out}
    block = {
        "small_sf_dir": SMALL,
        "big_sf_dir": BIG,
        "size_ratio": RATIO,
        "queries": merged,
    }
    # other top-level keys (the other decade, cc_natural_rehearsal, ...)
    # are preserved verbatim on write
    if _block_key:
        payload = {
            **{k: v for k, v in prior_full.items() if k != _block_key},
            _block_key: block,
        }
    else:
        own = ("small_sf_dir", "big_sf_dir", "size_ratio", "queries")
        payload = {
            **{k: v for k, v in prior_full.items() if k not in own},
            **block,
        }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
