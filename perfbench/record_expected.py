#!/usr/bin/env python3
"""Record the per-seed values the correctness checks pin: ``als_train``'s
test RMSE and ``dedup_search``'s pair and cluster counts.

    python3 perfbench/record_expected.py --seeds 0-31 --sf 0.1

One session; per seed, one round of each workload on that seed's
inputs (the same code the benchmark runs). Every other check must pass
first. The values are merged into ``perfbench/expected.json`` under
``sf<sf>`` / ``<seed>`` / ``<workload>``; a benchmark run with a
recorded (scale, seed) then requires them exactly. Re-record only
after a change that is meant to move them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, REPO)]

PATH = os.path.join(HERE, "expected.json")


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", required=True, help="one seed or an inclusive range, e.g. 0-31")
    p.add_argument("--sf", type=float, default=0.1)
    args = p.parse_args(argv)

    from perfbench import data
    from perfbench import harness as h
    from perfbench.als_train import AlsTrain
    from perfbench.dedup_search import DedupSearch

    with open(PATH) as f:
        expected = json.load(f)
    table = expected.setdefault(f"sf{args.sf:g}", {})
    box = h.Sandbox()
    spark = None
    try:
        spark = h.start_session(box)
        for seed in _seeds(args.seeds):
            for cls in (AlsTrain, DedupSearch):
                rec = h.Recorder(h.Tracer(False, ""))
                wl = cls(spark, rec, box, seed, data.Sizes.at(args.sf), {})
                wl.prepare(f"seed{seed}")
                wl.round()
                if rec.failed:
                    raise SystemExit(f"{cls.name} seed {seed}: checks failed: {rec.notes}")
                table.setdefault(str(seed), {})[cls.name] = wl.recorded()
                h.log(f"{cls.name} seed {seed}: {wl.recorded()}")
                shutil.rmtree(box.path(cls.name), ignore_errors=True)
            with open(PATH, "w") as f:  # after every seed: a long run keeps its progress
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        if spark is not None:
            h.stop_session(spark)
        box.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
