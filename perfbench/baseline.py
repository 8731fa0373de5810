#!/usr/bin/env python3
"""Record the benchmark's baseline and check that it repeats.

    python3 perfbench/baseline.py --seeds 1-10          # ~45 min on 4 cores

Runs every workload of ``BENCHMARK.json`` once per seed, untraced, as
two separate sets (A, then B) of the same code, then one traced run per
workload on the first seed. Writes ``perfbench/baseline.json``:

- per workload and set, every named metric's values, median and
  spread (interquartile range over median, as
  ``statistics.quantiles(values, n=4)`` gives the quartiles);
- B's median over A's, and whether each metric kept its bound: spread
  within the bound (``setup_s`` exempt) and B's median no worse than
  A's by more than the bound; a metric the seed fixes must repeat
  exactly, run by run;
- the traced run's per-layer metrics, and the tracing overhead: traced
  ``wall_s`` minus the untraced ``wall_s`` of the same seed in set A;
- the host, and the seconds each run took.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, REPO)]

from perfbench.metrics import END_TO_END, METRICS, PER_SEED  # noqa: E402

OUT = os.path.join(HERE, "baseline.json")


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    elapsed = time.perf_counter() - t
    if p.returncode != 0 or not p.stdout.strip():
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(REPO, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        res = json.load(f)
    print(f"[baseline] {workload} seed {seed} trace {trace}: {elapsed:.1f} s, "
          f"correct={line['correct']}", file=sys.stderr, flush=True)
    return {"elapsed_s": elapsed, "line": line, "result": res}


def _spread(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / med if med else 0.0


def _worse_by(a: float, b: float, better: str) -> float:
    """How much worse median ``b`` is than median ``a``, as a share of ``a``."""
    if not a:
        return 0.0 if b == a else float("inf")
    return (b - a) / a if better == "lower" else (a - b) / a


def report(sets: dict, traced: dict, seeds: list[int], seconds: int) -> dict:
    """The baseline document from the runs of both sets (``sets[tag][workload]``,
    one run per seed) and the traced run of each workload."""
    workloads = list(traced)
    out = {}
    for w in workloads:
        per_set = {}
        for tag, by_workload in sets.items():
            runs = by_workload[w]
            if not all(r["line"]["correct"] for r in runs):
                raise SystemExit(f"{w} set {tag}: a run failed its checks")
            values = {k: [r["result"]["metrics"][k] for r in runs] for k in runs[0]["result"]["metrics"]}
            per_set[tag] = {
                "elapsed_s": [r["elapsed_s"] for r in runs],
                "metrics": {
                    k: {"values": xs, "median": statistics.median(xs), "spread": _spread(xs)}
                    for k, xs in values.items()
                },
            }
        agreement = {}
        for k, (unit, better, bound) in METRICS.items():
            if k not in per_set["A"]["metrics"]:
                continue
            a, b = per_set["A"]["metrics"][k], per_set["B"]["metrics"][k]
            worse = _worse_by(a["median"], b["median"], better)
            if k in PER_SEED:  # a function of the seed: both sets must match run by run
                held = a["values"] == b["values"]
            else:
                spreads_ok = k == "setup_s" or max(a["spread"], b["spread"]) <= bound
                held = spreads_ok and worse <= bound
            agreement[k] = {
                "unit": unit, "better": better, "bound": bound, "end_to_end": k in END_TO_END,
                "spread_a": a["spread"], "spread_b": b["spread"],
                "b_over_a": b["median"] / a["median"] if a["median"] else None,
                "b_worse_by": worse, "held": held,
            }
        t = traced[w]["result"]
        untraced_wall = per_set["A"]["metrics"]["wall_s"]["values"][0]
        out[w] = {
            "sets": per_set,
            "agreement": agreement,
            "traced": {
                "seed": seeds[0],
                "per_layer": t["per_layer"],
                "wall_s": t["metrics"]["wall_s"],
                "untraced_wall_s": untraced_wall,
                "tracing_overhead_s": t["metrics"]["wall_s"] - untraced_wall,
                "span_recorder_s": t["per_layer"]["trace.overhead_ms"] / 1e3,
                "calls": {k: v["samples_s"] for k, v in t["calls"].items()},
            },
        }
    with open("/proc/cpuinfo") as f:
        cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    return {
        "host": {
            "cpu": cpu, "nproc": os.cpu_count(), "python": platform.python_version(),
            "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        },
        "seeds": seeds,
        "run_seconds": seconds,
        "mean_run_s": statistics.mean(
            r["elapsed_s"] for by_w in sets.values() for runs in by_w.values() for r in runs
        ),
        "all_held": all(m["held"] for r in out.values() for m in r["agreement"].values()),
        "workloads": out,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = _seeds(args.seeds)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]

    sets = {}
    for tag in ("A", "B"):
        sets[tag] = {w: [_run(w, s, seconds, 0) for s in seeds] for w in workloads}
    traced = {w: _run(w, seeds[0], seconds, 1) for w in workloads}
    doc = report(sets, traced, seeds, seconds)
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    for w, r in doc["workloads"].items():
        for k, m in r["agreement"].items():
            print(f"{w:13s} {k:17s} spread A {m['spread_a']:.3f} B {m['spread_b']:.3f} "
                  f"B worse by {m['b_worse_by']:+.3f} bound {m['bound']} held {m['held']}")
    print(f"all held: {doc['all_held']}; mean run {doc['mean_run_s']:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
