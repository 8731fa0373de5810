#!/usr/bin/env python3
"""Benchmark of the engine: three workloads, one process, local Spark.

    python3 perfbench/run.py --workload als_train --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # all three, one report

Workloads: ``als_train``, ``table_ingest``, ``dedup_search`` (see
``perfbench/README.md``). Each is a closed loop with one client: set
up (session, inputs made from ``--seed``, the workload's own start),
then whole rounds until ``--seconds`` have passed, at least one,
checking every output on the way. There is no warm-up round: the
first round runs on a JIT-cold engine, as a fresh job would
(``dedup_search`` starts its Python worker pool in set-up, see
``perfbench/README.md``).

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate,
traced run). A readable report goes to stderr, and the full result,
with the spans of a traced run, to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# import the benchmark as the ``perfbench`` package, never its modules
# as top-level names
sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, REPO)]

PACKAGE = "svdmovie_lens_parallel_apache_spark_spark"
WORKLOADS = ("als_train", "table_ingest", "dedup_search")
SETUP_REPEATS = 3  # input set-up runs this often; setup_s takes the median
OUT_DIR = os.path.join(REPO, ".perfbench_out")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Benchmark of the engine (see module docstring).")
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0, help="measured window per workload")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="input scale; 0.1 is the benchmark's size")
    return p.parse_args(argv)


def _classes():
    from perfbench.als_train import AlsTrain
    from perfbench.dedup_search import DedupSearch
    from perfbench.table_ingest import TableIngest

    return {c.name: c for c in (AlsTrain, TableIngest, DedupSearch)}


def _expected(sf: float, seed: int) -> dict:
    """Values recorded for this (scale, seed), if any."""
    with open(os.path.join(REPO, "perfbench", "expected.json")) as f:
        return json.load(f).get(f"sf{sf:g}", {}).get(str(seed), {})


def run_workload(cls, spark, box, args, session_s: float, expected: dict) -> dict:
    from perfbench import data, metrics
    from perfbench import harness as h

    tracer = h.Tracer(bool(args.trace), f"{cls.name}-seed{args.seed}-pid{os.getpid()}")
    rec = h.Recorder(tracer)
    wl = cls(spark, rec, box, args.seed, data.Sizes.at(args.sf), expected)
    prep, start_s, t0, t1, aborted = [], 0.0, 0.0, 0.0, None
    try:
        for i in range(SETUP_REPEATS):
            if i:  # keep only the newest inputs on disk
                shutil.rmtree(box.path(cls.name, f"setup{i - 1}"), ignore_errors=True)
            t = time.perf_counter()
            with tracer.span("bench.setup"):
                wl.prepare(f"setup{i}")
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("bench.start"):
            wl.start()
        start_s = time.perf_counter() - t
        h.log(f"{cls.name}: set-up {prep} s, start {start_s:.2f} s; "
              f"measuring {args.seconds:g} s")
        rec.measuring = True
        t0 = time.perf_counter()
        while True:  # whole rounds; at least one
            with rec.round():
                wl.round()
            if time.perf_counter() - t0 >= args.seconds:
                break
        t1 = time.perf_counter()
        rec.measuring = False
        wl.finish()
    except h.OpFailed as e:
        aborted = str(e)
        h.log(f"{cls.name}: ABORTED: {aborted}")
    rec.measuring = False
    t1 = t1 or time.perf_counter()
    failed = rec.failed + (1 if aborted and not rec.failed else 0)

    named = {
        "setup_s": session_s + h.median(prep) + start_s,
        "wall_s": h.median(rec.rounds),
        "cpu_s": h.median(rec.round_cpu),
        "ops_per_s": rec.measured_calls / max(1e-9, t1 - t0),
        "peak_rss_mb": float("nan"),  # whole process; filled in at the end
        "failed_ops_ratio": failed / max(1, rec.attempted),
    }
    named.update(wl.report() if rec.rounds else dict.fromkeys(metrics.OWN[cls.name], float("nan")))
    layer = {k: 0.0 for k in metrics.PER_LAYER}
    if tracer.enabled:
        ledger = h.SparkLedger(spark)
        layer["session.start_s"] = session_s
        layer.update(ledger.summary(tracer.epoch_ms(t0), tracer.epoch_ms(t1)))
        if aborted is None:
            layer.update(wl.layers(metrics.LayerView(rec, ledger, t0, t1)))
        for name, s in tracer.self_times(t0, t1).items():
            if f"{name}.self_s" in layer:
                layer[f"{name}.self_s"] = s
        layer["bench.wall_s"] = named["wall_s"]
        layer["bench.rounds"] = len(rec.rounds)
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.overhead_ms"] = 1e3 * tracer.overhead_s
    return {
        "workload": cls.name,
        "attempted": rec.attempted,
        "failed": failed,
        "aborted": aborted,
        "check_failures": rec.notes,
        "recorded": wl.recorded(),
        "rounds": len(rec.rounds),
        "window_s": t1 - t0,
        "setup": {"session_start_s": session_s, "prepare_s": prep, "start_s": start_s},
        "calls": {
            k: {"n": len(v), "median_s": h.median(v), "samples_s": v}
            for k, v in rec.samples.items()
        },
        "rounds_s": rec.rounds,
        "metrics": named,
        "per_layer": layer,
        "spans": tracer.to_json() if tracer.enabled else [],
    }


def run(args) -> list[dict]:
    from perfbench import harness as h

    classes = _classes()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    expected = _expected(args.sf, args.seed)
    box = h.Sandbox()
    rss = h.RssSampler().start()
    spark, results = None, []
    try:
        t = time.perf_counter()
        spark = h.start_session(box)
        session_s = time.perf_counter() - t
        for name in names:
            results.append(run_workload(classes[name], spark, box, args, session_s, expected.get(name, {})))
    finally:
        if spark is not None:
            h.stop_session(spark)
        rss.stop()
        box.close()
    for r in results:
        r["metrics"]["peak_rss_mb"] = rss.peak_bytes / 2**20
    return results


def _finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found in {REPO}", file=sys.stderr)
        return 2
    from perfbench.metrics import END_TO_END, METRICS, PER_LAYER

    with contextlib.redirect_stdout(sys.stderr):
        results = run(args)
    os.makedirs(OUT_DIR, exist_ok=True)
    for r in results:
        path = os.path.join(OUT_DIR, f"{r['workload']}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump({"args": vars(args), **r}, f, indent=1, default=float)
        print(f"\n== {r['workload']} (seed {args.seed}, {r['rounds']} rounds, "
              f"{r['attempted']} ops, {r['failed']} failed) -> {path}", file=sys.stderr)
        for k, v in r["metrics"].items():
            print(f"  {k:<22} {v:>14.4f} {METRICS[k][0]}", file=sys.stderr)

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    if args.trace:
        values = {
            (f"{r['workload']}." if len(results) > 1 else "") + k: (r["per_layer"][k], u)
            for r in results for k, u in PER_LAYER.items()
        }
    elif len(results) > 1:  # --workload all: every named metric of every workload
        values = {f"{r['workload']}.{k}": (v, METRICS[k][0]) for r in results for k, v in r["metrics"].items()}
    else:
        values = {k: (results[0]["metrics"][k], METRICS[k][0]) for k in END_TO_END}
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": _finite(v), "unit": u} for k, (v, u) in values.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
