"""Smoke test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once (one process, traced), checks that every
metric ``BENCHMARK.json`` names is produced with a unit, that the
untraced line carries exactly the end-to-end metrics, and that the
correctness checks pass on a seed that was not used while the
benchmark was written. About three minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.metrics import (  # noqa: E402
    COMMON, END_TO_END, HIGHER_PER_LAYER, METRICS, OWN, PER_LAYER,
)

SEED = 9173  # never used while writing the benchmark
WORKLOADS = ("als_train", "table_ingest", "dedup_search")


def _bench(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _last_json(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_metric_tables(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    ] == [(k, *METRICS[k]) for k in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (k, u, "higher" if k in HIGHER_PER_LAYER else "lower") for k, u in PER_LAYER.items()
    ]


def test_all_workloads_traced_on_unseen_seed(spec):
    line = _last_json(_bench(
        "--workload", "all", "--seed", str(SEED), "--seconds", "1",
        "--trace", "1", "--sf", "0.001",
    ))
    assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0, line
    for w in WORKLOADS:
        for k, unit in PER_LAYER.items():
            assert line["metrics"][f"{w}.{k}"]["unit"] == unit
        path = os.path.join(REPO, ".perfbench_out", f"{w}-seed{SEED}-trace1.json")
        with open(path) as f:
            res = json.load(f)
        assert res["failed"] == 0 and res["rounds"] >= 1, res["check_failures"]
        assert set(res["metrics"]) == set(COMMON + OWN[w]), w
        assert res["spans"], w


def test_one_command_prints_every_named_metric():
    line = _last_json(_bench(
        "--workload", "all", "--seed", str(SEED), "--seconds", "1",
        "--trace", "0", "--sf", "0.001",
    ))
    assert line["correct"], line
    want = {f"{w}.{k}": METRICS[k][0] for w in WORKLOADS for k in COMMON + OWN[w]}
    assert {k: m["unit"] for k, m in line["metrics"].items()} == want


def test_contract_line_untraced(spec):
    line = _last_json(_bench(
        "--workload", "dedup_search", "--seed", str(SEED), "--seconds", "1",
        "--trace", "0", "--sf", "0.001",
    ))
    assert line["correct"], line
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    for m in line["metrics"].values():
        assert m["unit"] and m["value"] > 0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "als_train", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
