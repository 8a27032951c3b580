"""The benchmark's own tests: the smoke mode passes every check and emits
every metric BENCHMARK.json declares, and the contract file agrees with the
code.  Run from the checkout root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_contract_matches_code():
    import layers
    import run

    b = _benchmark()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == layers.METRICS
    assert [m["name"] for m in b["end_to_end"]] == list(run.GATED)
    assert "setup_s" in run.GATED


def test_smoke_runs_every_workload_and_check():
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                          cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    reports = [x["report"] for x in lines if "report" in x]
    results = [x for x in lines if "correct" in x]
    per_layer = {m["name"] for m in _benchmark()["per_layer"]}
    assert [r["workload"] for r in reports] == [w["name"] for w in _benchmark()["workloads"]]
    for rep, res in zip(reports, results):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, rep["checks"]
        assert set(res["metrics"]) == per_layer
        assert all(c["ok"] for c in rep["checks"])
        assert os.path.isfile(os.path.join(ROOT, rep["trace_file"]))
        assert rep["workload_metrics"]


def test_refuses_to_run_without_the_library(tmp_path):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                           "zipf_build", "--seed", "0", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
