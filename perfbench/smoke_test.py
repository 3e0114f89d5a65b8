"""Smoke test of the benchmark harness at tiny sizes.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Checks that every workload prints every end-to-end metric of
``BENCHMARK.json`` by name and unit, that a traced run prints every
per-layer metric, and that deliberately corrupted neighbour lists fail
the recall check, both in the checker alone and end to end.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in wanted)
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_corrupted_neighbours_fail_recall_check():
    rng = np.random.default_rng(0)
    X = rng.standard_normal((500, 8))
    Q = rng.standard_normal((20, 8))
    ids = np.arange(500, dtype=np.int64) + 1000
    qids = np.arange(20, dtype=np.int64)
    truth = checks.exact_knn(ids, X, Q, 10)
    found = {int(q): [int(x) for x in row] for q, row in zip(qids, truth)}
    recall, problems = checks.check_knn(found, qids, truth, 10, 0.9)
    assert recall == 1.0 and not problems
    recall, problems = checks.check_knn(checks.corrupt_neighbours(found),
                                        qids, truth, 10, 0.9)
    assert recall < 0.9 and problems


def test_every_workload_prints_end_to_end_metrics():
    spec = _spec()
    for w in spec["workloads"]:
        result = _run(w["name"], 0)
        assert result["correct"] and result["failed"] == 0, result
        _assert_metrics(result, spec["end_to_end"])


def test_traced_run_prints_per_layer_metrics():
    spec = _spec()
    _assert_metrics(_run("build_extend", 1), spec["per_layer"])


def test_corrupted_run_reports_failed_ops():
    result = _run("ann_search", 0, "--corrupt")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["ok_ops_frac"]["value"] < 1.0


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}", flush=True)
