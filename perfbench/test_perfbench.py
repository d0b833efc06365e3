"""Self-tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench -q

Each run starts Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _git_status() -> str:
    proc = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return proc.stdout if proc.returncode == 0 else None


@pytest.fixture(scope="module")
def runs():
    """Every workload traced and untraced, in the default scratch directory."""
    before = _git_status()
    results = {(w, t): _bench(w, t) for w in WORKLOADS for t in (0, 1)}
    return results, before, _git_status()


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_benchmark_metric_prints_with_its_unit(runs, trace, section):
    expected = {m["name"]: m["unit"] for m in SPEC[section]}
    for workload in WORKLOADS:
        out = runs[0][(workload, trace)]
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1 + trace, (workload, out)
        assert {k: v["unit"] for k, v in out["metrics"].items()} == expected, workload
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_runner_loads_every_fit_from_the_store(runs):
    assert runs[0][("runner_recurring", 1)]["metrics"]["io.store_hit_ratio"]["value"] == 1.0


def test_a_tampered_fingerprint_fails_every_op(tmp_path):
    out = _bench(WORKLOADS[0], 0, "--tamper", "--scratch", str(tmp_path))
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 1


def test_runs_leave_git_status_unchanged(runs):
    _, before, after = runs
    if before is None:
        pytest.skip("not a git checkout")
    assert after == before
