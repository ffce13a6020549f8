"""Smoke tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/test_smoke.py -q

Each test starts run.py in a fresh process, as the benchmark is meant to
be run, and reads the JSON result from the last line of its stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "0.1",
         *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_is_correct_and_reports_every_metric(workload):
    out = result(run(ROOT, "--workload", workload, "--size", "tiny", "--trace", "0"))
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_failed(workload):
    out = result(run(ROOT, "--workload", workload, "--size", "tiny", "--trace", "0",
                     "--corrupt"))
    assert out["correct"] is False
    assert 1 <= out["failed"] <= out["attempted"]
    assert out["metrics"]["success_ratio"]["value"] < 1


def test_traced_run_reports_every_layer_metric():
    out = result(run(ROOT, "--workload", "llm_data", "--size", "tiny", "--trace", "1"))
    assert out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert out["metrics"]["operators.similarity.ann_index_topk.jobs"]["value"] > 0
    assert out["metrics"]["operators.pivot.pivot_long_to_wide.jobs"]["value"] == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = run(str(tmp_path), "--workload", WORKLOADS[0], "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
