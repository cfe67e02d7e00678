"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q

Each case runs ``perfbench/run.py`` as the benchmark is run: a fresh
process from the root of the checkout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# counters the trace must repeat exactly for one seed
DETERMINISTIC = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "delta.files_added",
    "delta.files_removed",
    "dedup.candidate_pairs",
)


def run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    """Run one tiny benchmark; return its details line and result line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs():
    """Per workload: one untraced run and two traced runs, same seed."""
    return {
        w: {"plain": run(w, 0), "traced": [run(w, 1), run(w, 1)]}
        for w in WORKLOADS
    }


def _check_result(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_end_to_end_metrics(runs, workload):
    details, result = runs[workload]["plain"]
    _check_result(result, BENCH["end_to_end"])
    assert all(result["metrics"][m]["value"] > 0 for m in result["metrics"])
    assert details["warmup_op_s"], "warm-up op times are recorded"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_per_layer_metrics(runs, workload):
    for _, result in runs[workload]["traced"]:
        _check_result(result, BENCH["per_layer"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counters_repeat_for_one_seed(runs, workload):
    (_, a), (_, b) = runs[workload]["traced"]
    for name in DETERMINISTIC:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    assert a["metrics"]["spark.jobs"]["value"] > 0


def test_bare_directory_fails_without_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, there is no
    program to measure: the run must fail and print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", WORKLOADS[0], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
