"""Checks on the benchmark itself (not part of the repository's test suite).

    python3 -m pytest perfbench/test_benchmark.py -q

- the metric names and units a run prints are exactly the ones
  ``BENCHMARK.json`` declares, untraced and traced;
- two sets of runs of the same code agree on every end-to-end metric
  within that metric's bound: the medians of seeds 1-3 and of seeds
  4-6, with the ``run_seconds`` of ``BENCHMARK.json``. Each workload
  costs six full runs, three to six minutes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_metric_names_match_benchmark_json(trace, section):
    metrics = run_bench(WORKLOADS[-1], seed=1, seconds=1, trace=trace)["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_sets_agree_within_bounds(workload):
    def set_medians(seeds):
        runs = [
            run_bench(workload, seed, seconds=SPEC["run_seconds"], trace=0)["metrics"]
            for seed in seeds
        ]
        return {
            m["name"]: statistics.median(r[m["name"]]["value"] for r in runs)
            for m in SPEC["end_to_end"]
        }

    first, second = set_medians((1, 2, 3)), set_medians((4, 5, 6))
    off = {
        m["name"]: (first[m["name"]], second[m["name"]], m["bound"])
        for m in SPEC["end_to_end"]
        if abs(second[m["name"]] - first[m["name"]]) > m["bound"] * first[m["name"]]
    }
    assert not off, f"{workload}: medians outside their bound (first, second, bound): {off}"
