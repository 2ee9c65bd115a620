"""Tiny-size smoke test of the benchmark: every workload, untraced and
traced, must emit every metric BENCHMARK.json names, with its unit, and
the plan shape the workloads exist for.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--pages", "120"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def _check_names(metrics: dict, declared: list[dict]) -> None:
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    metrics = _run(workload, trace=0)
    _check_names(metrics, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert metrics[m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    metrics = _run(workload, trace=1)
    _check_names(metrics, SPEC["per_layer"])
    value = {k: m["value"] for k, m in metrics.items()}
    assert value["check.error_rate"] == 0
    assert value["kernel.pages_per_s"] > 0
    assert value["operators.extract_op.python_total_s"] > 0
    exchanges = value["plans.job.exchanges"]
    if workload == "crawl_large":
        assert exchanges == 0
        assert value["sources.catalog.chunks"] == 0
    elif workload == "crawl_small":
        assert exchanges >= 1
        # the salted exchange carries whole extracted rows, not a pruned
        # handful of columns
        assert value["plans.job.exchange_data_bytes"] / value["plans.job.exchange_records"] > 500
    else:
        assert exchanges >= 2
        assert value["sources.catalog.buckets_skipped"] > 0
        assert value["sources.catalog.rows_rewritten_frac"] == 1.0
