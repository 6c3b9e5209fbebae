"""Smoke test of the benchmark on the tiny input profile.

Runs every workload once untraced and once traced, and checks that the
result line carries every metric ``BENCHMARK.json`` names, with its
unit, and that no operation failed.  Takes a few minutes (each run
starts its own Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--profile", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_and_nothing_failed(workload, trace):
    result = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        assert metrics["ok_frac"]["value"] == 1.0
        assert all(metrics[m["name"]]["value"] > 0 for m in spec)
    else:
        assert all(metrics[f"{layer}.errors"]["value"] == 0
                   for layer in ("session", "ingest", "tokenize", "build",
                                 "queryparse", "search", "upsert"))
