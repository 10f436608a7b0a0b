"""Smoke check of the benchmark itself: every workload BENCHMARK.json
declares, at sf 0.001 with tiny sizes, untraced and traced. Asserts that
the last output line carries every metric BENCHMARK.json declares, with its
unit, and that no op failed.

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
RUN = os.path.join(HERE, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
DECLARED = [w["name"] for w in SPEC["workloads"]]
CASES = [(w, t) for w in DECLARED for t in (0, 1)]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["receipt"], json.loads(lines[-1])


@pytest.mark.parametrize("workload,trace", CASES)
def test_workload_emits_every_metric(workload, trace):
    receipt, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert result["failed"] == 0
    assert receipt["metrics"]["error_rate"][0] == 0
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory without the engine the benchmark exits non-zero
    and prints no result."""
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "graph_iterative", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
