"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced, prints every metric name with its unit and checks every answer.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts Spark in a subprocess; the whole file takes a few minutes
and is marked ``slow``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# subprocess end-to-end runs: kept out of the `pytest -m "not slow"` loop
pytestmark = pytest.mark.slow


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.01"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= len(WORKLOADS[workload].verbs)
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert result["metrics"]["pass_ratio"]["value"] == 1.0
        for name, unit in END_TO_END.items():
            assert f"{name}" in stdout and unit in stdout
        assert "nproc=" in stdout and "loadavg1=" in stdout
    else:
        assert "tracing overhead" in stdout


def test_unknown_workload_fails():
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "nope",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
