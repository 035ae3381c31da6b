"""Smoke tests: every workload at tiny scale, untraced and traced.

    python3 -m pytest perfbench -q

Each case starts its own Spark session, so a case takes tens of seconds.
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
sys.path.insert(0, HERE)

from run import END_TO_END, per_layer_names  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "2", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["serve_zipf", "batch_knn", "ingest_churn"])
def test_workload_smoke(workload, trace):
    p = bench("--workload", workload, "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = END_TO_END if trace == "0" else per_layer_names()
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
    assert result["correct"] == (result["failed"] == 0)
    if workload != "ingest_churn":
        # ingest_churn's read-your-writes probe fails until upserts
        # invalidate the result cache; the other workloads never fail
        assert result["correct"], p.stdout


def test_fails_without_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = bench("--workload", "serve_zipf", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
