"""Smoke test for the benchmark: every workload at a tiny size, traced
and untraced. Each run must exit 0, pass its correctness checks and
print every metric ``BENCHMARK.json`` names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    p = _run(
        REPO,
        "--workload", workload,
        "--seed", "7",
        "--seconds", "8",
        "--trace", str(trace),
        "--scale", "0.25",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, p.stdout.strip().splitlines()[-2]
    assert out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ is not a
    checkout: the run must fail fast and print no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "query_mix", "--seed", "1",
             "--seconds", "3", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
