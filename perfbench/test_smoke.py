"""Smoke test of the benchmark itself on tiny inputs (a few minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json untraced and traced with --smoke
and checks the result line: correct, nothing failed, and exactly the
metric names of BENCHMARK.json, each with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "4",
        "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(
        [sys.executable if c == "python3" else c for c in cmd],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace:
        assert result["metrics"]["failed_ops_frac"]["value"] == 0
        assert result["metrics"]["trace.uncovered_frac"]["value"] <= 0.10
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_engine(tmp_path) -> None:
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
