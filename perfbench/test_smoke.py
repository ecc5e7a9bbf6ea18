"""Smoke test of the benchmark at tiny input size.

Every workload (also ``link_surface``, which BENCHMARK.json leaves out)
runs untraced and traced; each must pass its output checks and emit
exactly the metrics BENCHMARK.json declares, each with its declared
unit, and a traced call must run as many Spark jobs as an untraced one.
Without the program next to it the benchmark must refuse to run. Takes
several minutes (one Spark session per run):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_emits_every_declared_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "42", "--seconds", "1",
             "--trace", str(trace), "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= (2 if trace else 1)
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if trace:
        assert result["metrics"]["trace.extra_jobs"]["value"] == 0
    else:
        for name, m in result["metrics"].items():
            assert m["value"] > 0, name


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
