"""The benchmark harness: its command line lists every section, every
measurement job has a section, and one section runs end to end with
its correctness assertion live."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

# every measurement job the harness owns → the section that runs it
JOBS = {
    "weight-fit inputs vs fit": "learn",
    "LBP resolution inputs vs query": "resolve",
    "linkage stage split, instance and surface mode": "linkage",
    "CC edge build, hash-to-min vs large/small-star": "cc",
    "embedding LSH signatures vs query": "emblsh",
    "minhash LSH shingles/signatures vs query": "lshpairs",
    "λ potential statistics vs query": "lambda",
    "hot-key skew: salted vs unsalted sweep": "skew",
    "streamed chain vs batch": "stream",
    "parameter-table scale stress": "param_scale",
}


def test_help_lists_every_section_and_at_most_six_flags():
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "--help"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    for name in bench.SECTIONS:
        assert name in out, name
    flags = set(re.findall(r"^\s+(--[a-z-]+)", out, re.M))
    assert flags == {
        "--scaling", "--n", "--n-conversations", "--section", "--ab", "--trials"
    }


def test_every_job_maps_to_a_section():
    assert set(JOBS.values()) == set(bench.SECTIONS)


def test_ab_side_summary():
    trials = [
        {"wall_s": w, "steps": {"a": {"wall_s": w / 2}}} for w in (3.0, 1.0, 2.0, 4.0)
    ]
    side = bench._side(trials)
    assert side["trials_s"] == [3.0, 1.0, 2.0, 4.0]
    assert (side["min_s"], side["median_s"]) == (1.0, 2.5)
    assert side["iqr_s"] == 2.5  # quartiles 1.25 and 3.75
    assert side["steps_median_s"] == {"a": 1.25}


def test_param_scale_section_end_to_end(spark, monkeypatch):
    """The cheapest section with an assertion: the fit on real keys must
    stay bit-identical when the tables grow (smaller sweep than the
    recorded one, same code path)."""
    monkeypatch.setattr(bench, "PARAM_EXTRAS", (0, 2_000))
    monkeypatch.setattr(bench, "PARAM_ROUNDS", 1)
    out = bench.run_section(Tracer(spark), "param_scale", bench.SF_DIR)
    assert [r["checksum_ok"] for r in out["rows"]] == [True, True]
    assert out["rows"][1]["rho_keys"] == out["rows"][0]["rho_keys"] + 2_000
    step = out["steps"]["extra=2000"]
    assert step["wall_s"] > 0 and step["tasks"] > 0
    assert set(step) == {
        "wall_s", "executor_s", "tasks", "shuffle_write_mb", "spill_mb"
    }

