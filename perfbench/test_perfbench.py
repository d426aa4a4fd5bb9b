"""Tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``perfbench/run.py`` end to end (Spark, and PostgreSQL
for ``etl_pg``), so the module takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

CHECKOUT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(CHECKOUT))

from perfbench.workloads import WORKLOADS  # noqa: E402

BENCHMARK = json.loads((CHECKOUT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_metric_names_and_units_match_benchmark_json(workload, trace):
    """Declared or not, every workload reports the declared metrics."""
    result = _result(_run(workload, trace))
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert not (CHECKOUT / ".perfbench_runs").exists(), "run root left behind"


def test_wrong_expected_hash_counts_as_failed_op(tmp_path):
    expected = json.loads((CHECKOUT / "perfbench" / "expected.json").read_text())
    expected["0.001"]["events_stream_trending"] = "0" * 64
    wrong = tmp_path / "expected.json"
    wrong.write_text(json.dumps(expected))
    result = _result(_run("stream_replay", 0, "--expected", str(wrong)))
    assert not result["correct"]
    assert result["failed"] >= 2  # the warm-up pass and at least one measured pass
    assert not (CHECKOUT / ".perfbench_runs").exists(), "run root left behind"


def test_unknown_workload_is_rejected_without_a_result():
    proc = _run("no_such_workload", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    (tmp_path / "perfbench").mkdir()
    for f in (CHECKOUT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCHMARK))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_pg", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
