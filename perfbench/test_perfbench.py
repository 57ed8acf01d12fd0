"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench/test_perfbench.py -q

Tiny-size runs of each workload check the printed metric names and
units in both modes, and that the checker flags a deliberately
corrupted result. Each run starts its own JVM, so the file takes a few
minutes.
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
sys.path.insert(0, REPO)

from perfbench import check, harness  # noqa: E402
from perfbench.metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_untraced_run_prints_every_end_to_end_metric(workload):
    out = _result(_run(REPO, "--workload", workload, "--seed", "5", "--seconds", "2", "--trace", "0", "--size", "tiny"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_traced_run_flags_a_corrupted_result(workload):
    out = _result(
        _run(REPO, "--workload", workload, "--seed", "6", "--seconds", "2", "--trace", "1", "--size", "tiny", "--corrupt")
    )
    assert {k: v["unit"] for k, v in out["metrics"].items()} == LAYER_UNITS
    assert out["correct"] is False and out["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), "--workload", "lending_dml", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert harness.tail(xs) == (90.0, 90, 100)
    assert harness.tail(xs[:5])[0] == 1.0


def test_weighted_quantile_follows_the_weights():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert harness.weighted_quantile(xs, [1, 1, 1, 1], 0.5) == 2.0
    assert harness.weighted_quantile(xs, [0, 0, 1, 1], 0.5) == 3.0
    assert harness.weighted_quantile(xs, [1, 1, 1, 1], 1.0) == 4.0


def test_same_rows_flags_a_changed_value_and_a_missing_row():
    rows = [("a", 1, 2.5), ("b", 2, None)]
    assert check.same_rows(list(reversed(rows)), rows) is None
    assert check.same_rows([("a", 1, 2.5), ("b", 3, None)], rows) is not None
    assert check.same_rows(rows[:1], rows) is not None


def test_span_self_time_excludes_children():
    tr = harness.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    total, self_s, calls = tr.self_times()["outer"]
    assert calls == 1 and 0 <= self_s <= total
    assert harness.Tracer(enabled=False).self_times() == {}
