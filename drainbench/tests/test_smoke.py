"""Smoke test of the drain-mode benchmark at toy size.

    python3 -m pytest drainbench/tests -q

Every metric ``BENCHMARK.json`` names must print with its unit, and the
run's output checks must pass.  Takes a few minutes: each run starts a
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from gen import generate  # noqa: E402
from workloads import WORKLOADS, workload_params  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_backlog(workload, tmp_path):
    gen = workload_params(workload, seconds=20, smoke=True)["gen"]
    a = generate(workload, str(tmp_path / "a"), 7, **gen)
    b = generate(workload, str(tmp_path / "b"), 7, **gen)
    c = generate(workload, str(tmp_path / "c"), 8, **gen)
    assert a["sha256"] == b["sha256"] != c["sha256"]
    for fa, fb in zip(a["files"], b["files"]):
        with open(fa, "rb") as x, open(fb, "rb") as y:
            assert x.read() == y.read()
    mtimes = [os.stat(f).st_mtime for f in a["files"]]
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_prints_every_metric(workload, trace):
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, "drainbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", str(spec["run_seconds"]), "--trace", str(trace), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_refuses_to_run_without_the_program(tmp_path):
    """Outside a checkout (no ``cdp_spark``) the run fails without a
    result line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
