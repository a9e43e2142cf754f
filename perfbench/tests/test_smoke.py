"""A tiny (scale 0.001) run of every workload, untraced and traced: the
result line carries exactly the metrics BENCHMARK.json names, with their
units, and every output is correct. Takes a few minutes (one Spark
session per run)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "0.001")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout[-2000:]
    assert result["attempted"] >= 1
    want = _bench()["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in got.values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "batch_jobs", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
