"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs at a tiny scale (1,500 orders and 6,000 lineitem
rows, the sizes of the sf0.001 test data) for the shortest run, from a
working directory outside the repository.
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
SCALE = "0.01"

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(cwd, workload: str, trace: int, script=None):
    script = script or os.path.join(HERE, "run.py")
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_declared_metric(tmp_path, workload, trace):
    proc = _bench(tmp_path, workload, trace)
    assert proc.returncode == 0, proc.stderr
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout  # nothing but the result
    result = json.loads(lines[0])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0
                   for m in declared)
    # the run directory is gone; only the log (and spans) remain
    home = os.path.join(ROOT, ".perfbench")
    assert not [d for d in os.listdir(home)
                if d.startswith("run-") and not _pid_alive(d)]


def _pid_alive(run_dir_name: str) -> bool:
    try:
        os.kill(int(run_dir_name.split("-")[1]), 0)
        return True
    except ProcessLookupError:
        return False


def test_corrupted_oracle_answer_counts_as_failed(tmp_path, monkeypatch):
    """A wrong expected answer must fail its operation, and the failed
    operation must stay in the sample."""
    sys.path.insert(0, ROOT)
    from perfbench import data, run

    real_point = data.Oracle.point
    monkeypatch.setattr(data.Oracle, "point",
                        lambda self, key: real_point(self, key) + [("x",)])
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setenv("PYTHONPATH", ROOT)
    args = run.parse_args(["--workload", "lookup", "--seed", "5",
                           "--seconds", "1", "--scale", SCALE])
    result = run.run(args, str(tmp_path), str(tmp_path))
    point_ops = result["attempted"] // 4 * 3  # 2 present + 1 absent key
    assert result["correct"] is False
    assert result["failed"] == point_ops > 0
    assert result["metrics"]["correct_frac"]["value"] == pytest.approx(
        1 - point_ops / result["attempted"])


def test_refuses_to_run_without_the_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files, the run
    fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(tmp_path, "lookup", 0,
                  script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout == ""
