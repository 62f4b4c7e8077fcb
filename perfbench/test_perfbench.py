"""Tests of the benchmark harness itself (the engine's suite is tests/):

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke size runs every workload end to end in well under a minute
each, checks of the outputs included.
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
sys.path[:0] = [ROOT, HERE]

from inputs import generate, tree_digest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(cwd: str, workload: str, trace: int, work_dir: str) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
        "--size", "smoke", "--work-dir", work_dir,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_determines_inputs(workload, tmp_path):
    a, _ = generate(workload, "smoke", 5, 4, str(tmp_path / "a"))
    b, _ = generate(workload, "smoke", 5, 4, str(tmp_path / "b"))
    c, _ = generate(workload, "smoke", 6, 4, str(tmp_path / "c"))
    assert tree_digest(a) == tree_digest(b)
    assert tree_digest(a) != tree_digest(c)


@pytest.mark.parametrize(
    "workload,trace",
    [(w, 0) for w in WORKLOADS] + [("point_ops", 1)],
)
def test_smoke_run_is_correct_and_complete(workload, trace, tmp_path):
    out = run_bench(ROOT, workload, trace, str(tmp_path))
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    catalogue = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in catalogue}
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        counts = [m[f"ckpt.recomputed_{p}"] for p in ("fresh", "rerun", "incremental")]
        assert counts == [8, 0, 1]
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("_work", "__pycache__"))
    out = run_bench(str(tmp_path), WORKLOADS[0], 0, str(tmp_path / "work"))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
