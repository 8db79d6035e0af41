"""Self-check of the benchmark on tiny inputs.

    python3 -m pytest perfbench -q

Each case runs one workload, traced and untraced, in a fresh process at a
size near the engine's sf0.001 smoke scale, and requires every output
check to pass and every declared metric to be printed.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {
    "medallion": {"rows": 1000, "users": 10},
    "corpus": {"docs": 120, "payload_docs": 12},
}


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert set(TINY) == set(run.SIZES)
    # recorded digests only apply at the sizes they were recorded at
    with open(os.path.join(run.HERE, "digests.json"), encoding="utf-8") as fh:
        book = json.load(fh)
    assert {w: book[w]["sizes"] for w in book} == run.SIZES


def _tiny_run(workload: str, trace: bool) -> None:
    sys.exit(run.run(workload, 7, 0.0, trace, TINY[workload]))


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_is_correct(workload, trace):
    proc = multiprocessing.get_context("spawn").Process(
        target=_tiny_run, args=(workload, trace)
    )
    proc.start()
    proc.join(timeout=300)
    assert not proc.is_alive()
    assert proc.exitcode == 0
    path = os.path.join(run.WORK, "reports", f"{workload}-seed7-trace{int(trace)}.json")
    with open(path, encoding="utf-8") as fh:
        report = json.load(fh)
    assert [f for p in report["passes"] for f in p["failures"]] == []
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert set(report["metrics"]) == set(expected)
    if trace:
        # the traced medallion passes compose the stages by hand; their
        # digests were checked against run_pipeline's untraced passes
        assert any(p["traced"] for p in report["passes"][1:])
        assert any(not p["traced"] for p in report["passes"][1:])
        assert report["metrics"][f"{workload}.warm_jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
