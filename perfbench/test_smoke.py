"""Smoke test of the benchmark itself: every workload on tiny inputs with
every correctness check, untraced and traced, then the refusal to run
without the engine source.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_all_workloads_correct(trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--trace", trace],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    spec = _spec()
    per_workload, result = lines[:-1], lines[-1]
    assert [r["workload"] for r in per_workload] == [w["name"] for w in spec["workloads"]]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    declared = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    for r in per_workload:
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want
        if trace == "0":
            assert all(v["value"] > 0 for v in r["metrics"].values())


def test_refuses_without_engine_source(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "chain_write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
