"""End to end at a tiny size: each workload runs, its oracle passes and
it prints every metric BENCHMARK.json names."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(tmp_path, workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "11", "--seconds", "1",
         "--trace", str(trace), "--feeds", "200"],
        cwd=tmp_path,  # any working directory
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("epoch_drain", 0), ("epoch_steady", 0), ("epoch_steady", 1)],
)
def test_workload_smoke(tmp_path, workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = run(tmp_path, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in bench[kind]}
    for m in bench[kind]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
