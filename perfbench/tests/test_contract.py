"""BENCHMARK.json agrees with what the benchmark prints, and the benchmark
refuses to run without the engine next to it."""

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench.layermetrics import PER_LAYER
from perfbench.run import E2E_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_the_code():
    bench = load()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    for m in bench["per_layer"]:
        assert (m["unit"], m["better"]) == PER_LAYER[m["name"]][:2]


def test_shape_limits():
    bench = load()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 2 <= len(bench["workloads"]) <= 8
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in bench["end_to_end"])
    assert 1 <= bench["run_seconds"] <= 60


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "epoch_drain",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
