"""BENCHMARK.json and run.py agree, and the entry point fails cleanly
without the library."""

import json
import os
import shutil
import subprocess
import sys

import run

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E_METRICS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.LAYER_METRICS
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_tail_percentile():
    assert run.tail([2.5]) == (2.5, 90.0)
    walls = [float(i) for i in range(11, 0, -1)]        # 11 passes, 1..11 s
    assert run.tail(walls) == (10.0, 90.0)              # rank 1 + 0.9 x 10
    value, _ = run.tail([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    assert value == 5.5                                  # between the top two


def test_fails_without_the_library(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ship_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
