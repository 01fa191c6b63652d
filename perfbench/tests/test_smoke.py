"""Smoke test of the benchmark at toy size (a few minutes: one JVM per
workload and trace mode).

    python3 -m pytest perfbench/tests -q

Runs every workload of BENCHMARK.json once untraced and once traced and
checks that every declared metric is printed with its declared unit, that
the oracle gate ran and passed, that no process outlives a run, and that
the runner refuses to run in a directory holding only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUNNER = os.path.join(ROOT, "perfbench", "run.py")


def test_smoke_every_workload_prints_every_metric():
    proc = subprocess.run(
        [sys.executable, RUNNER, "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        n_workloads = len(json.load(f)["workloads"])
    assert proc.stdout.count(": ok") == 2 * n_workloads, proc.stdout


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wide_crawl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
