#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py

1. A run with a wrong expectation planted for its first operation must
   report that operation failed (and only it): the checks can fail, and
   every other output still verifies.
2. In a directory holding only BENCHMARK.json and perfbench/, without the
   engine, a run must exit non-zero without printing a result.
3. The compare rule, on made-up runs: parent and change sets of the same
   numbers run one after the other give no verdict; run alternating, they
   are within bound; a change that wins every pair by far is improved,
   unless it fails more operations.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "queries_light",
           "--seed", "0", "--seconds", "1", "--trace", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def check_compare() -> None:
    from perfbench.compare import alternated, pairs, verdict

    def runs(minutes, values):
        return [{"id": f"20260101T00{m:02d}00Z-w", "wall_s": v} for m, v in zip(minutes, values)]

    vals = [10.0, 10.4, 9.8, 10.1, 10.3, 9.9, 10.2, 10.0, 9.7, 10.1]
    assert not alternated(runs(range(0, 10), vals), runs(range(10, 20), vals))
    parent, change = runs(range(0, 20, 2), vals), runs(range(1, 20, 2), vals)
    assert alternated(parent, change)
    won = sum(c["wall_s"] < p["wall_s"] for p, c in pairs(parent, change)) / len(vals)
    assert verdict(vals, vals, won, "lower", 0.24, False) == "within bound"
    fast = [v * 0.7 for v in vals]
    assert verdict(vals, fast, 1.0, "lower", 0.24, False) == "improved"
    assert verdict(vals, fast, 1.0, "lower", 0.24, True) == "within bound"
    assert verdict(vals, [v * 1.4 for v in vals], 0.0, "lower", 0.24, False) == "worse"
    wide = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(wide, [v * 1.3 for v in wide], 0.0, "lower", 0.24, False) == "unresolved"
    print("compare rule: sequential sets unresolved, alternating sets within bound")


def main() -> int:
    check_compare()
    planted = run(ROOT, "--plant-failure")
    assert planted.returncode == 0, planted.stderr[-2000:]
    result = json.loads(planted.stdout.strip().splitlines()[-1])
    assert result["failed"] == 1 and not result["correct"], result
    assert result["metrics"]["verified_frac"]["value"] < 1.0, result
    print(f"planted expectation: {result['failed']} of {result['attempted']} failed")

    bare = os.path.join(HERE, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        alone = run(bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert alone.returncode != 0 and not alone.stdout.strip(), (alone.returncode, alone.stdout)
    print(f"without the engine: exit {alone.returncode}, no result printed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
