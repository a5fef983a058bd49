#!/usr/bin/env python3
"""Print every metric of stored benchmark runs, by name, with its unit.

    python3 perfbench/report.py [DIR]      # default: perfbench/out

For each run record: the end-to-end metrics, the per-layer metrics and the
workload's extra metrics. Then, per workload, the median and quartiles of
each metric over the runs, and the tracing overhead (median traced wall_s
over median untraced wall_s, minus one).
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import median, quartiles  # noqa: E402


def load_runs(root: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.run.json"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            runs.append(json.load(fh))
    return runs


def units() -> dict[str, str]:
    """Units of the metrics BENCHMARK.json declares, and of the record-only
    metrics manifest.json lists; the two sets do not overlap."""
    with open(os.path.join(HERE, "manifest.json"), encoding="utf-8") as fh:
        out = {k: v["unit"] for k, v in json.load(fh)["record_only_metrics"].items()}
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    for m in bench["end_to_end"] + bench["per_layer"]:
        if m["name"] in out:
            raise ValueError(f"{m['name']} is declared in BENCHMARK.json and manifest.json")
        out[m["name"]] = m["unit"]
    return out


def metrics_of(run: dict) -> dict[str, float]:
    """The run's own numbers: end-to-end (untraced) or layers (traced), plus extras."""
    out = dict(run["layers"] if run["trace"] else run["end_to_end"])
    out.update(run.get("extras", {}))
    out["failed_frac"] = run["failed_frac"]
    return out


def main(argv: list[str]) -> int:
    root = argv[0] if argv else os.path.join(HERE, "out")
    runs = load_runs(root)
    if not runs:
        print(f"no run records under {root}", file=sys.stderr)
        return 1
    unit = units()
    for run in runs:
        print(f"# {run['id']}  passes={run['passes']} attempted={run['attempted']} "
              f"failed={run['failed']}")
        for k, v in sorted(metrics_of(run).items()):
            print(f"  {k:34s} {v:14.6g} {unit.get(k, '')}")
    print()
    for wl in sorted({r["workload"] for r in runs}):
        for trace in (0, 1):
            sel = [metrics_of(r) for r in runs if r["workload"] == wl and r["trace"] == trace]
            if not sel:
                continue
            print(f"## {wl} trace={trace} runs={len(sel)}   median [q1, q3]")
            for k in sorted(set().union(*sel)):
                q1, q2, q3 = quartiles([m[k] for m in sel if k in m])
                print(f"  {k:34s} {q2:14.6g} [{q1:.6g}, {q3:.6g}] {unit.get(k, '')}")
        plain = [r["end_to_end"]["wall_s"] for r in runs if r["workload"] == wl and not r["trace"]]
        traced = [r["layers"]["trace.wall_s"] for r in runs if r["workload"] == wl and r["trace"]]
        if plain and traced:
            print(f"  tracing overhead on wall_s: {median(traced) / median(plain) - 1:+.1%} "
                  f"({len(traced)} traced vs {len(plain)} untraced runs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
