#!/usr/bin/env python3
"""Compare a parent result set with a change result set.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records (``*.run.json``, as perfbench/run.py writes
them under perfbench/out/). Parent and change runs must alternate in time
(parent, change, change, parent, ...: in start order, each two consecutive
runs are one of each side), so that a drift in machine speed hits both
sides alike; the start time is the UTC time stamp that opens each run id.
For every workload and end-to-end metric the command prints each side's
median and quartiles, the share of pairs the change won, and a verdict,
tested in this order:

- unresolved: the runs did not alternate, or fewer than ten pairs ran;
- improved: the change wins at least nine tenths of all pairs (ties count
  for neither side), the medians differ, in the better direction, by more
  than the distance between the parent's quartiles, and the change fails
  no larger share of its operations than the parent;
- unresolved: the parent's own spread (quartile distance over median) is
  wider than the metric's bound in BENCHMARK.json, unless every change run
  is better than every parent run;
- worse: the change's median is worse than the parent's by more than the
  bound;
- within bound: otherwise.

Runs pair up in start order: the i-th parent run with the i-th change run.
Per-layer metrics of traced runs are listed with medians, without verdict.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.report import load_runs  # noqa: E402
from perfbench.stats import quartiles  # noqa: E402


def started(run: dict) -> str:
    return run["id"][:16]  # the UTC time stamp, YYYYMMDDTHHMMSSZ


def pairs(parent: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    """The i-th parent run with the i-th change run, in start order."""
    return list(zip(sorted(parent, key=started), sorted(change, key=started)))


def alternated(parent: list[dict], change: list[dict]) -> bool:
    """In start order, each two consecutive runs are one parent, one change."""
    if len(parent) != len(change):
        return False
    order = sorted([(started(r), 0) for r in parent] + [(started(r), 1) for r in change])
    return all(order[i][1] != order[i + 1][1] for i in range(0, len(order), 2))


def failed_frac(runs: list[dict]) -> float:
    return sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)


def verdict(p: list[float], c: list[float], won: float, better: str, bound: float,
            more_failures: bool) -> str:
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    gain = sign * (cm - pm)
    if won >= 0.9 and gain > p3 - p1 and not more_failures:
        return "improved"
    all_better = all(sign * (x - y) > 0 for x in c for y in p)
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved"
    if -gain > bound * abs(pm):
        return "worse"
    return "within bound"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load_runs(argv[0]), load_runs(argv[1])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    for wl in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            pr = [r for r in parent if r["workload"] == wl and r["trace"] == trace]
            cr = [r for r in change if r["workload"] == wl and r["trace"] == trace]
            if not pr or not cr:
                continue
            key = "layers" if trace else "end_to_end"
            matched = pairs(pr, cr)
            print(f"## {wl} trace={trace}: {len(pr)} parent runs, {len(cr)} change runs, "
                  f"{len(matched)} pairs, failed_frac {failed_frac(pr):.3g} -> "
                  f"{failed_frac(cr):.3g}")
            resolvable = alternated(pr, cr) and len(matched) >= 10
            if not resolvable:
                print("  unresolved: needs at least ten parent/change pairs "
                      "that alternate in time")
            print(f"  {'metric':32s} {'parent median [q1, q3]':>34s} "
                  f"{'change median [q1, q3]':>34s}  won  verdict")
            for m in declared:
                name = m["name"]
                p = [r[key][name] for r in pr if name in r[key]]
                c = [r[key][name] for r in cr if name in r[key]]
                if not p or not c:
                    continue
                sign = 1 if m["better"] == "higher" else -1
                wins = sum(1 for a, b in matched
                           if sign * (b[key].get(name, 0) - a[key].get(name, 0)) > 0)
                won = wins / len(matched) if matched else 0.0
                if "bound" not in m:
                    v = "-"
                elif not resolvable:
                    v = "unresolved"
                else:
                    v = verdict(p, c, won, m["better"], m["bound"],
                                failed_frac(cr) > failed_frac(pr))
                fp, fc = quartiles(p), quartiles(c)
                print(f"  {name:32s} {fp[1]:12.5g} [{fp[0]:.5g}, {fp[2]:.5g}]".ljust(70)
                      + f" {fc[1]:12.5g} [{fc[0]:.5g}, {fc[2]:.5g}]".ljust(36)
                      + f" {won:4.0%}  {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
