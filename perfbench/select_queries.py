#!/usr/bin/env python3
"""Derive the queries_light query list from the repository's own records.

    python3 perfbench/select_queries.py

Candidates: the bench.py headline queries tagged relational, tpch, olap,
window, agg, join or events, not tagged iterative, dedup, lsh, similarity
or pandas-udf, whose time in BENCH_DETAIL.json (round 12, sf0.1) is under
1 s. The candidates, in order of that time (ties by name), are cut into
N equal strata and the middle query of each stratum is taken, so the list
spans the cost range of the light headline traffic. Prints the candidates
and the chosen list as JSON; perfbench/manifest.json holds that list.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N = 8
WANT = {"relational", "tpch", "olap", "window", "agg", "join", "events"}
SKIP = {"iterative", "dedup", "lsh", "similarity", "pandas-udf"}
UNDER_S = 1.0


def candidates() -> list[tuple[float, str]]:
    sys.path.insert(0, ROOT)
    from platform_etl_backend_spark.catalog import QUERIES

    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), encoding="utf-8") as fh:
        times = json.load(fh)["queries"]
    out = set()
    for q in bench.HEADLINE:
        tags = set(QUERIES[q].tags) if q in QUERIES else set()
        if tags & WANT and not tags & SKIP and times.get(q, UNDER_S) < UNDER_S:
            out.add((times[q], q))
    return sorted(out)


def main() -> int:
    cands = candidates()
    chosen = [cands[int((i + 0.5) * len(cands) / N)][1] for i in range(N)]
    print(json.dumps({"candidates": [q for _, q in cands], "chosen": chosen}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
