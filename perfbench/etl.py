"""etl_steps workload: seeded inputs in the reference formats, the
`run_steps` config that reads them, and independent output checks.

Every input is derived from one `random.Random(seed)`: the same seed writes
byte-identical files. The checks below recompute a property of each step's
output from the generated Python values alone, without Spark.
"""

from __future__ import annotations

import json
import os
import random

SPECIES = ("Homo sapiens", "Mus musculus", "Danio rerio")

# Input sizes: every step reads and writes non-trivial data, and a pass of
# the four steps takes about 20 s at local[4].
N_PATHWAYS = 1500
REACTOME_LEVELS = 5
N_GO = 3000
N_DISEASES = 600
N_TARGETS = 2000
N_ASSOC = 20000


def _csv(path: str, rows, header=None, sep="\t") -> int:
    with open(path, "w", encoding="utf-8") as fh:
        if header:
            fh.write(sep.join(header) + "\n")
        n = 0
        for r in rows:
            fh.write(sep.join(str(x) for x in r) + "\n")
            n += 1
    return n


def _jsonl(path: str, docs) -> int:
    with open(path, "w", encoding="utf-8") as fh:
        n = 0
        for d in docs:
            fh.write(json.dumps(d, sort_keys=True) + "\n")
            n += 1
    return n


def generate(seed: int, root: str) -> tuple[dict, dict, int]:
    """Write every input under ``root``; return (run_steps config, expected
    properties per step, total input rows)."""
    rng = random.Random(seed)
    inp = os.path.join(root, "in")
    os.makedirs(inp, exist_ok=True)
    p = lambda name: os.path.join(inp, name)  # noqa: E731
    expect: dict = {}
    rows = 0

    # reactome: headerless TSV pathways (with '#' comments) + relations DAG
    # a layered DAG: Reactome hierarchies are a few levels deep
    pathways = [(f"R-{i:05d}", f"pathway {i}", rng.choice(SPECIES)) for i in range(N_PATHWAYS)]
    level = N_PATHWAYS // REACTOME_LEVELS
    edges = sorted({(f"R-{rng.randrange(i // level * level - level, i // level * level):05d}",
                     f"R-{i:05d}")
                    for i in range(level, N_PATHWAYS) for _ in range(rng.randint(1, 2))})
    with open(p("pathways.tsv"), "w", encoding="utf-8") as fh:
        fh.write("# Reactome pathways\n")
        for r in pathways:
            fh.write("\t".join(r) + "\n")
    rows += len(pathways) + _csv(p("relations.tsv"), edges)
    human = {pid for pid, _, sp in pathways if sp == "Homo sapiens"}
    parents: dict[str, set] = {}
    for s, d in edges:
        if s in human and d in human:
            parents.setdefault(d, set()).add(s)

    memo: dict[str, set] = {}

    def ancestors(node):
        if node not in memo:
            acc = set()
            for par in parents.get(node, ()):
                acc |= {par} | ancestors(par)
            memo[node] = acc
        return memo[node]

    expect["reactome"] = {pid: sorted(ancestors(pid)) for pid in human}

    # go: OBO flat text with obsolete terms
    with open(p("go.obo"), "w", encoding="utf-8") as fh:
        fh.write("format-version: 1.2\n\n")
        live = set()
        for i in range(N_GO):
            gid = f"GO:{i:07d}"
            fh.write(f"[Term]\nid: {gid}\nname: term {i}\n")
            if i:
                fh.write(f"is_a: GO:{rng.randrange(i):07d} ! parent\n")
            if rng.random() < 0.1:
                fh.write("is_obsolete: true\n")
            else:
                live.add((gid, f"term {i}"))
            fh.write("\n")
    rows += N_GO
    expect["go"] = sorted(live)

    # otar: diseases JSONL (id + ancestors), project metadata + lookup TSVs
    diseases = []
    for i in range(N_DISEASES):
        anc = sorted({f"EFO_{rng.randrange(i):05d}" for _ in range(rng.randint(0, 3))}) if i else []
        diseases.append({"id": f"EFO_{i:05d}", "ancestors": anc, "name": f"disease {i}"})
    rows += _jsonl(p("diseases.jsonl"), diseases)
    projects = [(f"OTAR{i:03d}", f"Project {i}", rng.choice(["Active", "Closed"]),
                 rng.choice(["yes", "no"])) for i in range(200)]
    rows += _csv(p("otar_meta.tsv"), projects,
                 ["otar_code", "project_name", "project_status", "integrates_in_PPP"])
    lookup = sorted({(rng.choice(projects)[0], f"EFO_{rng.randrange(N_DISEASES):05d}")
                     for _ in range(500)})
    rows += _csv(p("otar_efo.tsv"), lookup, ["otar_code", "efo_disease_id"])
    dis_anc = {d["id"]: d["ancestors"] for d in diseases}
    otar: dict[str, set] = {}
    for code, efo in lookup:
        for a in [efo] + dis_anc[efo]:
            otar.setdefault(a, set()).add(code)
    expect["otar"] = {k: sorted(v) for k, v in otar.items()}

    # search_ebi: parquet dimension + fact tables
    import pyarrow as pa
    import pyarrow.parquet as pq

    t_ids = [f"ENSG{i:011d}" for i in range(N_TARGETS)]
    pq.write_table(pa.table({"id": t_ids, "approvedSymbol": [f"SYM{i}" for i in range(N_TARGETS)]}),
                   p("targets.parquet"))
    d_ids = [f"EFO_{i:05d}" for i in range(N_DISEASES)]
    pq.write_table(pa.table({"id": d_ids, "name": [f"disease {i}" for i in range(N_DISEASES)]}),
                   p("disease_names.parquet"))
    known_t, known_d = set(t_ids), set(d_ids)

    def facts(n, score_col):
        tid = [t_ids[rng.randrange(N_TARGETS)] if rng.random() < 0.95 else f"ENSGX{k}"
               for k in range(n)]
        did = [d_ids[rng.randrange(N_DISEASES)] if rng.random() < 0.95 else f"EFO_X{k}"
               for k in range(n)]
        sc = [round(rng.random(), 6) for _ in range(n)]
        return pa.table({"targetId": tid, "diseaseId": did, score_col: sc}), sum(
            1 for a, b in zip(tid, did) if a in known_t and b in known_d)

    assoc, n_assoc = facts(N_ASSOC, "associationScore")
    evid, n_evid = facts(N_ASSOC, "score")
    pq.write_table(assoc, p("associations.parquet"))
    pq.write_table(evid, p("evidence.parquet"))
    rows += 2 * N_TARGETS + 2 * N_ASSOC
    expect["search_ebi"] = {"ebisearchAssociations": n_assoc, "ebisearchEvidence": n_evid}

    return _config(inp), expect, rows


def _config(inp: str) -> dict:
    tsv = {"sep": "\t", "header": "false"}
    tsv_h = {"sep": "\t", "header": "true", "inferSchema": "true"}

    def src(fmt, name, **opts):
        return {"format": fmt, "path": os.path.join(inp, name), "options": opts}

    return {"steps": {
        "reactome": {"input": {
            "pathways": src("csv", "pathways.tsv", comment="#", **tsv),
            "relations": src("csv", "relations.tsv", **tsv)}},
        "go": {"input": {"go_terms": src("obo", "go.obo")}},
        "otar": {"input": {
            "diseases": src("json", "diseases.jsonl"),
            "otar_meta": src("csv", "otar_meta.tsv", **tsv_h),
            "otar_project_to_efo": src("csv", "otar_efo.tsv", **tsv_h)}},
        "search_ebi": {"input": {
            "target": src("parquet", "targets.parquet"),
            "disease": src("parquet", "disease_names.parquet"),
            "association": src("parquet", "associations.parquet"),
            "evidence": src("parquet", "evidence.parquet")}},
    }}


OUTPUTS = {
    "reactome": ("reactome",),
    "go": ("go",),
    "otar": ("otar_projects",),
    "search_ebi": ("ebisearchAssociations", "ebisearchEvidence"),
}


def with_outputs(config: dict, out_dir: str) -> dict:
    """A copy of ``config`` whose steps write parquet under ``out_dir``."""
    conf = json.loads(json.dumps(config))
    for step, outs in OUTPUTS.items():
        conf["steps"][step]["output"] = {
            o: {"format": "parquet", "path": os.path.join(out_dir, step, o),
                "write_mode": "overwrite"} for o in outs}
    return conf


def check(step: str, tables: dict, expect) -> str | None:
    """Compare one step's outputs (pyarrow tables by output name) with the
    property recomputed from the generated inputs; None when they agree."""
    if step == "reactome":
        got = {r["id"]: sorted(r["ancestors"]) for r in tables["reactome"].to_pylist()}
        return None if got == expect else "reactome ancestors differ from the input DAG"
    if step == "go":
        got = sorted((r["id"], r["name"]) for r in tables["go"].to_pylist())
        return None if got == expect else "go terms differ from the non-obsolete OBO terms"
    if step == "otar":
        got = {r["efo_id"]: sorted(p["otar_code"] for p in r["projects"])
               for r in tables["otar_projects"].to_pylist()}
        return None if got == expect else "otar projects differ from the propagated lookup"
    if step == "search_ebi":
        got = {k: tables[k].num_rows for k in expect}
        return None if got == expect else f"search_ebi row counts {got} != {expect}"
    raise ValueError(f"no check for step {step}")
