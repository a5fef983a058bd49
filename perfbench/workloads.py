"""The workload kinds: catalog queries, ETL steps and streaming twins. Each
runs operations (a query, a step or a twin run) in a closed loop with one
client and checks every output after the loop.

A workload object provides:
- ``prepare(seed)``: generate inputs (repeated to time set-up);
- ``pass_ops(rng)``: the operations of one pass, in seeded order;
- ``run_op(name, n_pass)``: run one operation inside spans, return its record;
- ``verify(records, plant)``: mark each record ok or failed, untimed;
- ``layers(records)``: the per-layer metrics of the run.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import importlib.util
import json
import os
import shutil

from perfbench.stats import median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


@functools.cache
def _check_oracle():
    """The correctness-gate module of the repository (canon / rows_of_duck)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _leaves(rec: dict, name: str) -> list[dict]:
    return [s for s in rec["spans"] if s["name"] == name]


def _spark_layers(records: list[dict], cores: int, exec_name: str) -> dict:
    """operators.* from every leaf span of every operation."""
    leaves = [s for r in records for s in r["spans"] if s.get("leaf")]
    n = max(len(records), 1)
    tot = lambda k: sum(s.get(k, 0) for s in leaves)  # noqa: E731
    exec_s = sum(s["s"] for r in records for s in _leaves(r, exec_name))
    busy = sum(s.get("executor_run_s", 0) for r in records for s in _leaves(r, exec_name))
    return {
        "operators.exec_s": exec_s / n,
        "operators.jobs": tot("jobs") / n,
        "operators.stages": tot("stages") / n,
        "operators.tasks": tot("tasks") / n,
        "operators.idle_frac": (1.0 - busy / (exec_s * cores)) if exec_s else 0.0,
        "operators.executor_run_s": tot("executor_run_s") / n,
        "operators.executor_cpu_s": tot("executor_cpu_s") / n,
        "operators.gc_s": tot("gc_s") / n,
        "operators.shuffle_read_mb": tot("shuffle_read_mb") / n,
        "operators.shuffle_write_mb": tot("shuffle_write_mb") / n,
        "operators.spill_mb": tot("spill_mb") / n,
        "operators.task_skew": max((s.get("task_skew", 1.0) for s in leaves), default=1.0),
        "operators.failed_tasks": tot("failed_tasks"),
    }


class Workload:
    kind = "op"
    verified_by = ""  # how outputs are checked, for the run record

    def __init__(self, name: str, spec: dict, spark, tracer, work: str, cores: int):
        self.name, self.spec, self.spark, self.tracer = name, spec, spark, tracer
        self.work, self.cores = work, cores
        self.input_rows = 0

    def prepare(self, seed: int) -> None:
        pass

    def warm_up(self) -> None:
        """Code paths every workload uses: codegen, a parquet scan, a shuffle."""
        self.spark.range(200_000).selectExpr("sum(id)").collect()
        self.spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).groupBy(
            "l_returnflag").count().collect()

    def pass_ops(self, rng) -> list[str]:
        ops = list(self.spec["ops"])
        rng.shuffle(ops)
        return ops

    def extras(self, records: list[dict], wall_s: float) -> dict:
        return {}


class QueryWorkload(Workload):
    """Catalog queries over the fixed sf0.01 tables; the seed shuffles the
    order in each pass. An operation is construction plus execution with
    the result collected; the rows are checked against the DuckDB oracle."""

    kind = "query"
    verified_by = "rows against the DuckDB oracle SQL (rows only where a query has none)"

    def __init__(self, *a):
        super().__init__(*a)
        from platform_etl_backend_spark.catalog import QUERIES

        self.queries = QUERIES

    def warm_up(self) -> None:
        """One untimed pass over the measured queries, so every query's
        generated code is compiled before timing whatever query the seed
        puts first. On a 4-vCPU VM at local[3] the cold pass takes ~15 s
        and the timed ones ~5.5-6.5 s."""
        super().warm_up()
        for name in self.spec["ops"]:
            self.queries[name].fn(self.spark, SF_DIR).collect()

    def run_op(self, name: str, n_pass: int) -> dict:
        tr = self.tracer
        with tr.span(name, name, leaf=False) as top:
            with tr.span("catalog.construct", name, top["id"]):
                df = self.queries[name].fn(self.spark, SF_DIR)
            with tr.span("operators.exec", name, top["id"]):
                rows = df.collect()
        return {"kind": self.kind, "name": name, "pass": n_pass, "s": top["s"],
                "cols": sorted(df.columns), "rows": rows}

    def verify(self, records: list[dict], plant: bool) -> None:
        import duckdb

        co = _check_oracle()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        expected: dict = {}
        for i, rec in enumerate(records):
            rows = rec.pop("rows")
            got = sorted(tuple(co.canon(r[c]) for c in rec["cols"]) for r in rows)
            rec["out_rows"] = len(got)
            oracle = self.queries[rec["name"]].oracle
            if oracle is None:  # rows-only, as the correctness gate does
                rec["error"] = None if got else "no rows"
                continue
            if rec["name"] not in expected:
                cols, want = co.rows_of_duck(con, oracle)
                expected[rec["name"]] = (cols, sorted(want))
            cols, want = expected[rec["name"]]
            if plant and i == 0:
                want = want[:-1]
            if cols != rec["cols"]:
                rec["error"] = f"columns differ: {rec['cols']} vs oracle {cols}"
            elif got != want:
                rec["error"] = f"rows differ from the oracle ({len(got)} vs {len(want)})"
            else:
                rec["error"] = None
        con.close()

    def layers(self, records: list[dict]) -> dict:
        cons = [s for r in records for s in _leaves(r, "catalog.construct")]
        out = {
            "catalog.construct_s": _mean(s["s"] for s in cons),
            "catalog.construct_jobs": _mean(s.get("jobs", 0) for s in cons),
            "catalog.construct_py_s": _mean(s["s"] - s.get("job_s", 0) for s in cons),
        }
        out.update(_spark_layers(records, self.cores, "operators.exec"))
        return out


class EtlWorkload(Workload):
    """``engine.runner.run_steps`` over seeded inputs in the reference
    formats, writing real parquet. With tracing on, the same sequence goes
    through ``engine.io.read_from``, ``steps.run_step`` and
    ``engine.io.write_to`` so each call gets its own span."""

    kind = "step"

    def prepare(self, seed: int) -> None:
        from perfbench import etl

        shutil.rmtree(os.path.join(self.work, "etl"), ignore_errors=True)
        self.config, self.expect, self.input_rows = etl.generate(
            seed, os.path.join(self.work, "etl"))
        self.seed = seed

    def pass_ops(self, rng) -> list[str]:
        return list(self.spec["ops"])  # run_steps order: the config's order

    def run_op(self, name: str, n_pass: int) -> dict:
        from perfbench import etl

        out_dir = os.path.join(self.work, "etl", f"out{n_pass}")
        conf = etl.with_outputs(self.config, out_dir)
        tr = self.tracer
        with tr.span(name, name, leaf=False) as top:
            if not tr.enabled:
                from platform_etl_backend_spark.engine.runner import run_steps

                run_steps([name], conf, spark=self.spark)
            else:
                from platform_etl_backend_spark.engine.config import (
                    IOResourceConfig, parse_input_map)
                from platform_etl_backend_spark.engine.io import IOResource, read_from, write_to
                from platform_etl_backend_spark.steps import run_step

                sc = conf["steps"][name]
                with tr.span("engine.io.read_from", name, top["id"]):
                    inputs = read_from(self.spark, parse_input_map(sc["input"]))
                with tr.span("steps.run_step", name, top["id"]):
                    outs = run_step(self.spark, name, {k: r.data for k, r in inputs.items()},
                                    **sc.get("params", {}))
                with tr.span("engine.io.write_to", name, top["id"]):
                    write_to({k: IOResource(df, IOResourceConfig.from_dict(sc["output"][k]))
                              for k, df in outs.items() if k in sc["output"]})
        files = [f for o in etl.OUTPUTS[name]
                 for f in glob.glob(os.path.join(out_dir, name, o, "*.parquet"))]
        return {"kind": self.kind, "name": name, "pass": n_pass, "s": top["s"],
                "out_dir": os.path.join(out_dir, name), "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files)}

    def warm_up(self) -> None:
        """One untimed pass of every step on the inputs of another seed,
        one with stored fingerprints: the timed pass runs warm, and the
        step code is held to stored outputs whatever the run's seed."""
        stored = self._stored()
        if not stored:  # recording fingerprints: nothing to hold outputs to
            self.ref_seed, self.ref_errors = None, {}
            return
        seeds = sorted(map(int, stored))
        self.ref_seed = seeds[(self.seed + 1) % len(seeds)]
        self.ref_errors = self._reference_errors(self.ref_seed, stored[str(self.ref_seed)])

    def _stored(self) -> dict:
        fp_path = os.path.join(HERE, "fingerprints.json")
        if not os.path.exists(fp_path) or getattr(self, "recording", False):
            return {}
        with open(fp_path, encoding="utf-8") as fh:
            return json.load(fh)

    def verify(self, records: list[dict], plant: bool) -> None:
        from perfbench import etl

        want = self._stored().get(str(self.seed), {})
        ref_seed, ref_errors = getattr(self, "ref_seed", None), getattr(self, "ref_errors", {})
        self.verified_by = "checks + " + (
            "fingerprints stored for this seed" if want
            else "every pass against the first (no fingerprints stored for this seed)")
        if ref_seed is not None:
            self.verified_by += (f"; warm-up pass on the inputs of seed {ref_seed} "
                                 "against its stored fingerprints")
        first: dict = {}
        for i, rec in enumerate(records):
            tables = _read_outputs(rec["out_dir"], rec["name"])
            rec["out_rows"] = sum(t.num_rows for t in tables.values())
            rec["fingerprint"] = fingerprint(tables)
            err = etl.check(rec["name"], tables, self.expect[rec["name"]])
            # without stored fingerprints, every pass must match the first
            want_fp = want.get(rec["name"]) or first.setdefault(rec["name"], rec["fingerprint"])
            if plant and i == 0:
                want_fp = "planted"
            if err is None and rec["fingerprint"] != want_fp:
                err = f"output fingerprint differs from the one stored for seed {self.seed}"
            rec["error"] = err or ref_errors.get(rec["name"])

    def _reference_errors(self, ref_seed: int, want: dict) -> dict:
        """Run every step on the inputs of ``ref_seed``; per step, why its
        output fails the checks or the stored fingerprint, or None."""
        from perfbench import etl
        from platform_etl_backend_spark.engine.runner import run_steps

        root = os.path.join(self.work, "etl_ref")
        shutil.rmtree(root, ignore_errors=True)
        config, expect, _ = etl.generate(ref_seed, root)
        out_dir = os.path.join(root, "out")
        run_steps(list(self.spec["ops"]), etl.with_outputs(config, out_dir), spark=self.spark)
        errors = {}
        for name in self.spec["ops"]:
            tables = _read_outputs(os.path.join(out_dir, name), name)
            err = etl.check(name, tables, expect[name])
            if err is None and fingerprint(tables) != want[name]:
                err = f"output fingerprint differs from the one stored for seed {ref_seed}"
            errors[name] = err and f"on the inputs of seed {ref_seed}: {err}"
        shutil.rmtree(root, ignore_errors=True)
        return errors

    def layers(self, records: list[dict]) -> dict:
        def span_mean(name, key):
            return _mean(s.get(key, 0) for r in records for s in _leaves(r, name))

        out = {
            "engine.io.read_s": span_mean("engine.io.read_from", "s"),
            "engine.io.read_jobs": span_mean("engine.io.read_from", "jobs"),
            "engine.io.write_s": span_mean("engine.io.write_to", "s"),
            "engine.io.files_written": _mean(r.get("files", 0) for r in records),
            "steps.construct_s": span_mean("steps.run_step", "s"),
            "steps.construct_jobs": span_mean("steps.run_step", "jobs"),
        }
        for step in self.spec["ops"]:
            out[f"steps.{step}.s"] = median([r["s"] for r in records if r["name"] == step])
        out.update(_spark_layers(records, self.cores, "engine.io.write_to"))
        return out

    def extras(self, records: list[dict], wall_s: float) -> dict:
        passes = len({r["pass"] for r in records})
        return {"output_mb": sum(r.get("bytes", 0) for r in records) / passes / 1024 / 1024,
                "rows_per_s": self.input_rows / wall_s}


def _read_outputs(step_dir: str, step: str) -> dict:
    import pyarrow.parquet as pq

    from perfbench import etl

    return {o: pq.read_table(os.path.join(step_dir, o)) for o in etl.OUTPUTS[step]}


def fingerprint(tables: dict) -> str:
    """Order-insensitive digest of output tables: rows sorted, and every
    array sorted too (collect_set order is not part of a step's contract)."""
    co = _check_oracle()

    def unordered(c):
        if isinstance(c, tuple) and c and c[0] == "l":
            return ("l", tuple(sorted((unordered(x) for x in c[1]), key=repr)))
        if isinstance(c, tuple) and c and c[0] == "m":
            return ("m", tuple((k, unordered(v)) for k, v in c[1]))
        return c

    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        cols = sorted(t.column_names)
        rows = sorted(repr(tuple(unordered(co.canon(r[c])) for c in cols)) for r in t.to_pylist())
        h.update(repr((name, cols, rows)).encode())
    return h.hexdigest()


class StreamWorkload(Workload):
    """The streaming twins the manifest lists, each with ``trigger(availableNow=True)``
    over its staged files; the checks compare each committed table with
    the batch twin on the same generated input."""

    kind = "twin"
    verified_by = "committed tables against the batch twin on the same input"

    def pass_ops(self, rng) -> list[str]:
        return list(self.spec["ops"])  # the seed drives the input generator

    def prepare(self, seed: int) -> None:
        from perfbench import stream

        shutil.rmtree(os.path.join(self.work, "stream"), ignore_errors=True)
        self.root = os.path.join(self.work, "stream", "in")
        self.input_rows = stream.generate(seed, self.root, self.spec["ops"])

    def warm_up(self) -> None:
        """Every twin once, untimed, over the first staged file only, into
        a scratch table. On a 4-vCPU VM a cold pass takes ~19 s and a warm
        one ~12 s, and cold passes spread far wider."""
        from perfbench import stream

        warm = os.path.join(self.work, "stream", "warm")
        for name in self.spec["ops"]:
            first = os.path.join(warm, "in", name)
            os.makedirs(first)
            os.link(os.path.join(self.root, name, "part0.parquet"),
                    os.path.join(first, "part0.parquet"))
            q = stream.start_twin(self.spark, name, os.path.join(warm, "in"),
                                  os.path.join(warm, "out", name))
            q.awaitTermination(150)
            if q.isActive:
                q.stop()
        shutil.rmtree(warm, ignore_errors=True)

    def run_op(self, name: str, n_pass: int) -> dict:
        from perfbench import stream

        out = os.path.join(self.work, "stream", f"out{n_pass}", name)
        with self.tracer.span(name, name, leaf=False) as top:
            with self.tracer.span("streaming.run", name, top["id"], leaf=False) as run:
                q = stream.start_twin(self.spark, name, self.root, out)
                q.awaitTermination(150)
        error = None
        if q.isActive:
            q.stop()
            error = "stream did not finish within 150 s"
        elif q.exception() is not None:
            error = f"stream failed: {q.exception()}"
        progress = [p for p in q.recentProgress if p.get("batchId") is not None]
        if self.tracer.enabled:  # micro-batch jobs run under the query's run id
            run.update(self.tracer.group_counters(str(q.runId)), leaf=True)
        return {"kind": self.kind, "name": name, "pass": n_pass, "s": top["s"], "out": out,
                "stream_error": error, "progress": [_progress(p) for p in progress]}

    def verify(self, records: list[dict], plant: bool) -> None:
        from perfbench import stream

        want = stream.batch_twins(self.spark, self.root, {r["name"] for r in records})
        for i, rec in enumerate(records):
            rec["error"] = rec.pop("stream_error")
            if rec["error"] is None:
                w = dict(want)
                if plant and i == 0:
                    w = {k: type(v)() if not hasattr(v, "shape") else v[:-1]
                         for k, v in want.items()}
                rec["error"] = stream.check(self.spark, rec["name"], rec["out"], w)

    def _triggers(self, records):
        return [p for r in records for p in r.get("progress", [])]

    def layers(self, records: list[dict]) -> dict:
        trig = self._triggers(records)
        med = lambda k: median([p[k] for p in trig])  # noqa: E731
        stateful = [p for p in trig if p["stateful"]]  # micro-batches with state operators
        rows_in = sum(p["input_rows"] for p in trig)
        out = {
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.state_rows": max((p["state_rows"] for p in stateful), default=0),
            "streaming.state_mem_mb": max((p["state_mem_mb"] for p in stateful), default=0.0),
            "streaming.state_commit_ms": median([p["state_commit_ms"] for p in stateful]),
            "streaming.late_dropped_frac": (sum(p["dropped"] for p in trig) / rows_in
                                            if rows_in else 0.0),
            "streaming.trigger_p50_ms": med("triggerExecution"),
            "streaming.trigger_tail_ms": tail([p["triggerExecution"] for p in trig])[0],
            "streaming.triggers": len(trig) / max(len(records), 1),
        }
        out.update(_spark_layers(records, self.cores, "streaming.run"))
        return out

    def extras(self, records: list[dict], wall_s: float) -> dict:
        trig = [p["triggerExecution"] for p in self._triggers(records)]
        t, pct, n = tail(trig)
        return {"trigger_p50_ms": median(trig), "trigger_tail_ms": t,
                "trigger_tail_pct": pct, "triggers": n,
                "rows_per_s": self.input_rows / wall_s}


def _progress(p: dict) -> dict:
    d = p.get("durationMs", {})
    ops = p.get("stateOperators", [])
    return {
        "batch": p["batchId"], "input_rows": p.get("numInputRows", 0), "stateful": bool(ops),
        **{k: d.get(k, 0) for k in ("triggerExecution", "addBatch", "queryPlanning",
                                    "walCommit", "commitOffsets", "latestOffset")},
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_mem_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / 1024 / 1024,
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


KINDS = {"query": QueryWorkload, "step": EtlWorkload, "twin": StreamWorkload}
