#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print its result.

    python3 perfbench/run.py --workload queries_light --seed 1 --seconds 17 --trace 0

One driver process, ``local[<cores - 1>]``, a session from
``engine.session.get_spark`` with the engine defaults (only the master and
the heap are set). Operations run in a closed loop with one client: passes
over the workload's operations, in an order drawn from ``--seed``, until the
next pass would end after ``--seconds``. Every output is checked after the
loop, untimed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones. Every run writes, under perfbench/out/<workload>/, one
run record, one record per operation and trigger, and the spans; file names
carry a UTC time stamp and the process id, so runs never overwrite each
other. The last line of standard output is the result JSON.

    python3 perfbench/run.py --record-fingerprints 0-20

stores the etl_steps output fingerprints of those seeds (perfbench/fingerprints.json).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
SETUP_REPS = 3


def bench_cores() -> int:
    """Executor threads: one fewer than the cores this process may use, so
    the Python driver and the JVM's compiler and GC threads keep a core and
    the run does not measure the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Sum of the peak resident sets (VmHWM) of the Python driver and the
    JVM. Python workers are left out: they come and go, so whether one is
    alive when the sample is taken is chance."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    kids = descendants(os.getpid())
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="check the first operation against a wrong expectation")
    ap.add_argument("--record-fingerprints", metavar="A-B",
                    help="store etl_steps output fingerprints for seeds A..B and exit")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t_proc = process_start_epoch()
    if not os.path.isdir(os.path.join(ROOT, "platform_etl_backend_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "manifest.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    if args.record_fingerprints:
        return record_fingerprints(manifest, args.record_fingerprints)
    if args.workload not in manifest["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = manifest["workloads"][args.workload]
    run_id = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + \
        f"-{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    spark = start_session(work)
    try:
        result, run, ops = run_workload(spark, args, spec, work, t_proc)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    run["id"] = run_id
    write_artifacts(args.workload, run_id, run, ops)
    print(json.dumps(result))
    return 0


def start_session(work: str):
    """Session with engine defaults; scratch files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data file in the system /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    from platform_etl_backend_spark.engine.session import get_spark

    cores = bench_cores()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_conf={"spark.driver.memory": HEAP})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_workload(spark, args, spec: dict, work: str, t_proc: float):
    from perfbench.stats import median, tail
    from perfbench.trace import Tracer
    from perfbench.workloads import KINDS

    session_ready = time.time()
    cores = bench_cores()
    tracer = Tracer(spark, bool(args.trace))
    wl = KINDS[spec["kind"]](args.workload, spec, spark, tracer, work, cores)
    # set-up = session start + input generation (repeated; median) + one
    # warm-up, so caches fill and lazy initialisation ends before timing
    reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare(args.seed)
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t
    setup_s = session_ready - t_proc + median(reps) + warm_s

    rng = random.Random(args.seed)
    records: list[dict] = []
    loop_start, n_pass = time.perf_counter(), 0
    while True:
        p0 = time.perf_counter()
        for name in wl.pass_ops(rng):
            try:
                rec = wl.run_op(name, n_pass)
            except Exception as exc:  # noqa: BLE001 - a failed operation is a result
                rec = {"kind": wl.kind, "name": name, "pass": n_pass, "s": None,
                       "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            rec["spans"] = tracer.take()
            records.append(rec)
        n_pass += 1
        now = time.perf_counter()
        if now - loop_start + (now - p0) > args.seconds:
            break
    # per pass (median over passes), so a faster engine that fits more
    # passes reads faster
    pass_walls = []
    for p in range(n_pass):
        tops = [s for r in records if r["pass"] == p for s in r["spans"] if s["parent"] is None]
        pass_walls.append(max(s["end"] for s in tops) - min(s["start"] for s in tops))
    wall_s = median(pass_walls)
    peak = peak_rss_mb(getattr(spark.sparkContext._gateway.proc, "pid", None))

    ran = [r for r in records if "error" not in r]
    wl.verify(ran, args.plant_failure)
    failed = sum(1 for r in records if r["error"] is not None)
    times = [r["s"] for r in records if r["error"] is None]
    # the tail of each pass, median over passes, so that the percentile
    # does not change with the number of passes that fit in --seconds
    pass_tails = [tail([r["s"] for r in records if r["pass"] == p and r["error"] is None])
                  for p in range(n_pass)]
    op_tail, tail_pct = median(t[0] for t in pass_tails), pass_tails[0][1]
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_p50_s": median(times),
        "op_tail_s": op_tail,
        "verified_frac": (len(records) - failed) / len(records),
    }
    layers = {"engine.session.start_s": session_ready - t_proc, "trace.wall_s": wall_s}
    layers.update(wl.layers(records))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    # a layer the workload never calls reports 0 (no calls, no time)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    result = {"correct": failed == 0, "attempted": len(records), "failed": failed,
              "metrics": metrics}
    run = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "passes": n_pass, "pass_walls_s": pass_walls,
        "attempted": len(records), "failed": failed, "failed_frac": failed / len(records),
        "setup_reps_s": reps, "warm_up_s": warm_s,
        "op_tail_pct": tail_pct, "op_samples": len(times),
        "input_rows": wl.input_rows, "verified_by": wl.verified_by,
        "end_to_end": e2e, "layers": layers,
        "extras": {"peak_rss_mb": peak, **wl.extras(records, wall_s)}, "result": result,
    }
    return result, run, records


def write_artifacts(workload: str, run_id: str, run: dict, records: list[dict]) -> None:
    out = os.path.join(HERE, "out", workload)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{run_id}.ops.jsonl"), "w", encoding="utf-8") as fh:
        for r in records:
            spans = r.pop("spans")
            progress = r.pop("progress", [])
            op = {k: v for k, v in r.items() if k not in ("out", "out_dir")}
            fh.write(json.dumps({"record": "op", "run": run_id, **op}) + "\n")
            for p in progress:
                fh.write(json.dumps({"record": "trigger", "run": run_id,
                                     "op": r["name"], "pass": r["pass"], **p}) + "\n")
            for s in spans:
                fh.write(json.dumps({"record": "span", "run": run_id, **s}) + "\n")
    with open(os.path.join(out, f"{run_id}.run.json"), "w", encoding="utf-8") as fh:
        json.dump(run, fh, indent=1, sort_keys=True)
        fh.write("\n")


def record_fingerprints(manifest: dict, seeds: str) -> int:
    """Run every etl_steps step once per seed and store the fingerprints of
    outputs that pass the independent checks."""
    from perfbench.trace import Tracer
    from perfbench.workloads import EtlWorkload

    lo, hi = (int(x) for x in seeds.split("-"))
    path = os.path.join(HERE, "fingerprints.json")
    stored = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            stored = json.load(fh)
    work = os.path.join(HERE, "work", f"fingerprints-p{os.getpid()}")
    spark = start_session(work)
    try:
        spec = manifest["workloads"]["etl_steps"]
        wl = EtlWorkload("etl_steps", spec, spark, Tracer(spark, False), work, 1)
        wl.recording = True
        for seed in range(lo, hi + 1):
            wl.prepare(seed)
            recs = [wl.run_op(step, 0) for step in spec["ops"]]
            stored.pop(str(seed), None)
            wl.verify(recs, False)
            bad = [r["name"] for r in recs if r["error"]]
            if bad:
                print(f"seed {seed}: checks failed for {bad}", file=sys.stderr)
                return 1
            stored[str(seed)] = {r["name"]: r["fingerprint"] for r in recs}
            print(f"seed {seed}: {len(recs)} steps fingerprinted", file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(stored, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
