"""stream_events workload: a seeded event stream staged as one parquet file
per trigger, the streaming twins that consume it, and the batch twin each
one is checked against.

Staging: events are sorted by event time and cut into ``N_FILES`` files with
strictly increasing modification times, so a ``maxFilesPerTrigger=1`` file
source replays them as ordered micro-batches. Every file is shuffled
(out-of-order within a trigger). For the twins whose contract allows it
(quantiles, top-k) a seeded share of events is also moved one file later
(late across triggers); SCD2 keeps event-time order across triggers, as its
twin contract requires.
"""

from __future__ import annotations

import bisect
import os
import random

import numpy as np
import pandas as pd

N_FILES = 2
N_EVENTS = 6000
N_USERS = 120
N_DOCS = 400
LATE_SHARE = 0.05
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
WORDS = ("spark", "query", "engine", "fast", "slow", "table", "row", "column", "scan",
         "join", "window", "merge", "batch", "stream", "data", "value", "key", "part",
         "filter", "order", "small", "big", "agg", "plan", "cache", "shuffle", "task",
         "stage", "job", "node", "a", "the", "of", "and")


def _stage(df: pd.DataFrame, path: str, rng: random.Random, late: bool) -> None:
    """Cut ``df`` (already in event order) into N_FILES shuffled files."""
    os.makedirs(path, exist_ok=True)
    part = np.repeat(np.arange(N_FILES), -(-len(df) // N_FILES))[: len(df)]
    if late:
        for i in range(len(part)):
            if part[i] < N_FILES - 1 and rng.random() < LATE_SHARE:
                part[i] += 1
    for f in range(N_FILES):
        chunk = df[part == f]
        chunk = chunk.iloc[rng.sample(range(len(chunk)), len(chunk))]
        p = os.path.join(path, f"part{f}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + f, 1_000_000 + f))


def generate(seed: int, root: str, twins) -> int:
    """Write the batch tables (``root``/tables) and one staged stream per
    twin (``root``/<twin>); return the number of input rows of ``twins``."""
    rng = random.Random(seed)
    tables = os.path.join(root, "tables")
    os.makedirs(tables, exist_ok=True)
    t0 = pd.Timestamp("2024-01-01").value // 1000
    ts = sorted(t0 + rng.randrange(30 * 86400 * 10**6) for _ in range(N_EVENTS))
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pd.to_datetime(np.array(ts, dtype=np.int64), unit="us").astype("datetime64[us]"),
        "user_id": np.array([rng.randrange(N_USERS) for _ in ts], dtype=np.int64),
        "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
        "value": [round(rng.lognormvariate(2.0, 0.8), 2) for _ in ts],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in ts],
    })
    events.to_parquet(os.path.join(tables, "events.parquet"), index=False)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 80)))
             for _ in range(N_DOCS)]
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(["en", "de", "fr"]) for _ in texts],
        "source": [f"src{rng.randrange(5)}" for _ in texts],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    docs.to_parquet(os.path.join(tables, "documents.parquet"), index=False)

    ep = (events["ts"].astype("int64") // 10**6).astype("int64")
    # q_scd2_history, the batch twin, keeps the users with user_id % 17 == 0
    scd2 = events.assign(ep=ep)[events["user_id"] % 17 == 0]
    _stage(scd2[["user_id", "event_id", "event_type", "ep"]],
           os.path.join(root, "scd2"), rng, late=False)
    _stage(events[["value"]].rename(columns={"value": "v"}),
           os.path.join(root, "quantiles"), rng, late=True)
    _stage(docs, os.path.join(root, "topk"), rng, late=True)
    return sum({"scd2": len(scd2), "quantiles": N_EVENTS, "topk": N_DOCS}[t] for t in twins)


SCHEMAS = {
    "topk": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "scd2": "user_id bigint, event_id bigint, event_type string, ep bigint",
    "quantiles": "v double",
}


def start_twin(spark, twin: str, root: str, out: str):
    """Start one twin over its staged files; returns the StreamingQuery."""
    from platform_etl_backend_spark.streaming import jobs as J

    src = (spark.readStream.schema(SCHEMAS[twin]).option("maxFilesPerTrigger", 1)
           .parquet(os.path.join(root, twin)))
    base, ckpt = os.path.join(out, "table"), os.path.join(out, "ckpt")
    if twin == "scd2":
        return J.scd2_interval_stream(src, base, ckpt)
    if twin == "quantiles":
        return J.quantile_maintenance_stream(src, base, ckpt)
    if twin == "topk":
        return J.topk_maintenance_stream(src, base, ckpt)
    raise ValueError(f"unknown twin {twin}")


def batch_twins(spark, root: str, twins) -> dict:
    """What each of ``twins`` must produce, computed in batch over the same
    generated input (catalog queries where a batch twin exists)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.catalog import QUERIES

    tables = os.path.join(root, "tables")
    ev = pd.read_parquet(os.path.join(tables, "events.parquet"))
    want: dict = {}
    if "topk" in twins:
        docs = spark.read.parquet(os.path.join(tables, "documents.parquet"))
        want["topk_counts"] = {
            (r["shard"], r["word"], r["cnt"])
            for r in docs.select((F.col("doc_id") % 8).alias("shard"),
                                 F.explode(F.split(F.trim("text"), r" +")).alias("word"))
            .groupBy("shard", "word").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .collect()}
        want["topk"] = [tuple(r) for r in QUERIES["q_distributed_topk"].fn(spark, tables).collect()]
    if "scd2" in twins:
        # the batch rows with a close the stream can already finalize (the
        # status-change day is not the user's last observed day)
        day = ev["ts"].astype("datetime64[us]").astype("int64") // 10**6 // 86400
        max_day = day.groupby(ev["user_id"]).max().to_dict()
        want["scd2"] = {
            (r.user_id, r.status, r.valid_from_day, r.valid_to_day,
             r.last_active_day, r.n_active_days, r.n_events)
            for r in QUERIES["q_scd2_history"].fn(spark, tables).collect()
            if r.valid_to_day is not None and r.valid_to_day + 1 < max_day[r.user_id]}
    if "quantiles" in twins:
        want["quantiles"] = np.sort(ev["value"].to_numpy())
    return want


def check(spark, twin: str, out: str, want: dict) -> str | None:
    """Compare one twin run's committed table with its batch twin."""
    from platform_etl_backend_spark.streaming import jobs as J

    base = os.path.join(out, "table")
    if twin == "topk":
        from platform_etl_backend_spark.operators.stats import tput_topk

        counts = J.current_topk_counts(spark, base)
        got = {(r["shard"], r["word"], r["cnt"]) for r in counts.collect()}
        if got != want["topk_counts"]:
            return "top-k count table differs from the batch counts"
        top = [tuple(r) for r in tput_topk(counts, 10).collect()]
        return None if top == want["topk"] else "TPUT top-k differs from q_distributed_topk"
    if twin == "scd2":
        got = {tuple(r) for r in J.current_appended_table(spark, base).collect()}
        return None if got == want["scd2"] else "SCD2 closed intervals differ from q_scd2_history"
    if twin == "quantiles":
        vals = want["quantiles"]
        n = len(vals)
        est = J.quantile_estimates_from_summary(
            J.current_quantile_summary(spark, base), (25, 50, 75, 90)).collect()
        for r in est:
            if r["n"] != n:
                return f"quantile summary weight {r['n']} != {n} values"
            target = -(-r["q"] * n // 100)
            lo = bisect.bisect_left(vals, r["approx_value"]) + 1
            hi = bisect.bisect_right(vals, r["approx_value"])
            if min(abs(lo - target), abs(hi - target)) > r["err_bound"]:
                return f"p{r['q']} estimate outside its rank-error bound"
        return None
    raise ValueError(f"unknown twin {twin}")
