"""Spans around calls into the engine's layers, with Spark counters.

A span records name, start, end, its parent span and the id of the
operation it belongs to. Spans stay in memory until the run writes them out.
With tracing on, each leaf span runs its Spark jobs under a job group of its
own, and on exit reads the jobs, stages and task metrics of that group from
``statusTracker`` and the application status store. With tracing off a span
only keeps its start and end, so both modes time the same calls.
"""

from __future__ import annotations

import contextlib
import itertools
import time

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "job_s", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._taken = 0
        self._ids = itertools.count()
        self._sc = spark.sparkContext
        if enabled:
            self._jsc = self._sc._jsc.sc()
            self._store = self._jsc.statusStore()
            self._tracker = self._sc.statusTracker()
            gw = self._sc._gateway
            self._quantiles = gw.new_array(gw.jvm.double, 2)
            self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextlib.contextmanager
    def span(self, name: str, op: str, parent: int | None = None, leaf: bool = True):
        """Yield the span dict; it is complete when the block exits. A leaf
        span runs its jobs under its own job group and, with tracing on,
        carries that group's counters."""
        sid = next(self._ids)
        rec = {"id": sid, "op": op, "name": name, "parent": parent, "leaf": leaf}
        group = f"perfbench-{op}-{sid}"
        if self.enabled and leaf:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled and leaf:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self.group_counters(group))
            self.spans.append(rec)

    def take(self) -> list[dict]:
        """The spans recorded since the last call (one operation's spans)."""
        out, self._taken = self.spans[self._taken:], len(self.spans)
        return out

    def group_counters(self, group: str) -> dict:
        """Jobs, stages and task metrics of the jobs run under ``group``."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        out["task_skew"] = 1.0
        intervals = []
        for jid in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            info = self._tracker.getJobInfo(jid)
            for stage_id in (info.stageIds if info else ()):
                stage = self._store.lastStageAttempt(stage_id)
                if str(stage.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle output) or failed
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["failed_tasks"] += stage.numFailedTasks()
                out["executor_run_s"] += stage.executorRunTime() / 1e3
                out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                out["gc_s"] += stage.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
                out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
                summary = self._store.taskSummary(stage_id, stage.attemptId(), self._quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)
        out["job_s"] = _union_seconds(intervals)
        return out


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
