"""Spans and Spark counters, recorded from outside the program.

A span is recorded around each call the benchmark makes into a layer
(name, start, end, parent span, op id). Every span that can start Spark
jobs also tags them with its own job group, so after the op the
benchmark reads that group's jobs from ``statusTracker()`` and each
stage's last attempt from the status store. Spans and counters stay in
memory until the run ends. With tracing off, ``span`` only yields and
no job group is set.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from stats import aggregate_stages


def _stage_record(store, sid: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # never submitted: no attempt on record
        return None
    if sd.status().toString() not in ("COMPLETE", "FAILED"):
        return None  # skipped (shuffle output reused) or not finished
    return {
        "tasks": sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_ms": sd.executorRunTime(),
        "executor_cpu_ns": sd.executorCpuTime(),
        "input_bytes": sd.inputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.diskBytesSpilled(),
    }


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        # (op id, span name) -> job-group counters
        self.counters: dict[tuple[int, str], dict] = {}
        self._stack: list[int] = []
        self._groups: list[tuple[int, str, str]] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span; with ``jobs``, tag the Spark jobs started
        inside it with a job group of its own."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op, "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        if jobs:
            group = f"bench-op{self.op}-{sid}"
            sc.setJobGroup(group, name)
            self._groups.append((self.op, name, group))
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def collect_counters(self) -> None:
        """Read the counters of every job group tagged since the last
        call. Waits for the listener bus first: stage metrics land in
        the status store asynchronously after an action returns."""
        if not self._groups:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for op, name, group in self._groups:
            jobs = {}
            stages = {}
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs[jid] = list(info.stageIds)
                for sid in info.stageIds:
                    if sid not in stages:
                        stages[sid] = _stage_record(store, sid)
            key = (op, name)
            agg = aggregate_stages(jobs, stages)
            prev = self.counters.get(key)
            self.counters[key] = agg if prev is None else {k: prev[k] + agg[k] for k in agg}
        self._groups.clear()
