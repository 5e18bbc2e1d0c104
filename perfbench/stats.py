"""The benchmark's own arithmetic: the tail rule, failure share, span
self time and Spark stage-counter aggregation. Pure functions over
plain data, so the self-tests need no Spark."""

from __future__ import annotations

from collections import defaultdict

import numpy as np


def tail_quantile(n: int) -> float:
    """The highest quantile with at least ten samples beyond it, never
    below the median: ``1 - 10/n`` (p90 at 100 samples, p95 at 200),
    and 0.5 while a run has fewer than 20 samples."""
    if n < 1:
        raise ValueError("tail of no samples")
    return max(0.5, 1.0 - 10.0 / n)


def latency_summary(latencies: list[float]) -> dict:
    n = len(latencies)
    q = tail_quantile(n)
    return {
        "n": n,
        "p50": float(np.quantile(latencies, 0.5)),
        "tail_q": q,
        "tail": float(np.quantile(latencies, q)),
    }


def failed_frac(attempted: int, failed: int) -> float:
    """Failed or mis-verified ops over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Layer (span name up to the first dot) -> summed self time."""
    out: dict[str, float] = defaultdict(float)
    by_id = {s["id"]: s for s in spans}
    for sid, t in self_times(spans).items():
        out[by_id[sid]["name"].split(".", 1)[0]] += t
    return dict(out)


STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def aggregate_stages(jobs: dict[int, list[int]], stages: dict[int, dict | None]) -> dict:
    """Totals for one job group.

    ``jobs`` maps each job id in the group to its stage ids; ``stages``
    maps a stage id to its last attempt's counters, or None when the
    stage never ran (skipped because its shuffle output was reused). A
    stage shared by several jobs counts once."""
    out = {"jobs": len(jobs), "stages": 0}
    out.update({f: 0 for f in STAGE_FIELDS})
    seen: set[int] = set()
    for stage_ids in jobs.values():
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            rec = stages.get(sid)
            if rec is None:
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += rec[f]
    return out


def add_counts(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
