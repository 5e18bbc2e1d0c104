"""Self-tests of the benchmark's own arithmetic and bookkeeping. No
Spark session: the tracer runs against a fake context.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import generate
import run
import stats
from tracing import Tracer

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- tail rule, failure share ------------------------------


@pytest.mark.parametrize("n,q", [(1, 0.5), (19, 0.5), (20, 0.5), (40, 0.75), (100, 0.9), (200, 0.95), (1000, 0.99)])
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == pytest.approx(q)
    if n >= 20:
        assert n * (1 - stats.tail_quantile(n)) == pytest.approx(10)


def test_tail_quantile_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail_quantile(0)


def test_latency_summary_tail_is_p90_at_100_ops():
    xs = [float(i) for i in range(1, 101)]
    s = stats.latency_summary(xs)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_q"] == pytest.approx(0.9)
    assert s["tail"] == pytest.approx(float(np.quantile(xs, 0.9)))
    assert sum(x > s["tail"] for x in xs) == 10


def test_latency_summary_small_run_tail_is_median():
    # below 20 ops no percentile above the median has ten samples
    # beyond it, so op_tail_s reads the same as op_p50_s
    for n in (3, 10, 19):
        s = stats.latency_summary([float(i) for i in range(n)])
        assert s["tail_q"] == 0.5
        assert s["tail"] == s["p50"]


def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(12, 3) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


# -- span self time -----------------------------------------------------


def _span(sid, name, parent, start, end, op=0):
    return {"id": sid, "name": name, "parent": parent, "op": op, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "bench.op", None, 0.0, 10.0),
        _span(1, "queries.build", 0, 1.0, 3.0),
        _span(2, "spark.action", 0, 3.0, 9.0),
    ]
    assert stats.self_times(spans) == {0: pytest.approx(2.0), 1: pytest.approx(2.0), 2: pytest.approx(6.0)}


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(0, "queries.read", None, 0.0, 10.0),
        _span(1, "tablelog.read", 0, 2.0, 6.0),
        _span(2, "spark.action", 0, 5.0, 8.0),  # overlaps the sibling by 1 s
        _span(3, "spark.action", 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - (6.0 + 1.0))


def test_layer_self_times_account_for_the_op():
    spans = [
        _span(0, "bench.op", None, 0.0, 10.0),
        _span(1, "bench.land", 0, 0.0, 0.5),
        _span(2, "graph.run", 0, 0.5, 4.0),
        _span(3, "tablelog.merge", 0, 4.0, 7.0),
        _span(4, "queries.read", 0, 7.0, 10.0),
        _span(5, "tablelog.read", 4, 7.0, 7.5),
        _span(6, "spark.action", 4, 7.5, 9.9),
    ]
    layers = stats.layer_self_times(spans)
    assert layers == {
        "bench": pytest.approx(0.0 + 0.5),
        "graph": pytest.approx(3.5),
        "tablelog": pytest.approx(3.5),
        "queries": pytest.approx(0.1),
        "spark": pytest.approx(2.4),
    }
    assert sum(layers.values()) == pytest.approx(10.0)


# -- Spark counter aggregation per job group ----------------------------


def _stage(**kw):
    rec = {f: 0 for f in stats.STAGE_FIELDS}
    rec.update(kw)
    return rec


def test_aggregate_stages_counts_shared_stage_once_and_skips_unrun():
    jobs = {7: [1, 2], 8: [2, 3], 9: [4]}
    stages = {
        1: _stage(tasks=4, executor_run_ms=100, shuffle_write_bytes=10),
        2: _stage(tasks=2, executor_run_ms=50, shuffle_read_bytes=10, failed_tasks=1),
        3: None,  # skipped: its shuffle output was reused
        4: _stage(tasks=1, input_bytes=99, spill_bytes=5, executor_cpu_ns=7),
    }
    got = stats.aggregate_stages(jobs, stages)
    assert got["jobs"] == 3
    assert got["stages"] == 3
    assert got["tasks"] == 7
    assert got["failed_tasks"] == 1
    assert got["executor_run_ms"] == 150
    assert got["shuffle_write_bytes"] == 10
    assert got["shuffle_read_bytes"] == 10
    assert got["input_bytes"] == 99
    assert got["spill_bytes"] == 5
    assert got["executor_cpu_ns"] == 7


def test_aggregate_stages_empty_group():
    got = stats.aggregate_stages({}, {})
    assert got["jobs"] == 0 and got["stages"] == 0 and got["tasks"] == 0


class _FakeStageData:
    def __init__(self, status, **kw):
        self._status, self._kw = status, kw

    def status(self):
        return type("Status", (), {"toString": lambda _: self._status})()

    def __getattr__(self, name):
        return lambda: self._kw.get(name, 0)


class _FakeContext:
    """Job groups -> jobs -> stages, as statusTracker and the status
    store expose them."""

    def __init__(self):
        self.group = None
        self.job_groups: dict[str, list[int]] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_data: dict[int, _FakeStageData] = {}
        self._next_job = 0
        ctx = self

        class _Tracker:
            def getJobIdsForGroup(self, g):
                return ctx.job_groups.get(g, [])

            def getJobInfo(self, j):
                return type("Info", (), {"stageIds": ctx.job_stages[j]})

        class _Sc:
            def listenerBus(self):
                return type("Bus", (), {"waitUntilEmpty": lambda self: None})()

            def statusStore(self):
                return type("Store", (), {"lastStageAttempt": lambda self, s: ctx.stage_data[s]})()

        self._tracker = _Tracker()
        self._jsc = type("Jsc", (), {"sc": lambda self: _Sc()})()

    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def statusTracker(self):
        return self._tracker

    def run_job(self, stage_ids, **counters):
        j = self._next_job
        self._next_job += 1
        self.job_groups.setdefault(self.group, []).append(j)
        self.job_stages[j] = stage_ids
        for s in stage_ids:
            self.stage_data.setdefault(s, _FakeStageData("COMPLETE", **counters))


def test_tracer_groups_jobs_per_span_and_nests_spans():
    sc = _FakeContext()
    tr = Tracer(type("Spark", (), {"sparkContext": sc})(), enabled=True)
    tr.op = 5
    with tr.span("bench.op"):
        with tr.span("queries.build", jobs=True):
            sc.run_job([1], numCompleteTasks=2, executorRunTime=30)
        assert sc.group is None
        with tr.span("spark.action", jobs=True):
            sc.run_job([2, 3], numCompleteTasks=4, executorRunTime=10, shuffleWriteBytes=8)
            sc.run_job([3])  # reuses stage 3: counted once
    # a job outside any traced span lands in no group
    sc.run_job([9], numCompleteTasks=100)
    tr.collect_counters()
    assert [s["name"] for s in tr.spans] == ["bench.op", "queries.build", "spark.action"]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert all(s["op"] == 5 and s["end"] >= s["start"] for s in tr.spans)
    build, action = tr.counters[(5, "queries.build")], tr.counters[(5, "spark.action")]
    assert (build["jobs"], build["stages"], build["tasks"], build["executor_run_ms"]) == (1, 1, 2, 30)
    assert (action["jobs"], action["stages"], action["tasks"]) == (2, 2, 8)
    assert action["executor_run_ms"] == 20 and action["shuffle_write_bytes"] == 16


def test_tracer_off_records_nothing():
    sc = _FakeContext()
    tr = Tracer(type("Spark", (), {"sparkContext": sc})(), enabled=False)
    with tr.span("bench.op"):
        with tr.span("spark.action", jobs=True):
            assert sc.group is None
    tr.collect_counters()
    assert tr.spans == [] and tr.counters == {}


# -- BENCHMARK.json matches what run.py prints --------------------------


def test_benchmark_json_matches_run_metrics():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.workloads.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


# -- seeded generator ---------------------------------------------------


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    a = str(tmp_path_factory.mktemp("gen") / "a")
    b = str(tmp_path_factory.mktemp("gen") / "b")
    generate.generate(5, a)
    generate.generate(5, b)
    return a, b


def test_generator_same_seed_same_tables(generated):
    a, b = generated
    for sub in ("sf", "inc"):
        names = sorted(os.listdir(os.path.join(a, sub)))
        assert names == sorted(os.listdir(os.path.join(b, sub)))
        for n in names:
            ta = pq.read_table(os.path.join(a, sub, n))
            tb = pq.read_table(os.path.join(b, sub, n))
            assert ta.equals(tb), n


def test_generator_batches_reemit_earlier_events(generated):
    a, _ = generated
    batches = [
        pq.read_table(os.path.join(a, "inc", n)).to_pandas()
        for n in sorted(os.listdir(os.path.join(a, "inc")))
    ]
    assert len(batches) == generate.N_BATCHES
    seen: set[int] = set()
    prev_max_ts = None
    for i, df in enumerate(batches):
        assert df["event_id"].is_unique, f"batch {i} repeats an event_id"
        if prev_max_ts is not None:
            assert df["ts"].min() > prev_max_ts
            share = df["event_id"].isin(seen).mean()
            assert share == pytest.approx(generate.REEMIT_SHARE, abs=0.01)
        seen.update(df["event_id"])
        prev_max_ts = df["ts"].max()
    all_ts = np.concatenate([df["ts"].to_numpy() for df in batches])
    assert len(np.unique(all_ts)) == len(all_ts), "ts must never tie"


def test_generator_documents_have_fixture_duplicate_structure(generated):
    a, _ = generated
    texts = pq.read_table(os.path.join(a, "sf", "documents.parquet"))["text"].to_pylist()
    assert len(texts) == generate.N_DOCUMENTS
    assert len(texts) - len(set(texts)) == generate.N_EXACT_DUPS
    present = set(texts)
    replicas = [t for t in texts if t.endswith(" dup") and t[: -len(" dup")] in present]
    assert len(replicas) >= generate.N_DOC_REPLICAS
