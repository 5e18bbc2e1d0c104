"""The workloads. Each runs single-client, closed-loop ops against the
program's public functions and checks every op's output outside the
timed region.

- ``llm_corpus``: one op builds a registered dedup, text or similarity
  key's plan over the generated corpus and collects its result.
- ``incremental``: one op lands one batch, runs the incremental graph,
  merges the batch into a table log and reads both fresh snapshots. A
  round is an episode over every batch, in fresh output dirs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np

LLM_KEYS = [
    "dedup_exact",
    "dedup_minhash_banded",
    "text_pipeline_clean",
    "sim_search_topk",
    "sim_ann_ivf_topk",
    "sim_ann_lsh_topk",
]
# Recall floors against exact top-k: IVF's is the README's, LSH's the
# one its property test pins.
RECALL_FLOORS = {"sim_ann_ivf_topk": 0.85, "sim_ann_lsh_topk": 0.6}
RECALL_K = 10

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)


class Op:
    """One timed op: its key, latency and outcome."""

    __slots__ = ("id", "key", "latency", "error", "traced")

    def __init__(self, op_id: int, key: str, traced: bool) -> None:
        self.id = op_id
        self.key = key
        self.latency = 0.0
        self.error: str | None = None
        self.traced = traced


def exact_topk(sf_dir: str, k: int) -> set[tuple[int, int]]:
    """Exact global cosine top-k neighbours of every embedding (self
    excluded, ties broken by the smaller id), in numpy."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vecs @ vecs.T
    np.fill_diagonal(sims, -np.inf)
    out = set()
    for i in range(len(ids)):
        # lexsort: last key primary -> by -sim, then by neighbour id
        top = np.lexsort((ids, -sims[i]))[:k]
        out.update((int(ids[i]), int(ids[j])) for j in top)
    return out


class LlmCorpus:
    """Ops that build a registered key's plan and collect its result."""

    keys = LLM_KEYS
    # A round runs every key, then every key but the two ANN ones again,
    # in a fixed order. With one sample per key the median of six ops
    # rested on a single execution of dedup_minhash_banded, which varies
    # 2.0-2.9 s from run to run on 4 cores; a second sample of each key
    # steadies it, and skipping the ANN keys (~4-5 s an op each) on the
    # second pass keeps a run inside the benchmark's time budget.
    ROUND = LLM_KEYS + [k for k in LLM_KEYS if k not in RECALL_FLOORS]

    def __init__(self, bench) -> None:
        self.b = bench
        self.results: list[tuple[Op, object]] = []
        self.warmup_times: dict[str, float] = {}
        self.problems: dict[str, list[str]] = {}
        self.layer: dict[str, float] = {}

    def warmup(self) -> None:
        """One untimed pass over every key, the same op as a timed one."""
        for key in self.keys:
            t0 = time.perf_counter()
            self.b.specs[key].fn(self.b.spark, self.b.sf_dir).toPandas()
            self.warmup_times[key] = time.perf_counter() - t0

    def round(self, r: int) -> list[Op]:
        return [self._op(key) for key in self.ROUND]

    def _op(self, key: str) -> Op:
        b, tr = self.b, self.b.tracer
        op = b.new_op(key)
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                with tr.span("queries.build", jobs=True):
                    df = b.specs[key].fn(b.spark, b.sf_dir)
                with tr.span("spark.action", jobs=True):
                    pdf = df.toPandas()
            self.results.append((op, pdf))
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
            op.error = f"{type(e).__name__}: {e}"
        op.latency = time.perf_counter() - t0
        return op

    def verify(self) -> None:
        """Every timed op's result: hash keys against their DuckDB
        oracle on the same sf dir, ANN keys by recall@k against exact
        top-k. A mismatch fails that op."""
        from dags_spark.testing import compare, duck_connect

        con = duck_connect(self.b.sf_dir)
        try:
            oracle = {
                k: con.execute(self.b.specs[k].oracle).df()
                for k in self.keys
                if self.b.specs[k].check == "hash"
            }
        finally:
            con.close()
        want = exact_topk(self.b.sf_dir, RECALL_K)
        recalls: dict[str, list[float]] = {}
        for op, pdf in self.results:
            if op.key in oracle:
                problems = compare(pdf, oracle[op.key])
            else:
                got = set(zip(pdf["query_id"].astype(int), pdf["neighbor_id"].astype(int)))
                recall = len(got & want) / len(want)
                recalls.setdefault(op.key, []).append(recall)
                floor = RECALL_FLOORS[op.key]
                problems = [] if recall >= floor else [f"recall@{RECALL_K} {recall:.4f} below floor {floor}"]
            if op.key == "dedup_minhash_banded":
                self.layer["operators.dedup.minhash_pairs"] = len(pdf)
            if problems:
                op.error = "output check failed"
                self.problems.setdefault(op.key, []).extend(problems)
        for key, xs in recalls.items():
            name = "ivf" if "ivf" in key else "lsh"
            self.layer[f"operators.similarity.{name}_recall_at_k"] = min(xs)


def _tree_bytes(path: str, since_ns: int = 0) -> int:
    """Bytes of the files under `path` modified at or after `since_ns`."""
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total


_READ_EXPECTED_SQL = """
WITH landed AS (
  SELECT *, CAST(regexp_extract(filename, 'batch-([0-9]+)', 1) AS INT) AS b
  FROM read_parquet({files}, filename = true)
),
log AS (
  SELECT * FROM landed
  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY b DESC) = 1
),
lat AS (
  SELECT * FROM landed
  QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC) = 1
),
la AS (
  SELECT event_type, COUNT(*) AS log_rows,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS log_cents
  FROM log GROUP BY event_type
),
lb AS (
  SELECT event_type, COUNT(*) AS n_keys, MAX(event_id) AS max_event_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS latest_cents
  FROM lat GROUP BY event_type
)
SELECT la.event_type, log_rows, log_cents, n_keys, max_event_id, latest_cents
FROM la JOIN lb USING (event_type) ORDER BY event_type
"""

_ROWS_SQL = "SELECT event_id, user_id, event_type, epoch_us(ts), value, props FROM read_parquet({files})"


class Incremental:
    """One op = land a batch, ``Graph.run(incremental=True)`` (an
    ``unique_on`` upsert node and an append node, both materialized),
    ``TableLog.merge`` on ``event_id``, then a read over both snapshots."""

    GRAPH = "bench_incremental"

    def __init__(self, bench) -> None:
        self.b = bench
        self.batches = sorted(glob.glob(os.path.join(bench.data_dir, "inc", "batch-*.parquet")))
        self.problems: dict[str, list[str]] = {}
        self.layer: dict[str, float] = {}
        self.per_op: list[dict] = []

    def _graph(self, landing: str):
        from dags_spark.graph.core import Graph

        g = Graph(self.GRAPH)
        g.source("events", landing, schema=EVENTS_DDL)

        @g.node(name="latest", upstream=["events"], unique_on=["user_id", "event_type"],
                order_by=["ts"], materialize=True)
        def latest(spark, deps):
            return deps["events"]

        @g.node(name="history", upstream=["events"], materialize=True)
        def history(spark, deps):
            return deps["events"]

        return g

    def warmup(self) -> None:
        """A throwaway episode over the first two batches: both graph
        branches (fresh write, then upsert) and both merge branches."""
        self._episode("warmup", self.batches[:2])

    def round(self, r: int) -> list[Op]:
        return self._episode(f"ep{r}", self.batches)

    def _episode(self, tag: str, batches: list[str]) -> list[Op]:
        from dags_spark.tablelog import TableLog

        base = os.path.join(self.b.work_dir, "incremental", tag)
        landing, out = os.path.join(base, "landing"), os.path.join(base, "out")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(landing)
        g = self._graph(landing)
        tl = TableLog(os.path.join(base, "log"))
        ops, results, landed = [], [], []
        for path in batches:
            op = self.b.new_op("incremental_batch")
            rec = {"graph_bytes": 0, "log_bytes": 0}
            t0 = time.perf_counter()
            try:
                results.append(self._op(g, tl, landing, out, path, landed, rec))
            except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
                op.error = f"{type(e).__name__}: {e}"
                results.append(None)
            op.latency = time.perf_counter() - t0
            ops.append(op)
            if tag != "warmup":
                self.per_op.append(rec)
        problems = self._check(landing, out, tl, landed, results)
        if problems:
            self.problems[tag] = problems
            for op in ops:
                op.error = op.error or "episode output check failed"
        elif tag != "warmup":
            self._record_state(landing, out, tl)
        shutil.rmtree(base, ignore_errors=True)
        return ops

    def _op(self, g, tl, landing, out, path, landed, rec) -> list:
        from pyspark.sql import functions as F

        b, tr = self.b, self.b.tracer
        spark = b.spark
        with tr.span("bench.op"):
            with tr.span("bench.land"):
                dst = os.path.join(landing, os.path.basename(path))
                shutil.copyfile(path, dst)
                landed.append(dst)
            t_ns = time.time_ns()
            with tr.span("graph.run", jobs=True):
                g.run(spark, output_dir=out, incremental=True)
            rec["graph_bytes"] = _tree_bytes(out, t_ns)
            t_ns = time.time_ns()
            with tr.span("tablelog.merge", jobs=True):
                tl.merge(spark, spark.read.parquet(dst), ["event_id"])
            rec["log_bytes"] = _tree_bytes(tl.path, t_ns)
            with tr.span("queries.read"):
                with tr.span("tablelog.read", jobs=True):
                    log_df = tl.read(spark)
                    latest_df = spark.read.parquet(os.path.join(out, "latest"))
                    cents = F.round(F.col("value") * 100).cast("long")
                    q = (
                        log_df.groupBy("event_type")
                        .agg(F.count(F.lit(1)).alias("log_rows"), F.sum(cents).alias("log_cents"))
                        .join(
                            latest_df.groupBy("event_type").agg(
                                F.count(F.lit(1)).alias("n_keys"),
                                F.max("event_id").alias("max_event_id"),
                                F.sum(cents).alias("latest_cents"),
                            ),
                            "event_type",
                        )
                    )
                with tr.span("spark.action", jobs=True):
                    rows = q.collect()
        return sorted(tuple(r) for r in rows)

    def _check(self, landing, out, tl, landed, results) -> list[str]:
        """Every read against DuckDB over the rows landed so far, and the
        final state: latest snapshot == latest per key, history == every
        landed row once, table log == landed rows deduped by event_id,
        ledger == every landed file once."""
        import duckdb

        def flist(paths):
            return "[" + ", ".join(f"'{p}'" for p in paths) + "]"

        problems = []
        con = duckdb.connect()
        try:
            for i, got in enumerate(results):
                want = [tuple(r) for r in con.execute(
                    _READ_EXPECTED_SQL.format(files=flist(landed[: i + 1]))).fetchall()]
                if got != want:
                    problems.append(f"read after batch {i}: {got} != {want}")
            if len(results) != len(landed) or None in results:
                problems.append("an op raised before its batch was read back")
                return problems
            files = flist(landed)
            landed_sql = (
                f"SELECT *, CAST(regexp_extract(filename, 'batch-([0-9]+)', 1) AS INT) AS b"
                f" FROM read_parquet({files}, filename = true)"
            )
            expect = {
                "latest": f"""SELECT event_id, user_id, event_type, epoch_us(ts), value, props
                    FROM ({landed_sql}) QUALIFY row_number() OVER
                    (PARTITION BY user_id, event_type ORDER BY ts DESC) = 1""",
                "history": _ROWS_SQL.format(files=files),
                "tablelog": f"""SELECT event_id, user_id, event_type, epoch_us(ts), value, props
                    FROM ({landed_sql}) QUALIFY row_number() OVER
                    (PARTITION BY event_id ORDER BY b DESC) = 1""",
            }
            actual = {
                "latest": _ROWS_SQL.format(files=f"'{out}/latest/*.parquet'"),
                "history": _ROWS_SQL.format(files=f"'{out}/history/*.parquet'"),
                "tablelog": _ROWS_SQL.format(
                    files=flist(os.path.join(tl.path, f) for f in tl.snapshot()["files"])),
            }
            for name in expect:
                want = sorted(con.execute(expect[name]).fetchall())
                got = sorted(con.execute(actual[name]).fetchall())
                if got != want:
                    problems.append(f"{name}: {len(got)} rows differ from the expected {len(want)}")
        finally:
            con.close()
        with open(os.path.join(out, "_ledger", f"{self.GRAPH}.events.json")) as fh:
            ledger = json.load(fh)["files"]
        if sorted(ledger) != sorted(landed) or len(set(ledger)) != len(ledger):
            problems.append(f"ledger lists {ledger}, landed {landed}")
        return problems

    def _record_state(self, landing, out, tl) -> None:
        """State after a full episode (identical work every episode)."""
        landed_bytes = _tree_bytes(landing)
        stored = _tree_bytes(out) + _tree_bytes(tl.path)
        n_out = sum(len(glob.glob(os.path.join(out, n, "part-*"))) for n in ("latest", "history"))
        with open(os.path.join(out, "_ledger", f"{self.GRAPH}.events.json")) as fh:
            n_ledger = len(json.load(fh)["files"])
        self.layer.update({
            "stored_bytes_per_input_byte": stored / landed_bytes,
            "graph.output_files": n_out,
            "graph.ledger_files": n_ledger,
            "tablelog.live_files": len(tl.snapshot()["files"]),
            "tablelog.versions": tl.latest_version(),
        })

    def verify(self) -> None:
        """Checked per episode, inside ``_episode``."""


WORKLOADS = {"llm_corpus": LlmCorpus, "incremental": Incremental}
