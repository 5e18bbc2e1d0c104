"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. Generates (or reuses)
the seeded inputs, sets up the session users get (``get_spark()`` and the
registry's ``tune()``, no other conf), warms up, runs closed-loop ops for
``--seconds`` (whole rounds), checks every output, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits 1 when an output check failed, 2 when
the program is not there to benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

import generate  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
}

SELF_LAYERS = ["bench", "queries", "spark", "graph", "tablelog"]

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.all_specs_s": "s",
    "warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_share": "ratio",
    **{f"{k}.{p}": "s" for k in workloads.LLM_KEYS for p in ("build_s", "action_s")},
    "spark.action_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.core_busy_frac": "ratio",
    "spark.failed_tasks": "count",
    "operators.similarity.ivf_recall_at_k": "ratio",
    "operators.similarity.lsh_recall_at_k": "ratio",
    "operators.dedup.minhash_pairs": "count",
    "graph.run_s": "s",
    "graph.bytes_written_per_batch": "bytes",
    "graph.output_files": "count",
    "graph.ledger_files": "count",
    "tablelog.merge_s": "s",
    "tablelog.read_s": "s",
    "tablelog.bytes_written_per_batch": "bytes",
    "tablelog.live_files": "count",
    "tablelog.versions": "count",
    "tablelog.commit_conflicts": "count",
    **{f"{layer}.self_s_per_op": "s" for layer in SELF_LAYERS},
    "failed_frac": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "bench.generate_s": "s",
    "bench.tracing_overhead_frac": "ratio",
}


class Bench:
    """What a workload needs: the session, registry, inputs and tracer."""

    def __init__(self, data_dir: str, work_dir: str) -> None:
        self.data_dir = data_dir
        self.sf_dir = os.path.join(data_dir, "sf")
        self.work_dir = work_dir
        self.spark = None
        self.specs = None
        self.tracer = None
        self.n_ops = 0

    def new_op(self, key: str) -> workloads.Op:
        self.tracer.op = self.n_ops
        self.n_ops += 1
        return workloads.Op(self.n_ops - 1, key, self.tracer.enabled)


def _inputs(seed: int) -> tuple[str, float]:
    """The generated inputs for `seed`, generated once per generator
    version and reused; returns (dir, seconds the generation took)."""
    out = os.path.join(BENCH_DIR, ".data", f"{generate.digest()}-seed{seed}")
    timing = out + ".generate_s"
    if not os.path.exists(os.path.join(out, "manifest.json")):
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "generate.py"), "--seed", str(seed), "--out", out],
            check=True, stdout=subprocess.DEVNULL,
        )
        with open(timing, "w") as fh:
            fh.write(repr(time.perf_counter() - t0))
    with open(timing) as fh:
        return out, float(fh.read())


def _environ(work_dir: str) -> None:
    """Pin the environment before pyspark is imported. Every path Spark,
    the JVM and Python write to lies inside the run's work dir."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # no hsperfdata file: the JVM would write it under /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_kb(pids: list[int]) -> dict[int, int]:
    """Each process's peak resident set (VmHWM), in kB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
        except OSError:
            continue
    return out


def _stop(spark, pids: list[int]) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        deadline = time.monotonic() + 5


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_metrics(bench, workload, ops, setup: dict, generate_s: float, rss_mb: float) -> dict:
    """Per-layer metrics from the traced ops of a traced run. A metric of
    a layer this workload does not run reads 0."""
    tracer = bench.tracer
    traced = [o for o in ops if o.traced]
    n = len(traced)
    def span_total(name: str, op_filter=None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"] == name and (op_filter is None or s["op"] in op_filter)
        )

    m = {name: 0.0 for name in PER_LAYER}
    m["session.get_spark_s"] = setup["session_s"]
    m["registry.all_specs_s"] = setup["registry_s"]
    m["warmup_s"] = setup["warmup_s"]
    op_time = sum(o.latency for o in traced)
    build = span_total("queries.build")
    m["queries.build_s"] = build / n
    m["queries.build_share"] = build / op_time
    by_key: dict[str, set[int]] = {}
    for o in traced:
        by_key.setdefault(o.key, set()).add(o.id)
    for key, ids in by_key.items():
        if key in bench.specs:
            m[f"{key}.build_s"] = span_total("queries.build", ids) / len(ids)
            m[f"{key}.action_s"] = span_total("spark.action", ids) / len(ids)
    m["spark.action_s"] = span_total("spark.action") / n
    totals: dict = {}
    for c in tracer.counters.values():
        totals = stats.add_counts(totals, c)
    job_span_time = sum(
        s["end"] - s["start"] for s in tracer.spans if (s["op"], s["name"]) in tracer.counters
    )
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.jobs_per_op"] = totals.get("jobs", 0) / n
    m["spark.stages_per_op"] = totals.get("stages", 0) / n
    m["spark.tasks_per_op"] = totals.get("tasks", 0) / n
    m["spark.shuffle_write_bytes_per_op"] = totals.get("shuffle_write_bytes", 0) / n
    m["spark.shuffle_read_bytes_per_op"] = totals.get("shuffle_read_bytes", 0) / n
    m["spark.input_bytes_per_op"] = totals.get("input_bytes", 0) / n
    m["spark.spill_bytes_per_op"] = totals.get("spill_bytes", 0) / n
    m["spark.executor_run_s_per_op"] = totals.get("executor_run_ms", 0) / 1e3 / n
    m["spark.executor_cpu_s_per_op"] = totals.get("executor_cpu_ns", 0) / 1e9 / n
    if job_span_time:
        m["spark.core_busy_frac"] = totals.get("executor_run_ms", 0) / 1e3 / (job_span_time * cores)
    m["spark.failed_tasks"] = totals.get("failed_tasks", 0)
    m["graph.run_s"] = span_total("graph.run") / n
    m["tablelog.merge_s"] = span_total("tablelog.merge") / n
    m["tablelog.read_s"] = span_total("tablelog.read") / n
    per_op = getattr(workload, "per_op", [])
    if per_op:
        m["graph.bytes_written_per_batch"] = _mean(r["graph_bytes"] for r in per_op)
        m["tablelog.bytes_written_per_batch"] = _mean(r["log_bytes"] for r in per_op)
    m["tablelog.commit_conflicts"] = sum(1 for o in ops if o.error and "CommitConflict" in o.error)
    layer_self = stats.layer_self_times(tracer.spans)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s_per_op"] = layer_self.get(layer, 0.0) / n
    m.update(workload.layer)
    m["failed_frac"] = stats.failed_frac(len(ops), sum(1 for o in ops if o.error))
    m["bench.generate_s"] = generate_s
    m["peak_rss_mb"] = rss_mb
    # tracing overhead: traced vs untraced rounds of the same ops
    untraced = [o for o in ops if not o.traced]
    keys = {o.key for o in traced} & {o.key for o in untraced}
    if keys:
        t_on = sum(_mean(o.latency for o in traced if o.key == k) for k in keys)
        t_off = sum(_mean(o.latency for o in untraced if o.key == k) for k in keys)
        m["bench.tracing_overhead_frac"] = t_on / t_off - 1.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dags_spark", "__init__.py")):
        print(f"no dags_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    data_dir, generate_s = _inputs(args.seed)
    work_dir = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _environ(work_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, data_dir, work_dir, generate_s)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, data_dir: str, work_dir: str, generate_s: float) -> int:
    import pyspark

    from dags_spark.session import get_spark
    from tracing import Tracer

    bench = Bench(data_dir, work_dir)
    app = f"perfbench-{args.workload}"
    # set-up, as a user pays it: one cold session start (it launches the
    # JVM), the registry load and one warm-up pass
    t0 = time.perf_counter()
    spark = get_spark(app)
    session_s = time.perf_counter() - t0
    bench.spark = spark
    bench.tracer = Tracer(spark, enabled=False)
    t0 = time.perf_counter()
    from dags_spark.registry import all_specs

    bench.specs = all_specs()
    registry_s = time.perf_counter() - t0
    workload = workloads.WORKLOADS[args.workload](bench)
    t0 = time.perf_counter()
    workload.warmup()
    warmup_s = time.perf_counter() - t0
    setup = {
        "session_s": session_s,
        "registry_s": registry_s,
        "warmup_s": warmup_s,
    }
    setup_s = session_s + registry_s + warmup_s

    # measurement: whole rounds until --seconds have passed. A traced
    # run alternates untraced and traced rounds, at least three, so the
    # untraced rounds bracket the traced one for the overhead estimate.
    ops = []
    t_start = time.perf_counter()
    r = 0
    while True:
        bench.tracer.enabled = bool(args.trace) and r % 2 == 1
        ops.extend(workload.round(r))
        bench.tracer.collect_counters()
        r += 1
        if time.perf_counter() - t_start >= args.seconds and (not args.trace or r >= 3):
            break
    bench.tracer.enabled = False
    # memory of the program's processes, before the checks add their own
    pids = [os.getpid()] + _descendants(os.getpid())
    rss_kb = _peak_rss_kb(pids)
    rss_mb = sum(rss_kb.values()) / 1024.0

    workload.verify()
    failed = sum(1 for o in ops if o.error)
    correct = not workload.problems and failed == 0
    jvm = spark._jvm
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": spark.conf.get("spark.driver.memory", "unset"),
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "machine_cores": os.cpu_count(),
    }
    summ = None
    if args.trace:
        metrics = per_layer_metrics(bench, workload, ops, setup, generate_s, rss_mb)
        units = PER_LAYER
    else:
        lat = [o.latency for o in ops if not o.error] or [o.latency for o in ops]
        summ = stats.latency_summary(lat)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": summ["p50"],
            "op_tail_s": summ["tail"],
            "ops_per_s": len(lat) / sum(lat),
        }
        units = END_TO_END
    spans = bench.tracer.spans
    _stop(spark, pids[1:])

    record = {
        "env": env,
        "setup": setup,
        "peak_rss_kb": {str(p): kb for p, kb in rss_kb.items()},
        "ops": [{"key": o.key, "latency": o.latency, "traced": o.traced, "error": o.error} for o in ops],
        "problems": workload.problems,
        "warmup_times": getattr(workload, "warmup_times", {}),
        "latency_summary": summ,
        "metrics": metrics,
    }
    if args.trace:
        record["spans"] = spans
        record["counters"] = [
            {"op": op, "span": name, **c} for (op, name), c in bench.tracer.counters.items()
        ]
    runs = os.path.join(BENCH_DIR, ".runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for key, problems in workload.problems.items():
        print(f"CHECK FAILED {key}: {problems[:3]}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "s")} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
