"""Seeded input generator for the benchmark.

Writes, for one seed, everything the workloads read:

- ``sf/``: the ten fixture tables (TPC-H-ish star schema, ``events``,
  ``documents``, ``embeddings``) at sf0.1 row counts and value domains,
  one single-row-group parquet file each, in the same physical types
  the fixture tables use. All ten are written because the DuckDB oracle
  connection (``dags_spark.testing.duck_connect``) registers every
  fixture table. ``documents`` and ``embeddings`` copy the duplicate
  structure measured on the sf0.1 fixture (see ``perfbench/README.md``):
  8 exact duplicate texts, 4.9% near-duplicate replicas that differ
  from their source by one appended word, and random unit vectors with
  no near-duplicates at all.
- ``inc/batch-NNNNN.parquet``: ``events`` split into time-ordered
  batches. A seeded share of the rows in every batch after the first
  re-emit an earlier event (same ``event_id``, ``user_id`` and
  ``event_type``, a later ``ts`` and a new ``value``), so both the
  graph's ``unique_on`` upsert and the table log's merge replace rows.
- ``manifest.json``: the seed, the sizes and the generator's digest.

The same seed always gives byte-identical tables. Usage::

    python3 perfbench/generate.py --seed 7 --out perfbench/.data/seed-7
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts, the fixture tier the workloads are sized for.
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
# LLM corpus. Documents: the sf0.1 fixture's 5,000 rows hold 8 exact
# duplicate texts and 244 replicas, each a copy of another document
# with one word ("dup") appended or removed -- measured on the fixture,
# see README.md. Embeddings: the fixture's vectors are i.i.d. unit
# vectors (nearest-neighbour cosine at most 0.6), so none are copies.
# The similarity keys cost O(vectors^2) per bucket or block, so the
# embedding corpus is sized for a few seconds per ANN op on four cores,
# the fixture's sf0.01 size, not sf0.1's 2,000.
N_DOCUMENTS = 5_000
N_EXACT_DUPS = 8
N_DOC_REPLICAS = 244
N_EMBEDDINGS = 500
DIM = 64
# Incremental: events split into this many batches; this share of each
# later batch re-emits an earlier event_id. An assumption, not a
# measurement: the fixture never repeats an event_id. It only sets how
# many rows the table log's merge on event_id replaces; the graph's
# (user_id, event_type) upsert replaces rows without it, since the
# fixture's domain has 7,500 such keys for 100k events.
N_BATCHES = 6
REEMIT_SHARE = 0.1

VOCAB = (
    "query row stream the batch sort value hash filter big data dup part"
    " column order scan a slow agg key window table merge vector join"
    " spark line small fast group customer"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

EPOCH_DAY_US = 86_400_000_000


def digest() -> str:
    """Digest of this file: a changed generator never reuses old data."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def _days_to_ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return pa.array(base + days.astype("int64") * EPOCH_DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="snappy")


def star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    adj = np.asarray(ADJ, dtype=object)[rng.integers(0, len(ADJ), N_PART)]
    noun = np.asarray(NOUN, dtype=object)[rng.integers(0, len(NOUN), N_PART)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], pa.string()),
        "p_type": _pick(rng, PTYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        # 1995-01-01 .. 2001-08-01
        "o_orderdate": _days_to_ts(rng.integers(0, 2404, N_ORDERS), "1995-01-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _days_to_ts(rng.integers(0, 2498, n), "1995-01-02"),
    })
    return out


def events_table(rng: np.random.Generator) -> pa.Table:
    """100k events over January 2024 with strictly increasing, unique
    microsecond timestamps (so "latest per key" never ties)."""
    n = N_EVENTS
    span = 30 * EPOCH_DAY_US
    offs = np.sort(rng.integers(0, span - n, n)) + np.arange(n)
    base = np.datetime64("2024-01-01", "us").astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def documents_table(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents with the fixture's duplicate structure: a
    few exact duplicates and near-duplicate replicas that append one
    word to a copy of another document."""
    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, N_DOCUMENTS)]
    n_copy = N_EXACT_DUPS + N_DOC_REPLICAS
    picked = rng.choice(N_DOCUMENTS, 2 * n_copy, replace=False)
    for i, (dst, src) in enumerate(zip(picked[:n_copy], picked[n_copy:])):
        words[dst] = words[src] + ([] if i < N_EXACT_DUPS else ["dup"])
    texts = [" ".join(w) for w in words]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    """I.i.d. unit-norm float32 vectors with uniform labels 0-9."""
    vecs = rng.standard_normal((N_EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    n = len(vecs)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def batches(rng: np.random.Generator, events: pa.Table) -> list[pa.Table]:
    """Split time-ordered events into N_BATCHES contiguous batches; in
    every batch after the first, REEMIT_SHARE of the rows take over the
    identity of a distinct earlier event. Their own ts (later than every
    earlier batch) and value are kept, so they replace the earlier row
    under both ``event_id`` and ``(user_id, event_type)`` keys."""
    n = events.num_rows
    ids = events["event_id"].to_numpy().copy()
    users = events["user_id"].to_numpy().copy()
    types = events["event_type"].to_numpy(zero_copy_only=False).copy()
    bounds = np.linspace(0, n, N_BATCHES + 1).astype(int)
    reemitted = np.zeros(n, dtype=bool)
    for b in range(1, N_BATCHES):
        lo, hi = bounds[b], bounds[b + 1]
        earlier = np.flatnonzero(~reemitted[:lo])
        k = int((hi - lo) * REEMIT_SHARE)
        src = rng.choice(earlier, k, replace=False)
        dst = lo + rng.choice(hi - lo, k, replace=False)
        ids[dst], users[dst], types[dst] = ids[src], users[src], types[src]
        # a source re-emitted once is not picked again, so no event_id
        # appears twice inside one batch
        reemitted[src] = True
        reemitted[dst] = True
    t = events.set_column(0, "event_id", pa.array(ids, pa.int64()))
    t = t.set_column(2, "user_id", pa.array(users, pa.int64()))
    t = t.set_column(3, "event_type", pa.array(types, pa.string()))
    return [t.slice(bounds[b], bounds[b + 1] - bounds[b]) for b in range(N_BATCHES)]


def generate(seed: int, out: str) -> dict:
    """Write every input for `seed` under `out` (atomically: a partial
    directory is never left under the final name)."""
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "sf"))
    os.makedirs(os.path.join(tmp, "inc"))
    tables = star_tables(rng)
    tables["events"] = events_table(rng)
    tables["documents"] = documents_table(rng)
    tables["embeddings"] = embeddings_table(rng)
    for name, t in tables.items():
        _write(t, os.path.join(tmp, "sf", f"{name}.parquet"))
    for i, b in enumerate(batches(rng, tables["events"])):
        _write(b, os.path.join(tmp, "inc", f"batch-{i:05d}.parquet"))
    manifest = {
        "seed": seed,
        "generator": digest(),
        "rows": {name: t.num_rows for name, t in tables.items()},
        "batches": N_BATCHES,
        "reemit_share": REEMIT_SHARE,
        "exact_dup_docs": N_EXACT_DUPS,
        "doc_replicas": N_DOC_REPLICAS,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    print(json.dumps(generate(args.seed, args.out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
