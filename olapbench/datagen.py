"""Base tables for the benchmark, generated from a fixed seed.

The schemas, types and value domains follow the TPC-H-ish star and the
events/documents/embeddings tables the engine's cubes and operators are
written against (FIXTURES.md section B). The star and the events table
are sized like sf0.01; documents and embeddings are sized like sf0.1.

The base tables never depend on the workload seed: the seed only shapes
what the benchmark sends to the engine (query order, deltas, batches).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "1"
BASE_SEED = 42

STAR_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000}
N_DOCS = 5000
N_EMBEDDINGS = 2000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENTS_DAYS = 30


def _days_us(start, end):
    """Microseconds since the epoch for the first and last day given."""
    s = np.datetime64(start, "us").astype(np.int64)
    e = np.datetime64(end, "us").astype(np.int64)
    return s, e


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _star(rng, out_dir):
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n = STAR_SIZES["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, n))}))
    n = STAR_SIZES["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}))
    n = STAR_SIZES["part"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n),
                                              rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": list(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)}))
    n = STAR_SIZES["orders"]
    lo, hi = _days_us("1995-01-01", "2001-08-01")
    days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, STAR_SIZES["customer"], n),
                              pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts(lo + days * US_PER_DAY),
        "o_orderpriority": list(rng.choice(PRIORITIES, n))}))
    n = STAR_SIZES["lineitem"]
    lo, hi = _days_us("1995-01-02", "2001-11-04")
    days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, STAR_SIZES["orders"], n),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, STAR_SIZES["part"], n),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, STAR_SIZES["supplier"], n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(lo + days * US_PER_DAY)}))


def events_table(rng, n, first_id):
    """`n` events inside the base table's 30-day window, ids from
    `first_id` on. Deltas use the same generator, so every delta row
    lands on an existing day and event type."""
    ts = np.sort(EVENTS_START_US +
                 rng.integers(0, EVENTS_DAYS * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(first_id + np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, out_dir):
    texts = []
    for _ in range(N_DOCS):
        texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    # 5% near-duplicates (a copy of another document plus one token)
    # and a few exact duplicates, so dedup and clustering find work
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)] + " dup"
    for i in rng.choice(N_DOCS, 8, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))


def _embeddings(rng, out_dir):
    v = rng.normal(size=(N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32())}))


def ensure(out_dir):
    """Write the base tables into `out_dir` unless this version is
    already there."""
    stamp = os.path.join(out_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    _star(rng, out_dir)
    _write(out_dir, "events",
           events_table(rng, STAR_SIZES["events"], first_id=0))
    _documents(rng, out_dir)
    _embeddings(rng, out_dir)
    with open(stamp, "w") as f:
        f.write(VERSION)
