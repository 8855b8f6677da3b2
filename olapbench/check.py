"""Output checks: every timed result against a DuckDB reference.

References run after the engine's process has exited, so they sit
outside both the timed region and set-up. Each one is the oracle SQL the
JVM side reported for the result (the battery's SparkEntry.oracleSql
entry, or the SQL written next to a benchmark-only tile), run over views
of exactly the rows the engine saw.
"""
import hashlib
import json
import math
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon_value(v):
    if isinstance(v, (Decimal, float, int)) and not isinstance(v, bool):
        return float(v)
    if isinstance(v, str):
        try:
            # the JVM side sends decimals as plain strings
            if v and (v[0].isdigit() or v[0] == "-") and \
                    all(c in "0123456789.-E" for c in v):
                return float(v)
        except ValueError:
            pass
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if v is None:
        return None
    return str(v)


def canon(cols, rows):
    """Columns sorted by name, rows by value: the engine and the oracle
    may order both differently."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in idx) for r in rows]
    return [cols[i] for i in idx], sorted(out, key=lambda t: repr(t))


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def result_hash(cols, rows):
    """Digest of the canonical result, floats to 9 significant digits."""
    def r(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, tuple):
            return [r(x) for x in v]
        return v
    c, rs = canon(cols, rows)
    body = json.dumps([c, [[r(v) for v in row] for row in rs]])
    return hashlib.sha1(body.encode()).hexdigest()[:16]


def mismatch(got_cols, got_rows, ref_cols, ref_rows):
    """None when equal, else why not. Equal hashes settle it; otherwise
    the rows are compared value by value with a 1e-6 relative float
    tolerance, so a last-digit difference is not a mismatch."""
    if result_hash(got_cols, got_rows) == result_hash(ref_cols, ref_rows):
        return None
    gc, gr = canon(got_cols, got_rows)
    rc, rr = canon(ref_cols, ref_rows)
    if gc != rc:
        return f"columns {gc} != {rc}"
    if len(gr) != len(rr):
        return f"{len(gr)} rows != {len(rr)}"
    for i, (a, b) in enumerate(zip(gr, rr)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


class Oracle:
    """DuckDB over the base tables, with some views swapped per check."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 2")
        for t in TABLES:
            self.view(t, f"SELECT * FROM '{data_dir}/{t}.parquet'")
        self.cache = {}

    def view(self, name, sql):
        self.con.sql(f"CREATE OR REPLACE VIEW {name} AS {sql}")

    def run(self, sql, key=None):
        if key is not None and key in self.cache:
            return self.cache[key]
        rel = self.con.sql(sql)
        res = (rel.columns, rel.fetchall())
        if key is not None:
            self.cache[key] = res
        return res


def _results(op):
    return op.get("results") or {}


def check_dashboard(out, data_dir):
    """Reads against the tile's oracle over the base tables plus every
    delta merged before the read; writes through the reads after them."""
    orc = Oracle(data_dir)
    base_events = f"SELECT * FROM '{data_dir}/events.parquet'"
    merged = []
    failures = []
    for op in out["ops"]:
        if op.get("error"):
            failures.append((op["i"], op["error"]))
            continue
        if op["kind"] == "write":
            merged.append(op["delta_path"])
            continue
        shape = op["label"]
        n = len(merged)
        if shape.startswith("events"):
            orc.view("events", " UNION ALL ".join(
                [base_events] + [f"SELECT * FROM '{p}'" for p in merged]))
            key = (shape, n)
        else:
            key = (shape, 0)
        ref_cols, ref_rows = orc.run(out["oracles"][shape], key)
        got = _results(op)["result"]
        why = mismatch(got["cols"], got["rows"], ref_cols, ref_rows)
        if why:
            failures.append((op["i"], f"{shape}: {why}"))
    return failures


def check_curate(out, data_dir, inputs):
    """Chain results against the battery oracles over views holding only
    the batch (plus the eval documents for decontamination); the cluster
    labels against the batch connected components."""
    orc = Oracle(data_dir)
    eval_docs = (f"SELECT * FROM '{data_dir}/documents.parquet' "
                 f"WHERE doc_id < {inputs['eval_max_id']}")
    batches = {b["id"]: b for b in inputs["batches"]}
    failures = []
    for op in out["ops"]:
        if op.get("error"):
            failures.append((op["i"], op["error"]))
            continue
        b = batches[op["batch"]]
        docs = f"SELECT * FROM read_parquet('{b['docs_dir']}/*.parquet')"
        orc.view("embeddings", f"SELECT * FROM '{b['vecs']}'")
        for name, got in _results(op).items():
            orc.view("documents", f"{docs} UNION ALL {eval_docs}"
                     if name == "decontam" else docs)
            ref_cols, ref_rows = orc.run(out["oracles"][name])
            why = mismatch(got["cols"], got["rows"], ref_cols, ref_rows)
            if why:
                failures.append((op["i"], f"{name}: {why}"))
    return failures


def corrupt(out):
    """Test hook: change one value of the first checked result."""
    for op in out["ops"]:
        for got in _results(op).values():
            for row in got["rows"]:
                for j, v in enumerate(row):
                    if isinstance(v, (int, float)) and not isinstance(v, bool):
                        row[j] = v + 1
                        return True
    return False
