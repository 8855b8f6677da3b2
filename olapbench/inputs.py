"""Per-seed workload inputs: what the benchmark sends to the engine.

The same seed always gives the same inputs. The base tables (datagen)
are shared by every seed; a seed shapes the operation sequence, the
insert-deltas and the document/embedding micro-batches.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# olap_dashboard: tile -> reads per deck. Hot tiles are read twice per
# deck, the rest once; the seed only shuffles each deck. The weights put
# the deck's median read among ytd and drill_cell (ranks 8-11 of 16)
# rather than in the gap between them and the seven faster reads, so
# latency_p50_ms does not jump between two tiles' costs from run to run.
DASHBOARD_WEIGHTS = {
    "mdx_select": 2, "events_by_day": 2, "ytd": 2, "drill_cell": 2,
    "mdx_topcount": 1, "mdx_calc": 1, "mdx_tuple": 1, "mdx_dimcalc": 1,
    "mdx_dimcalc_where": 1, "mdx_order_h": 1, "rollup": 1,
    "events_purchase_by_day": 1,
}
WRITE_EVERY = 6      # every 6th operation merges an insert-delta
DELTA_ROWS = 200
DECKS = 8            # more than any run gets through

# curate_pipeline
EVAL_MAX_ID = 250    # documents below this id are the fixed eval set
BATCH_DOCS = 250
BATCH_VECS = 200
PROBE_IDS = 5        # vec_id < 5 are the ANN probes of every batch
WARM_DOCS = BATCH_DOCS  # warm-up on a full-size batch


def dashboard(rng, work):
    """Decks of shuffled tile reads with a write after every
    WRITE_EVERY - 1 reads; each write gets its own delta file."""
    tiles = [t for t, w in DASHBOARD_WEIGHTS.items() for _ in range(w)]
    ops, n_writes = [], 0
    os.makedirs(os.path.join(work, "deltas"), exist_ok=True)
    for deck in range(DECKS):
        order = [tiles[i] for i in rng.permutation(len(tiles))]
        for k, tile in enumerate(order):
            ops.append({"kind": "read", "shape": tile, "deck": deck})
            if (k + 1) % (WRITE_EVERY - 1) == 0:
                path = os.path.join(work, "deltas", f"delta_{n_writes}.parquet")
                first = 10_000_000 + 1000 * n_writes
                pq.write_table(datagen.events_table(rng, DELTA_ROWS, first),
                               path)
                ops.append({"kind": "write", "delta": path, "deck": deck})
                n_writes += 1
    return {"ops": ops}


def _land_batch(docs, vecs, doc_ids, vec_ids, out_dir):
    """Write one batch: its documents as one stream file (one streaming
    micro-batch) in a directory of their own, its embeddings beside."""
    os.makedirs(os.path.join(out_dir, "docs"), exist_ok=True)
    sel = docs.filter(pc.is_in(docs["doc_id"], value_set=doc_ids))
    pq.write_table(sel, os.path.join(out_dir, "docs", "part-0.parquet"))
    vpath = os.path.join(out_dir, "vecs.parquet")
    pq.write_table(vecs.filter(pc.is_in(vecs["vec_id"], value_set=vec_ids)),
                   vpath)
    return {"docs_dir": os.path.join(out_dir, "docs"), "vecs": vpath,
            "n_docs": sel.num_rows}


def curate(rng, work, data_dir):
    """A seeded pass over the non-eval documents in batches of
    BATCH_DOCS, each with a seeded embedding subset plus the probes."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    vecs = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    doc_ids = rng.permutation(np.arange(EVAL_MAX_ID, datagen.N_DOCS))
    vec_ids = rng.permutation(np.arange(PROBE_IDS, datagen.N_EMBEDDINGS))
    probes = np.arange(PROBE_IDS)

    def land(name, d, v):
        return _land_batch(docs, vecs, pa.array(d, pa.int64()),
                           pa.array(np.concatenate([probes, v]), pa.int64()),
                           os.path.join(work, name))

    batches = []
    for b in range(len(doc_ids) // BATCH_DOCS):
        d = doc_ids[b * BATCH_DOCS:(b + 1) * BATCH_DOCS]
        j = (b * BATCH_VECS) % len(vec_ids)
        batch = land(f"batch_{b}", d, vec_ids[j:j + BATCH_VECS])
        batch["id"] = b
        batches.append(batch)
    warm = land("warm", rng.choice(doc_ids, WARM_DOCS, replace=False),
                rng.choice(vec_ids, BATCH_VECS, replace=False))
    warm["id"] = -1
    return {"batches": batches, "warm_batch": warm,
            "eval_max_id": EVAL_MAX_ID}


def make(workload, seed, work, data_dir):
    rng = np.random.default_rng(seed)
    if workload == "olap_dashboard":
        return dashboard(rng, work)
    return curate(rng, work, data_dir)
