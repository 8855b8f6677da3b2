"""Per-layer metrics of a traced run, from the spans and job counts the
harness recorded around each layer call.

A span's self time is its duration minus the part its child spans cover.
Times are means per timed operation that entered the layer; job, stage
and task counts are means per such operation too; segment-cache counts
are totals over the timed run. The ops.* and streaming.* families report
inclusive time (their forced execution included) and every job they
fired, because their result is the family's whole call.
"""
import statistics
from collections import defaultdict

SETUP_OP = 1_000_000   # Harness.SetupOp
OLAP_LAYERS = ["mdx.parse", "planner.build", "plans.catalyst", "exec",
               "pins.release"]
FAMILIES = ["ops.dedup", "ops.decontam", "ops.text", "ops.ann",
            "streaming.delta_apply", "streaming.ingest"]
COUNTS = ["jobs", "stages", "tasks", "task_run_ms", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "gc_ms"]


def _spans(out):
    spans = {s["id"]: dict(s, dur=s["end_ms"] - s["start_ms"], kids=0.0)
             for s in out["spans"]}
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["kids"] += s["dur"]
    for s in spans.values():
        s["self"] = s["dur"] - s["kids"]
    return spans


def per_layer(out, cpus):
    spans = _spans(out)
    timed = {o["i"] for o in out["ops"]}
    self_ms = defaultdict(lambda: defaultdict(float))   # layer -> op -> ms
    incl_ms = defaultdict(lambda: defaultdict(float))
    roots = {}
    for s in spans.values():
        if s["op"] in timed:
            self_ms[s["name"]][s["op"]] += s["self"]
            incl_ms[s["name"]][s["op"]] += s["dur"]
            if s["parent"] not in spans or spans[s["parent"]]["op"] != s["op"]:
                roots[s["op"]] = s
    jobs_by_span = defaultdict(lambda: defaultdict(lambda: defaultdict(int)))
    jobs_by_family = defaultdict(lambda: defaultdict(lambda: defaultdict(int)))
    for j in out["jobs"]:
        if j["op"] in timed:
            for c in COUNTS:
                jobs_by_span[j["span"]][j["op"]][c] += j[c]
                jobs_by_family[j["family"]][j["op"]][c] += j[c]

    def mean_ms(table, layer):
        per_op = table.get(layer, {})
        return statistics.fmean(per_op.values()) if per_op else 0.0

    def mean_count(table, layer, ops_with_layer, c):
        if not ops_with_layer:
            return 0.0
        return sum(table[layer][op][c] for op in ops_with_layer) / \
            len(ops_with_layer)

    m = {}
    for layer in OLAP_LAYERS:
        name = "exec.ms" if layer == "exec" else f"{layer}_ms"
        m[name] = (mean_ms(self_ms, layer), "ms")
    for layer in ("planner.build", "plans.catalyst"):
        m[f"{layer}_jobs"] = (mean_count(jobs_by_span, layer,
                                         list(self_ms[layer]), "jobs"),
                              "count")
    exec_ops = list(self_ms["exec"])
    for c in COUNTS:
        unit = "ms" if c.endswith("_ms") else \
            "bytes" if c.endswith("_bytes") else "count"
        m[f"exec.{c}"] = (mean_count(jobs_by_span, "exec", exec_ops, c), unit)
    exec_total = sum(self_ms["exec"].values())
    run_total = sum(jobs_by_span["exec"][op]["task_run_ms"] for op in exec_ops)
    m["exec.core_util"] = (run_total / (exec_total * cpus)
                           if exec_total else 0.0, "ratio")
    for fam in FAMILIES:
        ops = list(incl_ms[fam])
        m[f"{fam}_ms"] = (mean_ms(incl_ms, fam), "ms")
        m[f"{fam}_jobs"] = (mean_count(jobs_by_family, fam, ops, "jobs"),
                            "count")

    seg = defaultdict(int)
    for o in out["ops"]:
        for k, v in o["segcache"].items():
            seg[k] += v
    lookups = seg["hits"] + seg["misses"]
    m["segcache.hit_ratio"] = (seg["hits"] / lookups if lookups else 0.0,
                               "ratio")
    m["segcache.lookups"] = (lookups, "count")
    for k in ("misses", "evictions", "pinned_skips", "merges"):
        m[f"segcache.{k}"] = (seg[k], "count")
    m["segcache.resident_bytes"] = (out.get("segcache_resident_bytes", 0),
                                    "bytes")

    setup = {s["name"]: s["dur"] for s in spans.values()
             if s["op"] == SETUP_OP and s["name"].startswith("setup.")}
    for name in ("setup.session", "setup.cube_bind", "setup.warm"):
        m[f"{name}_ms"] = (setup.get(name, 0.0), "ms")

    # how much of each operation's wall time its layer spans explain
    cover = [1 - r["self"] / r["dur"] for r in roots.values() if r["dur"] > 0]
    m["trace.coverage_min"] = (min(cover) if cover else 0.0, "ratio")
    m["trace.coverage_median"] = (statistics.median(cover) if cover else 0.0,
                                  "ratio")
    reads = sorted(o["ms"] for o in out["ops"]
                   if o["kind"] == "read" and not o.get("error"))
    m["trace.latency_p50_ms"] = (statistics.median(reads) if reads else 0.0,
                                 "ms")

    # job windows per dashboard tile / curate operator family: the
    # baseline for a jobs-per-query budget
    windows = {"planner.build": "build", "build": "build",
               "plans.catalyst": "catalyst", "exec": "exec"}
    labels = {o["i"]: o["label"] for o in out["ops"] if o["kind"] == "read"}
    per_op = defaultdict(lambda: defaultdict(lambda: defaultdict(int)))
    for j in out["jobs"]:
        if j["op"] in labels and j["span"] in windows:
            key = j["family"] if j["family"].startswith("ops.") \
                else labels[j["op"]]
            per_op[key][j["op"]][windows[j["span"]]] += j["jobs"]
    per_shape = {k: {w: statistics.median(ops[op][w] for op in ops)
                     for w in ("build", "catalyst", "exec")}
                 for k, ops in sorted(per_op.items())}
    return m, {"jobs_per_shape": per_shape}
