#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):
    python3 olapbench/run.py --workload olap_dashboard --seed 1 \
        --seconds 14 --trace 0

Builds the engine and the benchmark harness from source on first use
(build.py, cached under .bench_build/ by a digest of the sources), writes the
base tables once, generates this seed's inputs, runs the harness JVM,
checks every timed result against a DuckDB reference, and prints one
JSON object as the last line of standard output. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones from the same workload run with spans and a job listener on.

Exit status: 0 when every result checked out, 1 when any operation
failed or any result was wrong, 2 for bad arguments or a checkout
without the engine sources, 3 when the build or the harness failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "olapbench")
WORKLOADS = ("olap_dashboard", "curate_pipeline")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(code, msg):
    print(f"olapbench: {msg}", file=sys.stderr)
    sys.exit(code)


def pct(values, q):
    """q-th percentile (0-100), linear between closest ranks; None when
    nothing completed (the run then reports its failures)."""
    v = sorted(values)
    if not v:
        return None
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(out):
    ops = [o for o in out["ops"] if not o.get("error")]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    writes = [o["ms"] for o in ops if o["kind"] == "write"]
    m = {
        "setup_s": (out["setup_ms"] / 1000, "s"),
        "latency_p50_ms": (pct(reads, 50), "ms"),
        "latency_p90_ms": (pct(reads, 90), "ms"),
        "ops_per_s": (len(ops) / out["measured_s"], "1/s"),
        "write_p50_ms": (pct(writes, 50), "ms"),
        "peak_rss_mb": (out["peak_rss_mb"], "MB"),
    }
    return m, {"reads": len(reads), "writes": len(writes)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="test hook: alter one result before the check")
    a = ap.parse_args()
    t_start = time.monotonic()
    if a.workload not in WORKLOADS:
        fail(2, f"unknown workload {a.workload!r}; one of {WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, f"engine sources not found under {ROOT}")

    sys.path.insert(0, HERE)
    import build
    import check
    import datagen
    import inputs as gen
    import layers

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(3, str(e))
    t_built = time.monotonic()
    data_dir = os.path.join(BUILD, "data")
    datagen.ensure(data_dir)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = gen.make(a.workload, a.seed, work, data_dir)
    cpus = min(4, os.cpu_count() or 1)
    inp.update({"workload": a.workload, "seconds": a.seconds, "cpus": cpus,
                "trace": bool(a.trace),
                "data_dir": data_dir, "work_dir": work})
    in_path = os.path.join(work, "inputs.json")
    out_path = os.path.join(work, "out.json")
    with open(in_path, "w") as f:
        json.dump(inp, f)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed heap size, young generation and marking threshold
           # keep the heap high-water mark (peak_rss_mb) from following
           # GC timing
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-G1UseAdaptiveIHOP",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", classpath, "olapbench.Main", in_path, out_path])
    limit = RUN_LIMIT_S - (time.monotonic() - t_built) - 10
    # few malloc arenas: native memory, and with it peak_rss_mb, stays
    # independent of which threads happened to allocate first
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    try:
        code, _, err = build.run_group(cmd, limit, cwd=work, env=env,
                                 stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(3, "harness timed out")
    if code != 0 or not os.path.exists(out_path):
        sys.stderr.write(err[-4000:])
        fail(3, f"harness exited with {code}")
    with open(out_path) as f:
        out = json.load(f)
    if a.corrupt and not check.corrupt(out):
        fail(3, "nothing to corrupt")
    if a.workload == "olap_dashboard":
        failures = check.check_dashboard(out, data_dir)
    else:
        failures = check.check_curate(out, data_dir, inp)
    for i, why in failures[:10]:
        print(f"olapbench: op {i} failed: {why}", file=sys.stderr)

    e2e, info = end_to_end(out)
    info.update({"workload": a.workload, "seed": a.seed,
                 "measured_s": out["measured_s"],
                 "calibration_ms": out.get("calibration_ms"),
                 "segcache_resident_bytes": out.get("segcache_resident_bytes"),
                 "wall_s": time.monotonic() - t_start})
    if a.workload == "curate_pipeline":
        docs = sum(o["n_docs"] for o in out["ops"]
                   if o["kind"] == "write" and not o.get("error"))
        info["docs_per_s"] = docs / out["measured_s"]
    if a.trace:
        metrics, extra = layers.per_layer(out, cpus)
        info.update(extra)
    else:
        metrics = e2e
    print(json.dumps({"info": info}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(out["ops"]),
        "failed": len({i for i, _ in failures}),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
