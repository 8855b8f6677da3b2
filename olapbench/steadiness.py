#!/usr/bin/env python3
"""Steadiness report: run one workload with several seeds and print, for
each metric, its median and its spread (interquartile range as a share
of the median), next to the bound BENCHMARK.json gives it.

Usage (from the repository root):
    python3 olapbench/steadiness.py --workload olap_dashboard --runs 10
    python3 olapbench/steadiness.py --workload curate_pipeline --runs 5 \
        --first-seed 100 --overhead

A spread at or below a third of the bound is marked "steady".
--overhead also runs each seed traced and reports the tracing overhead
on latency_p50_ms.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace=0):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"seed {seed}: run.py exited with {p.returncode}")
    info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), info


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    values, traced_p50 = {}, []
    for k in range(a.runs):
        seed = a.first_seed + k
        res, info = one_run(a.workload, seed, seconds)
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: wrong results")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if a.overhead:
            t, _ = one_run(a.workload, seed, seconds, 1)
            traced_p50.append(t["metrics"]["trace.latency_p50_ms"]["value"])
        print(f"seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}) +
            f" reads={info.get('reads')} writes={info.get('writes')}"
            f" measured_s={info.get('measured_s', 0):.1f}"
            f" calibration_ms={info.get('calibration_ms')}"
            f" wall_s={info.get('wall_s', 0):.1f}", flush=True)
    print(f"\n{a.workload}: {a.runs} runs, seeds {a.first_seed}.."
          f"{a.first_seed + a.runs - 1}, {seconds} s each")
    print(f"{'metric':32} {'median':>14} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        med, sp = spread(vals)
        b = bounds[name]
        verdict = ("steady" if sp <= b / 3 else "within bound" if sp <= b
                   else "TOO WIDE")
        print(f"{name:32} {med:14.4f} {sp:8.4f} {b:>6} {verdict}")
    if traced_p50:
        base = statistics.median(values["latency_p50_ms"])
        over = statistics.median(traced_p50) - base
        print(f"\ntracing overhead on latency_p50_ms: {over:+.2f} ms "
              f"({over / base:+.1%}), traced {statistics.median(traced_p50):.2f}"
              f" ms vs untraced {base:.2f} ms")


if __name__ == "__main__":
    main()
