#!/usr/bin/env python3
"""The benchmark's own test: its output check must fire on a wrong
result, and the command must refuse a checkout without the engine.

Usage (from the repository root):
    python3 olapbench/selftest.py          # checker + bare-directory run
    python3 olapbench/selftest.py --e2e    # also a real run whose result
                                           # is corrupted before the check
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402


def test_checker():
    cols = ["cr_region", "revenue", "n"]
    rows = [["ASIA", "1234.5600000000", 3], ["EUROPE", "99.0100000000", 7]]
    ref = (["n", "cr_region", "revenue"],
           [(7, "EUROPE", 99.01), (3, "ASIA", 1234.56)])
    assert check.mismatch(cols, rows, *ref) is None, "reordering is equal"
    near = [["ASIA", 1234.56 * (1 + 1e-9), 3], ["EUROPE", 99.01, 7]]
    assert check.mismatch(cols, near, *ref) is None, "float noise is equal"
    bad_value = [["ASIA", "1234.5600000000", 4], rows[1]]
    assert check.mismatch(cols, bad_value, *ref), "changed count"
    assert check.mismatch(cols, rows[:1], *ref), "dropped row"
    assert check.mismatch(["cr_nation", "revenue", "n"], rows, *ref), \
        "renamed column"
    out = {"ops": [{"results": {"result": {"cols": cols,
                                           "rows": [list(r) for r in rows]}}}]}
    assert check.corrupt(out)
    got = out["ops"][0]["results"]["result"]
    assert check.mismatch(got["cols"], got["rows"], *ref), "corrupt hook"
    print("checker: ok")


def test_bare_directory():
    """A directory holding only BENCHMARK.json and the benchmark must make
    the command fail fast without printing a result."""
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "olapbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "olapbench/run.py", "--workload",
                        "olap_dashboard", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=60)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print("bare directory: refused with exit", p.returncode)


def test_corrupted_run():
    p = subprocess.run([sys.executable, "olapbench/run.py", "--workload",
                        "olap_dashboard", "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--corrupt"], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode == 1, p.returncode
    assert res["correct"] is False and res["failed"] >= 1, res
    print(f"corrupted run: caught ({res['failed']} of {res['attempted']} "
          "operations failed), exit 1")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--e2e", action="store_true")
    a = ap.parse_args()
    test_checker()
    test_bare_directory()
    if a.e2e:
        test_corrupted_run()


if __name__ == "__main__":
    main()
