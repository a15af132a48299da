#!/usr/bin/env python3
"""Derive perfbench/fingerprints.json from the DuckDB oracle path.

Usage (from the repository root):
    python3 perfbench/make_fingerprints.py

Steps, each of which must succeed:
  1. graft.Verify writes every query's result over perfbench/data/sf0.01;
  2. tools/check.py compares each result with its DuckDB oracle query;
  3. the benchmark runs every query twice and fingerprints the rows it
     consumes (row count plus an order-insensitive row hash), requires
     both runs and the oracle-checked rows from step 1 to fingerprint
     the same, and writes the fingerprints.

Run it again only when the data or a query's intended result changes.
"""
import os
import shutil
import subprocess
import sys

import run

DATA = os.path.join(run.BENCH, "data", "sf0.01")


def main():
    cp = run.build()
    work = os.path.join(run.BENCH, ".work", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    verify_out = os.path.join(work, "verify")
    code, _ = run.run_java(
        run.java_cmd(cp, "graft.Verify", [DATA, verify_out], work), work, 3600)
    if code != 0:
        raise SystemExit(f"graft.Verify failed (exit {code})")
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), DATA, verify_out])
    if check.returncode != 0:
        raise SystemExit("the DuckDB oracle check failed; fingerprints not written")
    out = os.path.join(run.BENCH, "fingerprints.json")
    code, lines = run.run_java(run.java_cmd(cp, "perfbench.Main", [
        "--workload", "fingerprints", "--bench-dir", run.BENCH,
        "--work-dir", work, "--cpus", str(run.cpus()),
        "--verify-out", verify_out, "--out", out], work), work, 3600)
    if code != 0:
        raise SystemExit(f"fingerprinting failed (exit {code})")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
