#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the output check's reference values.

Usage (from the repository root): python3 perfbench/make_expected.py

For every workload, runs the harness's untimed round once with its outputs
written as parquet, compares each output with the query's DuckDB oracle SQL
over the same input tables (the comparison of tools/check_oracle.py), and
records the harness fingerprint of every output that matches. Exits non-zero,
writing nothing, if any output differs from its oracle.
"""
import json
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import canon  # noqa: E402

WORKLOADS = ["dashboard", "sweeps", "pretrain"]


def main():
    os.makedirs(run.WORK, exist_ok=True)
    run.build(run.source_digest())
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(run.DATA, f)}')")
    expected, bad = {}, 0
    for wl in WORKLOADS:
        dump = tempfile.mkdtemp(dir=run.WORK)
        args = SimpleNamespace(workload=wl, seed=0, seconds=0, trace=0)
        r = run.run_jvm(args, len(os.sched_getaffinity(0)), run.heap(), dump)
        with open(os.path.join(dump, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        expected[wl] = {}
        for q, fp in sorted(r["fingerprints"].items()):
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{dump}/{q}/*.parquet')").df())
            want = canon(con.execute(oracle[q]).df())
            if list(got.columns) == list(want.columns) and got.equals(want):
                print(f"OK    {wl} {q} ({len(got)} rows) {fp}")
                expected[wl][q] = fp
            else:
                print(f"FAIL  {wl} {q}: output differs from the DuckDB oracle")
                bad += 1
        missing = set(r["fingerprints"]) ^ set(oracle)
        if missing:
            print(f"FAIL  {wl}: no output or no oracle for {sorted(missing)}")
            bad += 1
        shutil.rmtree(dump)
    if bad:
        sys.exit(1)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
