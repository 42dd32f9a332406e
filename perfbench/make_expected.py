#!/usr/bin/env python3
"""Writes perfbench/expected.json: each workload query's row count and
result fingerprint, as this tree computes them on perfbench/data.

    python3 perfbench/make_expected.py

Run from the root of a checkout, once, when the workloads or the data
change. Every result is also dumped as parquet and checked with
tools/check_oracle.py (DuckDB) for the queries that have an oracle; the
file is written only if all of them pass. The fingerprints are taken from
the dumped parquet, i.e. from exactly what the oracle saw.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classpath = build.ensure(root)
    dump_root = os.path.join(root, ".bench_build", "expected")
    shutil.rmtree(dump_root, ignore_errors=True)
    expected = {}
    for workload in sorted(run.WORKLOADS):
        dump = os.path.join(dump_root, workload)
        os.makedirs(dump)
        args = argparse.Namespace(workload=workload, seed=0, seconds=0.0,
                                  trace=0)
        raw_path = os.path.join(dump, "raw.json")
        run.run_harness(root, classpath, args, raw_path,
                        os.path.join(dump, "spans.jsonl"),
                        extra=("--dump", dump))
        with open(raw_path) as fh:
            checks = json.load(fh)["checks"]
        with open(os.path.join(dump, "oracle_sql.json")) as fh:
            with_oracle = sorted(json.load(fh))
        if with_oracle:
            subprocess.run([sys.executable, "tools/check_oracle.py",
                            os.path.join(HERE, "data"), dump,
                            ",".join(with_oracle)], check=True)
        expected[workload] = {}
        for c in checks:
            if c["error"] is not None:
                raise SystemExit("%s failed: %s" % (c["name"], c["error"]))
            expected[workload][c["name"]] = {
                "rows": c["rows"], "fingerprint": c["fingerprint"],
                "oracle": "pass" if c["name"] in with_oracle else "none"}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(dump_root)


if __name__ == "__main__":
    main()
