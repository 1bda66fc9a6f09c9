#!/usr/bin/env python3
"""Records perfbench/fingerprints.json: the expected output of every query
the batch workloads run.

    python3 perfbench/record_fingerprints.py

Run from the root of a checkout at the commit whose outputs are the
reference. It runs the check pass of every batch workload's query list
against perfbench/data, cross-checks the results against DuckDB with
tools/selfcheck.py for every query that has oracle SQL, and writes the row
count and order-independent hash of each result. It refuses to write when
a query fails or the oracle disagrees.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main():
    root = os.getcwd()
    cp = run.classpath(root)
    queries = [q for qs, _ in run.WORKLOADS.values() if qs for q in qs]
    work = os.path.join(root, "perfbench", "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(root, run.DATA)
    r = run.run_jvm(root, cp, work, [
        "--workload", "record", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--check-only", "1", "--data", data,
        "--queries", ",".join(queries)], deadline=float("inf"))
    if r["check_failed"]:
        sys.exit("queries failed: %s" % r["check_failed"])
    out = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    check = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "selfcheck.py"), data,
         out], capture_output=True, text=True)
    print(check.stdout.strip())
    if "ORACLE PASS %d/%d" % (len(oracle), len(oracle)) not in check.stdout:
        sys.exit("DuckDB cross-check failed")
    print("oracle-checked: %d, fingerprint only: %s" % (
        len(oracle), sorted(set(queries) - set(oracle))))
    prints = {q: run.fingerprint(run.parquet_rows(os.path.join(out, q)))
              for q in queries}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump(prints, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
