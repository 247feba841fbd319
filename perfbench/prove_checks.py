#!/usr/bin/env python3
"""Show that every workload's checks can fail.

    python3 perfbench/prove_checks.py [--only NAME ...]

Runs each workload once per deliberately wrong result, fed to its verifier
through run.py's --inject, and requires the run to report
"correct": false. Exits 1 if any wrong result passed. Run from the root of
a checkout; takes about ten minutes.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

FAULTS = [
    ("curate", "ingest-drop-row", "a loaded row is missing from the table"),
    ("curate", "ingest-truncate-value", "the float column's sum is truncated"),
    ("curate", "ingest-extra-column", "the table has a column nobody loaded"),
    ("curate", "ingest-chunk-over-limit", "a chunk holds one byte over the size limit"),
    ("serve", "serve-drop-row", "the final lineitem lacks one row"),
    ("serve", "serve-stale-snapshot", "a time-travel read returns a changed value"),
    ("curate", "curate-wrong-neighbour", "an ANN result names the wrong neighbour"),
    ("curate", "curate-perturbed-rank", "one PageRank value is off by one"),
    ("curate", "curate-wrong-representative", "a component's representative is wrong"),
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", help="fault names to run")
    args = ap.parse_args()
    missed = []
    for workload, fault, what in FAULTS:
        if args.only and fault not in args.only:
            continue
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0", "--inject", fault],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        correct = json.loads(lines[-1])["correct"] if out.returncode == 0 and lines else None
        caught = [l for l in out.stderr.splitlines() if "CHECK FAILED" in l]
        verdict = "caught" if correct is False else "MISSED"
        print(f"{verdict:7s} {fault:30s} ({what})")
        for l in caught[:2]:
            print(f"        {l.strip()[:300]}")
        if correct is not False:
            missed.append(fault)
    if missed:
        sys.exit(f"wrong results that passed the checks: {missed}")


if __name__ == "__main__":
    main()
