#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/steady.py --workload serve --seeds 1-10 --seconds 6

For every metric it prints the median and the distance between the first
and third quartile as a share of the median (statistics.quantiles, n=4),
the figure BENCHMARK.json's bounds are checked against, and the share of
failed operations of each run. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values, shares = {}, []
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run failed (exit {out.returncode})")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        shares.append(r["failed"] / r["attempted"])
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"failed share per run: {sorted(set(shares))}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:32s} median {med:12.4f}  IQR/median {spread:.3f}")


if __name__ == "__main__":
    main()
