#!/usr/bin/env python3
"""Steadiness check: python3 perfbench/steady.py [--runs 10] [--seed 1],
from the repository root.

Runs every workload `--runs` times, each run in a fresh JVM with its own
seed (`--seed`, `--seed`+1, ...), interleaving the workloads so that each
one's runs are spread over the whole measurement. For every end-to-end metric
it prints the median, the quartiles (Python's statistics.quantiles, n=4),
the spread (Q3 - Q1) / median, and whether that spread is within the
metric's bound in BENCHMARK.json, plus the failed share of operations.
It exits with 1 if any spread is over its bound or any operation failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    runs = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(a.seed + i), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                raise SystemExit(f"steady: {w} seed {a.seed + i} failed ({p.returncode})")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs[w].append(r)
            print(f"# {w} seed={a.seed + i} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    ok = True
    print(f"{'workload':<11} {'metric':<13} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}  within")
    for w in workloads:
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs[w]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            within = spread <= m["bound"]
            ok &= within
            print(f"{w:<11} {m['name']:<13} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                  f"{spread:>7.3f} {m['bound']:>6}  {'yes' if within else 'NO'}")
        shares = {r["failed"] / r["attempted"] for r in runs[w]}
        print(f"{w:<11} failed share {sorted(shares)}")
        ok &= shares == {0.0}
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
