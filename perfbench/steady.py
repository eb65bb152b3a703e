#!/usr/bin/env python3
"""Steadiness check: runs one workload N times with seeds S..S+N-1 and prints,
for each metric, the median, the first and third quartile, the spread
(quartile distance over the median) and the bound from BENCHMARK.json, plus
the share of failed operations per run. This is how the bounds were set, and
how to see whether a host is quiet enough to compare two commits.

Usage (from the repo root):
  python3 perfbench/steady.py --workload serve [--runs 10] [--seed 1] [--trace 0]
      [--save FILE]   also append every result line to FILE (JSON lines)
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--save")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["per_layer" if a.trace == "1" else "end_to_end"]

    results = []
    for k in range(a.runs):
        seed = a.seed + k
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", a.trace],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run failed ({p.returncode})\n{p.stderr[-3000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        info = [l for l in p.stderr.splitlines() if l.startswith("perfbench: {")]
        results.append(r)
        print(f"seed {seed}: attempted {r['attempted']} failed {r['failed']} "
              + " ".join(f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()), flush=True)
        if a.save:
            with open(a.save, "a") as f:
                f.write(json.dumps(dict(r, workload=a.workload, seed=seed,
                                        info=json.loads(info[-1][11:]) if info else None)) + "\n")

    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':32s}{'median':>14s}{'q1':>14s}{'q3':>14s}{'spread':>9s}{'bound':>8s}")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = m.get("bound")
        flag = "" if bound is None or spread <= bound / 3 else ("  > bound/3" if spread <= bound else "  > bound")
        print(f"{m['name']:32s}{med:14.6g}{q1:14.6g}{q3:14.6g}{spread:9.3f}"
              f"{'' if bound is None else format(bound, '8.2f')}{flag}")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}")


if __name__ == "__main__":
    main()
