#!/usr/bin/env python3
"""Run-to-run spread and set-to-set drift of the end-to-end metrics.

Runs the benchmark once per seed on each workload (tracing off), `--sets`
times over the same seeds. For every set it prints, per metric, the median,
the quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median
next to the metric's bound in BENCHMARK.json; from the second set on it also
prints how much worse each median is than the first set's, as a share of
it. Each run's result line is appended to the JSONL file given with --out.

Usage, from the repository root:
    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--sets 2] [--out spread.jsonl]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run_set(bench, w, seeds, out):
    runs = []
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                           "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res.update(workload=w, seed=seed, run_wall_s=round(time.time() - t0, 1))
        runs.append(res)
        with open(out, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"{w} seed {seed}: {res['run_wall_s']} s correct={res['correct']}", file=sys.stderr)
    return runs


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out", default="perfbench/out/spread.jsonl")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    worst_spread = worst_drift = 0.0
    for w in args.workloads.split(","):
        first = None
        for k in range(1, args.sets + 1):
            runs = run_set(bench, w, range(lo, hi + 1), args.out)
            if len(runs) < 2:
                continue
            print(f"\n{w} set {k}: {len(runs)} runs, "
                  f"{sum(r['run_wall_s'] for r in runs) / len(runs):.1f} s per run")
            medians = {}
            for name, m in metrics.items():
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                medians[name] = med
                spread = (q3 - q1) / med
                if name != "setup_s":
                    worst_spread = max(worst_spread, spread / m["bound"])
                line = (f"  {name:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}"
                        f"  spread {spread:6.3f}  bound {m['bound']}"
                        f"  {'OK' if spread <= m['bound'] / 3 else 'WIDE'}")
                if first:
                    worse = (med - first[name]) / first[name]
                    worse = worse if m["better"] == "lower" else -worse
                    worst_drift = max(worst_drift, worse / m["bound"])
                    line += f"  worse than set 1 by {worse:+.3f} {'OK' if worse <= m['bound'] else 'OVER'}"
                print(line)
            first = first or medians
    print(f"\nworst spread / bound (setup_s excluded): {worst_spread:.2f}")
    if args.sets > 1:
        print(f"worst median drift / bound: {worst_drift:.2f}")


if __name__ == "__main__":
    main()
