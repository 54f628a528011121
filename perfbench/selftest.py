#!/usr/bin/env python3
"""Self-test of the benchmark on a seeded copy of the small inputs (sf0.001).

Runs every workload twice with tracing on, on the same seed, and checks
that each run is correct, that no execution failed, that every metric
BENCHMARK.json names is present, finite and carries its declared unit (the
per-layer metrics on the result line, the end-to-end metrics in the run's
record), and that the two runs count the same jobs, stages, tasks, shuffle
records and scanned rows for every query.

Usage, from the repository root:  python3 perfbench/selftest.py [seed]
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("jobs", "stages", "tasks", "shuffle_write_records", "scan_rows")


def check(declared, got, where):
    errors = []
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"{where}: {m['name']} missing")
        elif not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            errors.append(f"{where}: {m['name']} not finite: {v['value']!r}")
        elif v["unit"] != m["unit"]:
            errors.append(f"{where}: {m['name']} unit {v['unit']!r}, declared {m['unit']!r}")
    return errors


def main():
    seed = sys.argv[1] if len(sys.argv) > 1 else "7"
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    errors = []
    for w in (x["name"] for x in bench["workloads"]):
        counts = []
        for attempt in (1, 2):
            r = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", w, "--seed", seed,
                                "--seconds", "1", "--trace", "1", "--scale", "sf0.001"],
                               stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                errors.append(f"{w}: run.py exited {r.returncode}")
                break
            result = json.loads(r.stdout.strip().splitlines()[-1])
            with open(os.path.join(HERE, "out", f"{w}-seed{seed}-trace1.json")) as f:
                record = json.load(f)
            if not result["correct"] or result["failed"] or record["failed_frac"] != 0:
                errors.append(f"{w}: correct={result['correct']} failed={result['failed']}")
            errors += check(bench["per_layer"], result["metrics"], f"{w} per_layer")
            errors += check(bench["end_to_end"], record["end_to_end"], f"{w} end_to_end")
            counts.append([{k: q[k] for k in ("query",) + COUNTS}
                           for p in record["record"]["passes"] if p["traced"] for q in p["queries"]])
            print(f"{w} run {attempt}: {result['attempted']} executions, "
                  f"{len(result['metrics'])} per-layer metrics")
        if len(counts) == 2 and counts[0] != counts[1]:
            diff = [(a, b) for a, b in zip(*counts) if a != b]
            errors.append(f"{w}: per-query counts differ between two runs of seed {seed}: {diff[:2]}")
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
