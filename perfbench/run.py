#!/usr/bin/env python3
"""graft benchmark: seeded catalog workloads, timed end to end and by layer.

Run from the repository root:

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 12 --trace 0

One run builds the engine and the benchmark's JVM side if the sources changed
(perfbench/build.sh), writes a seed-keyed copy of the committed inputs
(perfbench/gen.py), starts one JVM that sets up a
`local[nproc]` session, warms up, and times closed-loop passes over the
workload's queries (perfbench/src/graftbench/Main.scala), then checks every
query's warm-up output against DuckDB running the catalog's oracle SQL over
the same files. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of the traced passes. The full record of a run, with per-query
meters and job spans, goes to perfbench/out/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# The input tables, a directory under perfbench/data (sf0.01: 60k lineitem rows).
SCALE = "sf0.01"
# Closed loop, one client: the queries run one at a time in this order. A run
# is set-up (with one cold warm-up pass) plus at least three timed passes,
# 45-65 s on 4 cores, and a regression check makes 4 + 22 runs per workload
# within 3420 s. The JIT is still warming over the first timed passes, so the
# reported figures are medians over passes. To fit the budget the
# workload definitions lose these queries, and the relational workload
# (q_agg_sum q_agg_rollup q_tpch_q1 q_tpch_q3 q_tpch_q5 q_tpch_q18 q_join_inner
# q_join_broadcast q_window_rank q_topk_per_key q_heavy_hitters q_agg_hll_cube
# q_agg_quantile_merge q_events_sessionize q_asof_join q_events_funnel, about
# 45 s a run) is left out whole:
#   graph_fixpoint: q_graph_coloring and q_graph_matching (a cold first
#     execution alone takes 15-31 s and 14-20 s), q_graph_pagerank (fixed-round
#     loop, the least driver-gap evidence of the six);
#   corpus_ingest: q_text_editjoin with its twin q_text_editjoin_idx (the
#     batch/stored-index pairs kept are minhash and sorted_block), q_bpe_encode
#     (a fifth of the pass, no stored-index twin).
WORKLOADS = {
    # iterate.Fixpoint rounds and graph/: many small jobs, per-round planning
    "graph_fixpoint": ["q_graph_densest", "q_graph_sssp", "q_graph_cc"],
    # pipeline/ and functions/ kernels, shuffle-heavy candidate joins in ops/,
    # each batch face next to its stored-index ingest twin
    "corpus_ingest": [
        "q_dedup_minhash", "q_dedup_incremental_idx", "q_dedup_sorted_block",
        "q_dedup_sorted_block_inc_idx", "q_dedup_simhash", "q_sim_lsh", "q_cdc_apply"],
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "heap_live_mb": "MB"}
# repo modules whose jobs are counted by the call site that started them
MODULES = ("iterate", "graph", "pipeline", "ops")
# per-layer metric -> (unit, key in the per-query record or None if derived)
PER_LAYER = {
    "queries.build_s": ("s", "build_s"), "queries.sink_s": ("s", "sink_s"),
    "spark.plan.sql_actions": ("count", "sql_actions"),
    "spark.plan.analysis_s": ("s", "analysis_s"),
    "spark.plan.optimization_s": ("s", "optimization_s"),
    "spark.plan.planning_s": ("s", "planning_s"),
    "spark.exec.jobs": ("count", "jobs"), "spark.exec.stages": ("count", "stages"),
    "spark.exec.skipped_stages": ("count", "skipped_stages"),
    "spark.exec.tasks": ("count", "tasks"), "spark.exec.job_s": ("s", "job_s"),
    "spark.exec.driver_gap_s": ("s", "driver_gap_s"),
    "spark.exec.task_cpu_s": ("s", "task_cpu_s"), "spark.exec.gc_s": ("s", "gc_s"),
    "spark.exec.failed_tasks": ("count", "failed_tasks"),
    "spark.shuffle.write_bytes": ("bytes", "shuffle_write_bytes"),
    "spark.shuffle.write_records": ("count", "shuffle_write_records"),
    "spark.shuffle.read_bytes": ("bytes", "shuffle_read_bytes"),
    "spark.mem.spill_bytes": ("bytes", "spill_bytes"),
    "spark.mem.peak_exec_bytes": ("bytes", "peak_exec_bytes"),
    "core.scan_bytes": ("bytes", "scan_bytes"), "core.scan_rows": ("count", "scan_rows"),
    "core.write_bytes": ("bytes", "write_bytes"),
    "iterate.live_blocks": ("count", "live_blocks"),
    "iterate.live_bytes": ("bytes", "live_bytes"),
    "spark.shuffle.fetch_wait_s": ("s", "fetch_wait_s"),
    **{f"{m}.jobs": ("count", None) for m in MODULES},
    **{f"{m}.job_s": ("s", None) for m in MODULES},
    "trace.overhead": ("ratio", None),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170
# builds kept in perfbench/.build, one per source hash, so that a checkout
# that alternates between two source trees builds each only once
KEEP_BUILDS = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, else the first Spark install on PATH (a spark-submit
    whose install has the jars directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    log("no Spark install found: set SPARK_HOME or put its bin/ on PATH")
    raise SystemExit(2)


def java(build_dir, work, queries, data, seconds, trace, timeout, args=()):
    """Run the benchmark JVM in `work` (its scratch, dump and record live
    there); returns (exit code or "timeout", log lines)."""
    jars = os.path.join(spark_home(), "jars")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed-size heap: a heap that G1 sizes itself shrinks at every
    # between-pass full GC and then collects several times a second
    cmd = ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
           "-cp", f"{build_dir}/graft-bench.jar:{jars}/*", "graftbench.Main",
           "--queries", ",".join(queries), "--data", data, "--dump", os.path.join(work, "dump"),
           "--record", os.path.join(work, "record.json"), "--seconds", str(seconds),
           "--trace", str(trace), *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    with open(log_path) as lf:
        return rc, lf.read().splitlines()


def build(root):
    """Compile engine + benchmark once per source tree into
    perfbench/.build/<source hash>; returns that directory."""
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sh")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    jar = os.path.join(out, "graft-bench.jar")
    if os.path.isfile(jar):
        os.utime(out)  # most recently used
        return out
    older = sorted(glob.glob(os.path.join(HERE, ".build", "*")), key=os.path.getmtime)
    for stale in older[:max(0, len(older) - KEEP_BUILDS + 1)]:
        shutil.rmtree(stale, ignore_errors=True)
    log(f"building {len(files)} sources")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], cwd=root,
                       env={**os.environ, "SPARK_HOME": spark_home()},
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0 or not os.path.isfile(jar):
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(2)
    log(f"built in {time.time() - t0:.1f} s")
    return out


def oracle_check(root, data, dump, queries, oracle):
    """Hash-compare each dumped output with DuckDB over the same input files,
    using tools/check_oracle.py's canonical comparison. Returns {query: msg}
    for every query that does not match."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    bad = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        if q not in oracle or not files:
            bad[q] = "no oracle SQL" if q not in oracle else "no output"
            continue
        try:
            ok, msg = check_oracle.compare(pa.concat_tables([pq.read_table(f) for f in files]),
                                           con.execute(oracle[q]).arrow(), q)
        except Exception as e:  # an oracle error is a failed check, never a skip
            ok, msg = False, f"SQLERR {q}: {e}"
        if not ok:
            bad[q] = msg
    return bad


def percentile(values, p):
    """Nearest-rank percentile (0 < p <= 1) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail(values):
    """The highest percentile with at least ten samples beyond it, but never
    below the median: (level, value)."""
    level = max(0.5, 1 - 10 / len(values))
    return level, percentile(values, level)


def end_to_end(rec):
    untraced = [p for p in rec["passes"] if not p["traced"]]
    med = lambda k: statistics.median(p[k] for p in untraced)
    values = {"setup_s": rec["setup_s"], "pass_s": med("wall_s"), "cpu_s": med("cpu_s"),
              "heap_live_mb": med("heap_live_mb")}
    # Per-query latency is recorded, not gated: a run holds 6-21 executions of
    # 3-7 distinct queries, so its median jumps between queries from run to
    # run, and no percentile above the median has ten samples beyond it.
    lat = [q["wall_s"] for p in untraced for q in p["queries"] if not q["error"]]
    level, tail_s = tail(lat)
    info = {"query_p50_s": percentile(lat, 0.5), "query_tail_s": tail_s,
            "query_tail_percentile": round(100 * level, 2), "query_samples": len(lat),
            "untraced_passes": len(untraced)}
    return values, info


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        v = {}
        for name, (_, key) in PER_LAYER.items():
            if key == "peak_exec_bytes":
                v[name] = max(q[key] for q in p["queries"])
            elif key:
                v[name] = sum(q[key] for q in p["queries"] if key in q)
        spans = [s for q in p["queries"] for s in q["spans"]]
        for m in MODULES:
            v[f"{m}.jobs"] = sum(s["module"] == m for s in spans)
            v[f"{m}.job_s"] = sum(s["end_ms"] - s["start_ms"] for s in spans if s["module"] == m) / 1e3
        per_pass.append(v)
    values = {k: statistics.median(v[k] for v in per_pass) for k in per_pass[0]}
    values["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced)
                                / statistics.median(p["wall_s"] for p in untraced))
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=SCALE, choices=("sf0.01", "sf0.001"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            log(f"{need} not found: run from the root of a graft checkout")
            return 2
    build_dir = build(root)
    started = time.time()  # a build may take longer than a run is allowed

    queries = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", str(os.getpid()))
    data, dump = os.path.join(work, "data"), os.path.join(work, "dump")
    rec_path = os.path.join(work, "record.json")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.write(data, args.seed, args.scale, len(os.sched_getaffinity(0)))
        rc, lines = java(build_dir, work, queries, data, args.seconds, args.trace,
                         RUN_LIMIT_S - 15 - (time.time() - started),
                         ["--min-passes", "3"])
        for line in lines:
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if rc != 0 or not os.path.isfile(rec_path):
            log(f"benchmark JVM ended with {rc}; last log lines:")
            print("\n".join(lines[-40:]), file=sys.stderr)
            return 1
        with open(rec_path) as f:
            rec = json.load(f)

        mismatched = oracle_check(root, data, dump, queries, rec["oracle"])
        for q, msg in mismatched.items():
            log(f"ORACLE MISMATCH {q}: {msg}")
        execs = rec["warmup"] + [q for p in rec["passes"] for q in p["queries"]]
        failed = sum(1 for e in execs if e["error"] or e["query"] in mismatched)
        e2e, info = end_to_end(rec)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        layers = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in per_layer(rec).items()} \
            if args.trace else {}
        summary = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
                   "cpus": rec["cpus"], "queries": queries, "attempted": len(execs),
                   "failed": failed, "failed_frac": failed / len(execs), **info,
                   "oracle_mismatches": mismatched}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump({**summary, "end_to_end": metrics, "per_layer": layers, "record": rec}, f, indent=1)
        print(" ".join(f"{k}={m['value']:.6g}{m['unit']}" for k, m in {**metrics, **layers}.items())
              + f" query_p50_s={info['query_p50_s']:.6g}s query_tail_s={info['query_tail_s']:.6g}s"
              f" (p{info['query_tail_percentile']:g} of {info['query_samples']} executions)"
              f" failed_frac={failed / len(execs):.6g}")
        print(json.dumps({"correct": failed == 0, "attempted": len(execs), "failed": failed,
                          "metrics": layers if args.trace else metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
