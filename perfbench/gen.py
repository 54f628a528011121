"""Seed-keyed copy of the benchmark's inputs.

perfbench/data/<scale>/ holds read-only copies of the project's reference test
data (TESTDATA.md): sf0.01 for the benchmark, sf0.001 for its self-test. A run
never reads them directly. It writes a copy in which every table's rows are in
seed-hashed order and split into `parts` files, so the query results (and the
oracle answers) are the same for every seed while partition contents vary.
"""
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _mix(x):
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def write(out_dir, seed, scale, parts):
    """Write every table of data/<scale> as <out_dir>/<table>.parquet/part-NNNNN.parquet:
    rows in seed-hashed order, split into `parts` contiguous files."""
    salt = _mix(np.array([seed], dtype=np.uint64))[0]
    tables = sorted(glob.glob(os.path.join(DATA, scale, "*.parquet")))
    if not tables:
        raise SystemExit(f"no input tables in {os.path.join(DATA, scale)}")
    for src in tables:
        tbl = pq.read_table(src)
        with np.errstate(over="ignore"):
            key = _mix(np.arange(tbl.num_rows, dtype=np.uint64) + salt)
        tbl = tbl.take(pa.array(np.argsort(key, kind="stable")))
        d = os.path.join(out_dir, os.path.basename(src))
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
        for p in range(parts):
            pq.write_table(tbl.slice(bounds[p], bounds[p + 1] - bounds[p]),
                           os.path.join(d, f"part-{p:05d}.parquet"))
