"""Seeded input generator and content digest for the benchmark.

The seed picks a row-order permutation and a file split of each fact table
copied from the source directory; dimension tables are copied byte for byte.
Content never changes with the seed, so every oracle answer is the same for
every seed, while partition layout and task skew differ. Each source schema
is kept exactly (the Arrow schema, its metadata and the parquet format
version are carried over).
"""
import hashlib
import os
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq
from crosscheck import TABLES

# Tables whose rows are permuted and split into several files per seed.
FACT = ("lineitem", "orders", "events", "documents", "embeddings")
DIMENSION = tuple(t for t in TABLES if t not in FACT)
MIN_FILES, MAX_FILES = 4, 8  # at least k files, so every core gets a share of each scan


def generate(source, out, seed):
    """Writes `<out>/<table>.parquet` for every table; fact tables become a
    directory of part files, which Spark reads through the same path."""
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    for t in DIMENSION:
        shutil.copyfile(f"{source}/{t}.parquet", f"{out}/{t}.parquet")
    for t in FACT:
        src = pq.ParquetFile(f"{source}/{t}.parquet")
        table = src.read()
        n = table.num_rows
        perm = rng.permutation(n)
        files = int(rng.integers(MIN_FILES, MAX_FILES + 1))
        cuts = np.sort(rng.choice(np.arange(1, n), files - 1, replace=False))
        bounds = [0, *cuts.tolist(), n]
        shuffled = table.take(perm)
        os.makedirs(f"{out}/{t}.parquet")
        for i in range(files):
            lo, hi = bounds[i], bounds[i + 1]
            pq.write_table(shuffled.slice(lo, hi - lo),
                           f"{out}/{t}.parquet/part-{i:05d}.parquet",
                           version=src.metadata.format_version,
                           compression="snappy")


def scan_paths(d):
    """DuckDB read_parquet argument per table (a file or a dir of parts)."""
    out = {}
    for t in TABLES:
        p = f"{d}/{t}.parquet"
        out[t] = f"{p}/*.parquet" if os.path.isdir(p) else p
    return out


def views(con, d):
    for t, p in scan_paths(d).items():
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def digest(d):
    """Order- and split-independent content digest: per table, the row
    count and every column's sum of value hashes."""
    con = duckdb.connect()
    h = hashlib.sha256()
    for t, p in sorted(scan_paths(d).items()):
        row = con.execute(
            f"SELECT count(*), sum(hash(COLUMNS(*))) FROM read_parquet('{p}')").fetchone()
        h.update(f"{t}:{row}\n".encode())
    con.close()
    return h.hexdigest()[:16]


def size(d):
    """Rows, bytes and files per table of a generated directory."""
    out = {}
    for t in TABLES:
        p = f"{d}/{t}.parquet"
        files = [os.path.join(p, f) for f in sorted(os.listdir(p))] if os.path.isdir(p) else [p]
        out[t] = {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                  "bytes": sum(os.path.getsize(f) for f in files),
                  "files": len(files)}
    return out
