"""Output check: each query's result against its DuckDB oracle
(`SparkEntry.oracleSql`) over the same generated inputs, compared exactly
after tools/crosscheck.py's normalization (its `norm`: columns sorted by
name, rows sorted by every value), with its checks: equal columns, row
count, dtypes and values.

Expected results are cached per input content digest and oracle SQL, so a
run pays for an oracle only the first time its inputs and SQL are seen."""
import glob
import hashlib
import os

import duckdb
import pandas as pd
from crosscheck import norm

import inputs


def mismatch(got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if str(a.dtype) != str(b.dtype):
            return f"dtype {c}: {a.dtype} vs {b.dtype}"
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"value {c}: row {i} {a[i]!r} vs {b[i]!r}"
    return None


def check(data_dir, digest, out_dir, passes, sqls, cache_dir, spill_dir, threads):
    """Returns {"<pass>/<query>": None | reason} for every pass and query;
    each pass's outputs are under `<out_dir>/<pass>/<query>`."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='3GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    inputs.views(con, data_dir)
    os.makedirs(f"{cache_dir}/{digest}", exist_ok=True)
    wants = {}

    def expected(q, sql):
        if q not in wants:
            key = hashlib.sha256(sql.encode()).hexdigest()[:16]
            cached = f"{cache_dir}/{digest}/{q}-{key}.pkl"
            if os.path.exists(cached):
                wants[q] = pd.read_pickle(cached)
            else:
                wants[q] = norm(con.execute(sql).df())
                wants[q].to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
        return wants[q]

    result = {}
    for p in passes:
        for q, sql in sqls.items():
            files = sorted(glob.glob(f"{out_dir}/{p}/{q}/*.parquet"))
            if not files:
                result[f"{p}/{q}"] = "no output"
                continue
            try:
                got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
                result[f"{p}/{q}"] = mismatch(got, expected(q, sql))
            except Exception as e:  # an oracle or read error fails the query, not the run
                result[f"{p}/{q}"] = f"error {e}"
    con.close()
    return result
