"""Output gate: every workload query's Spark result against its DuckDB
oracle, with the rules of `tools/check.py` (columns sorted by name,
rows sorted by all columns, exact values with NaN equal to NaN, pandas
dtypes equal). The meter writes each result to `<gate>/<query>/` and
the oracle SQL, keyed to the data directory, to
`<gate>/oracle_sql.json`.
"""
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or hasattr(a, "__len__") and not isinstance(a, str):
        try:
            la, lb = list(a), list(b)
            return len(la) == len(lb) and all(_cells_equal(x, y) for x, y in zip(la, lb))
        except TypeError:
            pass
    return a == b


def _column_equal(a, b):
    x, y = a.to_numpy(), b.to_numpy()
    if x.dtype.kind in "biufM" and x.dtype == y.dtype:
        return bool(np.array_equal(x, y, equal_nan=x.dtype.kind in "fM"))
    return all(_cells_equal(u, v) for u, v in zip(a.tolist(), b.tolist()))


def check(data_dir, gate_dir, queries, threads):
    """Returns {query: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{gate_dir}/duckdb_tmp'")
    con.execute(f"SET threads = {threads}")
    con.execute("SET enable_progress_bar = false")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for q in queries:
        files = glob.glob(os.path.join(gate_dir, q, "*.parquet"))
        if q not in oracles:
            out[q] = "no oracle SQL"
            continue
        if not files:
            out[q] = "no Spark result"
            continue
        try:
            got = _norm(con.sql(f"SELECT * FROM '{gate_dir}/{q}/*.parquet'").df())
            want = _norm(con.sql(oracles[q]).df())
        except Exception as e:  # an oracle or read failure fails the query
            out[q] = f"error: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            out[q] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            out[q] = f"rows {len(got)} vs {len(want)}"
        else:
            bad = [c for c in got.columns if not _column_equal(got[c], want[c])]
            dd = [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
                  if str(got[c].dtype) != str(want[c].dtype)]
            out[q] = (f"values differ in {bad}" if bad else
                      f"dtype mismatch {dd}" if dd else None)
    con.close()
    return out
