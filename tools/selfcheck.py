#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: selfcheck.py <verify_out_dir> <sf_dir> [query ...]

Reads each <out>/<name> parquet (Spark result) and runs the matching
oracle_sql.json query in DuckDB with tables registered as views over
<sf_dir>/*.parquet. Compares: schema (column names), row count, and values
(columns sorted by name, rows sorted by all columns; floats to 1e-9 rel tol).
Every query declares its oracle, so a dumped result with no oracle entry
fails, and so does a checked name (every oracle entry when no subset is
given) with no dumped result.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

out_dir, sf_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

import datetime

def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c])
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)

fails, passes = [], 0
dumped = {name for name in os.listdir(out_dir)
          if os.path.isdir(os.path.join(out_dir, name))}
for name in sorted((only or set(oracle)) - dumped):
    fails.append(name)
    print(f"FAIL  {name}: no dumped result")
for name in sorted(dumped):
    path = os.path.join(out_dir, name)
    if only and name not in only:
        continue
    if name not in oracle:
        fails.append(name)
        print(f"FAIL  {name}: dumped result but no oracle entry")
        continue
    try:
        got = norm(pd.concat([pd.read_parquet(p) for p in glob.glob(f"{path}/*.parquet")]))
        want = norm(con.execute(oracle[name]).df())
    except Exception as e:
        fails.append(name)
        print(f"ERROR {name}: {e}")
        continue
    if list(got.columns) != list(want.columns):
        fails.append(name)
        print(f"FAIL  {name}: columns {list(got.columns)} vs {list(want.columns)}")
        continue
    if len(got) != len(want):
        fails.append(name)
        print(f"FAIL  {name}: rows {len(got)} vs {len(want)}")
        continue
    bad = None
    for c in got.columns:
        g, w = got[c], want[c]
        # Driver hashes exact values: Spark int64 vs DuckDB HUGEINT-as-float64
        # (e.g. sum over an integer expr) stringifies 27165 vs 27165.0 and
        # fails the hash even when numerically equal. Mirror that strictness.
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            bad = (f"col {c}: dtype class mismatch {g.dtype} vs {w.dtype} "
                   f"(int-vs-float hashes differently on the driver; add CASTs)")
            break
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            gv, wv = g.astype(float).values, w.astype(float).values
            both_nan = np.isnan(gv) & np.isnan(wv)
            close = np.isclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not np.all(close | both_nan):
                i = int(np.argmin(close | both_nan))
                bad = f"col {c} row {i}: {gv[i]!r} vs {wv[i]!r}"
                break
        else:
            eq = (g.values == w.values) | (pd.isna(g).values & pd.isna(w).values)
            if not np.all(eq):
                i = int(np.argmin(eq))
                bad = f"col {c} row {i}: {g.values[i]!r} vs {w.values[i]!r}"
                break
    if bad:
        fails.append(name)
        print(f"FAIL  {name}: {bad}")
    else:
        passes += 1
        print(f"PASS  {name} ({len(got)} rows)")

print(f"\n{passes} passed, {len(fails)} failed")
sys.exit(1 if fails else 0)
