"""DuckDB oracle for the graft benchmark's correctness gate.

Each checked op result (a parquet directory written by the harness) is
compared, order-independently, with the oracle SQL of the matching declared
graft query (`SparkEntry.oracleSql`, shipped in the harness's result file),
run by DuckDB over the same generated parquet. Comparison follows the
project's oracle conventions: columns by name, rows sorted by every column,
floats equal within 1e-9 relative tolerance, int-vs-float a mismatch.

Derived checks:
  components_of_q113  connected components of q113's LSH pairs, cluster =
                      smallest id in the component;
  lsh:<n>             q261's probe restricted to the corpus after n LSH
                      appends (an LSH probe is per pair, so a smaller corpus
                      keeps exactly the pairs whose corpus id it holds);
  pq:<n>              q311's ADC distances restricted to the corpus after n
                      PQ appends, top 3 per query (models are trained on the
                      published 80 % and never retrained by an append);
  q308_stream_...     q308's survivors, with the micro-batch label derived
                      from the benchmark's own arrival files.
"""
import datetime
import glob
import os

import duckdb
import numpy as np
import pandas as pd

import gen

LSH_APPENDS = 8
PQ_APPENDS = 4
PQ_FINAL_SELECT = "SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3"


def connect(in_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def lsh_corpus(ids, n):
    ids = np.asarray(ids)
    return (ids % 7 != 0) & ((ids % 5 != 0) | ((ids // 5) % LSH_APPENDS < n))


def pq_corpus(ids, n):
    ids = np.asarray(ids)
    return (ids % 5 != 0) | ((ids // 5) % PQ_APPENDS < n)


def components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                         "cluster": np.array([find(i) for i in ids], dtype=np.int64)})


def expected(con, check, sql, cache_dir):
    """Oracle frame for one check tag, cached per input fingerprint."""
    path = os.path.join(cache_dir, check.replace(":", "_") + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    if check == "components_of_q113":
        want = components(expected(con, "q113_minhash_portable", sql, cache_dir))
    elif check.startswith("lsh:"):
        full = expected(con, "q261_lsh_index_append", sql, cache_dir)
        want = full[lsh_corpus(full["corpus_id"], int(check[4:]))]
    elif check.startswith("pq:"):
        base = sql["q311_pq_index_append"].rstrip().rstrip(";")
        if not base.endswith(PQ_FINAL_SELECT):
            raise RuntimeError("q311's oracle no longer ends with its top-3 select; "
                               "the pq:<n> derivation needs updating")
        adc = con.execute(base[:-len(PQ_FINAL_SELECT)]
                          + "SELECT query_id, neighbor_id, dist FROM adc").df()
        adc = adc[pq_corpus(adc["neighbor_id"], int(check[3:]))]
        adc = adc.sort_values(["query_id", "dist", "neighbor_id"])
        adc["rank"] = adc.groupby("query_id").cumcount() + 1
        want = adc[adc["rank"] <= 3][["query_id", "rank", "neighbor_id", "dist"]]
        want = want.astype({"rank": "int32"})
    elif check == "q308_stream_neardup_keyed":
        want = con.execute(sql[check]).df()
        ids = con.execute("SELECT doc_id FROM documents").df()["doc_id"].to_numpy()
        inc = np.sort(np.concatenate([ids, ids[ids % 5 == 0] + gen.DUP_ID_OFFSET]))
        want["batch"] = gen.doc_stream_batch(inc, want["keep_id"]).astype(np.int64)
    else:
        want = con.execute(sql[check]).df()
    want = want.reset_index(drop=True)
    want.to_parquet(path)
    return want


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


def compare(got, want):
    """None when equal, else a one-line description of the first mismatch."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            return f"col {c}: dtype class {g.dtype} vs {w.dtype}"
        if pd.api.types.is_float_dtype(g):
            gv, wv = g.astype(float).values, w.astype(float).values
            ok = np.isclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (g.values == w.values) | (pd.isna(g).values & pd.isna(w).values)
        if not np.all(ok):
            i = int(np.argmin(ok))
            return f"col {c} row {i}: {g.values[i]!r} vs {w.values[i]!r}"
    return None


def read_result(path):
    parts = glob.glob(os.path.join(path, "*.parquet"))
    return pd.concat([pd.read_parquet(p) for p in parts]) if parts else None
