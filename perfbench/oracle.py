"""DuckDB oracle check for the query_mix workload, compared the way
tools/check_oracles.py does: run each query's registered oracle SQL over
the same parquet tables, sort columns by name and rows by value, and
compare the string renderings.
"""
import glob
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _nonscalar(df):
    return [c for c in df.columns if df[c].dtype == object and len(df) > 0 and df[c].map(
        lambda v: isinstance(v, (list, dict, tuple, np.ndarray))).any()]


def check(data_dir, results_dir, oracle_sql):
    """Return {query: (ok, detail)} for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not sql:
            out[name] = (False, "no oracle SQL registered")
            continue
        if not files:
            out[name] = (False, "no Spark result")
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            d = con.execute(sql).fetchdf()
        except Exception as e:  # a failing oracle is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}")
            continue
        s = s.reindex(sorted(s.columns), axis=1)
        d = d.reindex(sorted(d.columns), axis=1)
        if list(s.columns) != list(d.columns):
            out[name] = (False, f"columns {list(s.columns)} vs {list(d.columns)}")
        elif len(s) != len(d):
            out[name] = (False, f"rows {len(s)} vs {len(d)}")
        elif _nonscalar(s) or _nonscalar(d):
            out[name] = (False, "non-scalar result columns")
        else:
            sv = sorted(map(tuple, s.astype(str).values.tolist()))
            dv = sorted(map(tuple, d.astype(str).values.tolist()))
            out[name] = (sv == dv, f"{len(s)} rows" if sv == dv else "value mismatch")
    con.close()
    return out
