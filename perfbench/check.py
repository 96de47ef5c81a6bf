"""Output check for the relational and corpus workloads.

Each query's result, as the engine wrote it to parquet after the timed
passes, is compared with DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same generated parquet tables: same
column names, same row count, and the same rows once both sides are
sorted by every column. Doubles match within 1e-9 (absolute or
relative); every other value must be equal.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _sort_key(col):
    # lists, dicts and arrays do not order; sort them by their text
    if col.dtype == object:
        return col.map(lambda v: "" if v is None else repr(v.tolist() if hasattr(v, "tolist") else v))
    return col


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    keys = pd.DataFrame({c: _sort_key(df[c]) for c in df.columns})
    order = keys.sort_values(by=list(keys.columns), kind="mergesort", na_position="first").index
    return df.loc[order].reset_index(drop=True)


def _same(a, b):
    if hasattr(a, "tolist"):
        a = a.tolist()
    if hasattr(b, "tolist"):
        b = b.tolist()
    a_na = a is None or (pd.api.types.is_scalar(a) and pd.isna(a))
    b_na = b is None or (pd.api.types.is_scalar(b) and pd.isna(b))
    if a_na or b_na:
        return a_na and b_na
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, float) or isinstance(b, float):
        try:
            return bool(np.isclose(float(a), float(b), rtol=1e-9, atol=1e-9))
        except (TypeError, ValueError):
            return False
    return a == b


def compare(engine, oracle):
    """None when the frames hold the same rows, else the first difference."""
    if sorted(engine.columns) != sorted(oracle.columns):
        return f"columns: engine {sorted(engine.columns)} oracle {sorted(oracle.columns)}"
    if len(engine) != len(oracle):
        return f"rows: engine {len(engine)} oracle {len(oracle)}"
    a, b = _canon(engine), _canon(oracle)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y):
                return f"column {c} row {i}: engine {x!r} oracle {y!r}"
    return None


def check(data_dir, results_dir, oracle_sql):
    """[(query, ok, detail)] for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = []
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out.append((name, False, "no engine result"))
            continue
        engine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            diff = compare(engine, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"oracle error {type(e).__name__}: {e}"
        out.append((name, diff is None, diff or ""))
    con.close()
    return out
