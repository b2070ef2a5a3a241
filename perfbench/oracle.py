"""Output check: each op's Spark output against its DuckDB oracle.

The harness writes every op's output as parquet plus the oracle SQL of
the ops it ran (`oracle_sql.json`). Each oracle runs in DuckDB over the
same input tables; both sides are compared as the project's own
`tools/compare.py` does: columns sorted by name, rows sorted, values
hashed with doubles rounded to 9 places.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _digest(df):
    m = hashlib.md5()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        if pd.api.types.is_float_dtype(s):
            s = s.round(9)
        m.update(pd.util.hash_pandas_object(s, index=False).values.tobytes())
    return m.hexdigest()


def check(data_dir, out_dir, ops):
    """Returns {op: reason} for every op in `ops` whose output is missing
    or differs from its oracle."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    errors = {}
    for op in ops:
        files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
        if op not in oracle:
            errors[op] = "no oracle SQL"
            continue
        if not files:
            errors[op] = "no Spark output"
            continue
        try:
            got = _norm(pd.concat([pd.read_parquet(f) for f in files]))
            want = _norm(con.execute(oracle[op]).fetchdf())
            if list(got.columns) != list(want.columns):
                errors[op] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                errors[op] = f"{len(got)} rows, oracle has {len(want)}"
            elif _digest(got) != _digest(want):
                bad = [c for c in got.columns
                       if _digest(got[[c]]) != _digest(want[[c]])]
                errors[op] = f"values differ in {bad}"
        except Exception as e:  # an oracle or read error is a failed check
            errors[op] = f"{type(e).__name__}: {e}"[:500]
    con.close()
    return errors
