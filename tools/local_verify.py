#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run each
SparkEntry query result (parquet written by graft.Verify) against its
DuckDB oracle on the same testdata tables. Build-time tool only — the
Scala library never depends on this.

    python3 tools/local_verify.py SF_DIR OUT_DIR [q_a,q_b,...]

The optional third argument restricts the compare to the named queries,
matching graft.Verify's own third argument for a targeted dump. Every
query listed in OUT_DIR/failed.json (it threw in Verify) counts as a
failure."""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only is not None:
        unknown = sorted(only - oracle.keys())
        if unknown:
            print(f"unknown queries: {', '.join(unknown)}")
            return 2
        oracle = {k: v for k, v in oracle.items() if k in only}
    failed_path = f"{out_dir}/failed.json"
    threw = json.load(open(failed_path)) if os.path.exists(failed_path) \
        else {}
    failures = 0
    for name, sql in sorted(oracle.items()):
        if name in threw:
            print(f"FAIL {name}: threw in Verify: {threw[name][:500]}")
            failures += 1
            continue
        qdir = f"{out_dir}/{name}"
        files = glob.glob(f"{qdir}/*.parquet") or glob.glob(f"{qdir}")
        if not os.path.isdir(qdir):
            print(f"FAIL {name}: no spark output at {qdir}")
            failures += 1
            continue
        try:
            got = pd.read_parquet(qdir)
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failures += 1
            continue
        try:
            g, w = normalize(got), normalize(want)
            if list(g.columns) != list(w.columns):
                raise AssertionError(
                    f"columns differ: spark={list(g.columns)} "
                    f"oracle={list(w.columns)}")
            if len(g) != len(w):
                raise AssertionError(f"rows differ: spark={len(g)} "
                                     f"oracle={len(w)}")
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name}: {len(g)} rows")
        except Exception as e:
            failures += 1
            msg = str(e).replace("\n", " | ")[:500]
            print(f"FAIL {name}: {msg}")
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sf, out, only))
