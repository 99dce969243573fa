#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir> [name,name,...]
  1. (caller already ran graft.Verify <sfDir> <outDir> [names])
  2. registers each parquet table as a DuckDB view
  3. runs every oracle_sql.json entry
  4. compares against the Spark parquet dump: schema (sorted col names),
     row count, and exact values on rows sorted by all columns.
  With a name list (graft.Verify's filter), only those rows are checked;
  a named row with no Spark output still fails.

Driver-side tooling only — the library itself never depends on this.
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    spark_dirs = {os.path.basename(d): d for d in glob.glob(os.path.join(out_dir, "*")) if os.path.isdir(d)}
    names = set(oracle) | set(spark_dirs) if only is None else set(only)
    for name in sorted(names):
        if name not in spark_dirs:
            results[name] = "MISSING_SPARK_OUTPUT"; continue
        files = glob.glob(os.path.join(spark_dirs[name], "*.parquet"))
        got = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(got)})" if len(got) > 0 else "EMPTY"
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_ERROR: {e}"; continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(g.columns)} oracle={list(e.columns)}"; continue
        if len(g) != len(e):
            results[name] = f"ROWCOUNT spark={len(g)} oracle={len(e)}"; continue
        bad = []
        for c in g.columns:
            gv, ev = g[c].values, e[c].values
            if pd.api.types.is_float_dtype(g[c]) and pd.api.types.is_float_dtype(e[c]):
                eq = (gv == ev) | (pd.isna(gv) & pd.isna(ev))
                if not eq.all():
                    close = np.isclose(gv.astype(float), ev.astype(float), rtol=1e-9, equal_nan=True).all()
                    bad.append((c, "CLOSE_NOT_EXACT" if close else "VALUES", int((~eq).sum())))
            else:
                eq = (pd.Series(gv).astype(str) == pd.Series(ev).astype(str))
                if not eq.all():
                    bad.append((c, "VALUES", int((~eq).sum())))
        results[name] = "OK" if not bad else f"DIFF {bad}"
    npass = sum(1 for v in results.values() if v == "OK" or v.startswith("ROWS_ONLY"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v == 'OK' or v.startswith('ROWS_ONLY') else 'FAIL':4} {k}: {v}")
    print(f"\n{npass}/{len(results)} pass")
    return 0 if npass == len(results) else 1

if __name__ == "__main__":
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
