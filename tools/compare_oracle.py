#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each SparkEntry query dump under
OUTDIR, run the matching oracle SQL in DuckDB over the same testdata parquet tables and
compare values (columns sorted by name, rows sorted). Exits 1 when any query fails."""
import sys, json, glob, os
import duckdb
import pandas as pd

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vout"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes = [], []
for q in sorted(oracle):
    try:
        spark_df = pd.concat(
            [pd.read_parquet(p) for p in sorted(glob.glob(f"{outdir}/{q}/*.parquet"))],
            ignore_index=True)
        duck_df = con.execute(oracle[q]).df()
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            fails.append((q, f"columns spark={list(a.columns)} duck={list(b.columns)}"))
            continue
        if len(a) != len(b):
            fails.append((q, f"rows spark={len(a)} duck={len(b)}"))
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            loc = neq.any(axis=1)
            if loc.any():
                i = loc[loc].index[0]
                cols = [c for c in a.columns if neq.at[i, c]]
                fails.append((q, f"value diff row {i} cols {cols}: spark={a.loc[i, cols].to_dict()} duck={b.loc[i, cols].to_dict()}"))
                continue
            # values equal but dtypes differ -> fall through to dtype check
        # dtype check (schema parity)
        dt = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
        if dt:
            fails.append((q, f"dtype diff {dt}"))
            continue
        passes.append(q)
    except Exception as e:
        fails.append((q, f"EXC {type(e).__name__}: {e}"))

print(f"PASS {len(passes)}/{len(oracle)}")
for q, msg in fails:
    print(f"FAIL {q}: {msg[:400]}")
sys.exit(1 if fails else 0)
