#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs DuckDB on the oracle SQL dumped by graft.Verify (oracle_sql.json)
against views named after the parquet tables in the given sf dir, loads
the Spark result parquet for each query, canonicalizes both frames
(columns sorted by name, rows sorted by all columns) and compares.

Usage: python3 tools/check.py [sfdir] [verify_out]
(Dev tool only — the engine itself is pure Scala/Spark.)
"""
import json
import sys
import glob
import duckdb
import pandas as pd
import numpy as np

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp-ish columns to int64 ns for stable compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str) -> str:
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        return "MISSING spark output"
    spark_df = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
    try:
        duck_df = canon(con.sql(oracle[name]).df())
    except Exception as e:
        return f"ORACLE ERROR: {e}"
    if list(spark_df.columns) != list(duck_df.columns):
        return f"COLS spark={list(spark_df.columns)} duck={list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWS spark={len(spark_df)} duck={len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            if str(a.dtype) != str(b.dtype):
                sa = a.astype(str).where(~a.isna(), "<NA>")
                sb = b.astype(str).where(~b.isna(), "<NA>")
                if not sa.equals(sb):
                    return f"DTYPE+VAL col={c} {a.dtype}vs{b.dtype}"
                print(f"  note: {c} dtype {a.dtype} vs {b.dtype} (values equal)")
                continue
            if np.issubdtype(a.dtype, np.floating):
                ga, gb = a.fillna(np.nan).values, b.fillna(np.nan).values
                if not np.array_equal(ga, gb, equal_nan=True):
                    mx = np.nanmax(np.abs(ga - gb)) if len(ga) else 0
                    return f"FLOAT col={c} maxdiff={mx}"
            else:
                if not a.fillna("<NA>").equals(b.fillna("<NA>")):
                    bad = (a.fillna("<NA>") != b.fillna("<NA>"))
                    i = bad.idxmax()
                    return f"VAL col={c} row{i}: spark={a[i]!r} duck={b[i]!r}"
        except Exception as e:
            return f"CMPERR col={c}: {e}"
    return "OK"


names = sorted(oracle)
fails = 0
for n in names:
    r = compare(n)
    if r != "OK":
        fails += 1
    print(f"{'PASS' if r == 'OK' else 'FAIL':4} {n}: {r}")
print(f"\n{len(names)} oracle queries, {fails} failures")
sys.exit(1 if fails else 0)
