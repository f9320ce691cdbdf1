#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables and compare (rows, schema-ish, values)
with the Spark result parquet written by graft.Verify.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for comparison
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        pq = f"{out_dir}/{name}"
        if not os.path.isdir(pq):
            print(f"MISSING  {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = norm(pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{pq}/*.parquet"))]))
            duck_df = norm(con.sql(oracles[name]).df())
        except Exception as e:
            print(f"ERROR    {name}: {e}"); n_fail += 1; continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"SCHEMA   {name}: spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            n_fail += 1; continue
        if len(spark_df) != len(duck_df):
            print(f"ROWS     {name}: spark={len(spark_df)} duck={len(duck_df)}"); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(spark_df, duck_df, check_dtype=False, check_exact=True)
            print(f"PASS     {name} ({len(spark_df)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"VALUES   {name}: {str(e).splitlines()[-1] if str(e) else 'diff'}")
            # show first diff
            neq = (spark_df != duck_df) & ~(spark_df.isna() & duck_df.isna())
            rows = neq.any(axis=1)
            if rows.any():
                i = rows.idxmax()
                print(f"  first diff row {i}:\n  spark: {spark_df.loc[i].to_dict()}\n  duck:  {duck_df.loc[i].to_dict()}")
            n_fail += 1
    # rows-only queries: no oracle, so an empty or unreadable result fails
    n_rows = 0
    for pq in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(pq)
        if name not in oracles and os.path.isdir(pq):
            n_rows += 1
            try:
                n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{pq}/*.parquet"))
                print(f"ROWSONLY {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
                if n == 0:
                    n_fail += 1
            except Exception as e:
                print(f"ROWSONLY {name}: read error {e}"); n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail ({len(oracles)} oracles, {n_rows} rows-only)")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
