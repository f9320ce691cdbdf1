"""Hash-exact comparison of Spark query outputs with the engine's DuckDB
oracle SQL.

The normalization matches the engine's oracle gate (`tools/check_oracles.py`):
columns sorted by name, rows sorted, integers as int64, booleans as int64,
strings as str, then an exact frame comparison. Oracle answers depend only on
the SQL and the input tables, so each is computed once and kept as parquet.
"""
import glob
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif dt.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64")
        elif dt == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def read_spark(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def connect(sf_dir):
    """A DuckDB connection with the sf tables as views."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def expected(sql, sf_dir, cache_dir):
    """The oracle's normalized answer, from `cache_dir` when computed before."""
    key = hashlib.sha256(repr((sql, sf_dir)).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.isfile(path):
        return pd.read_parquet(path)
    con = connect(sf_dir)
    try:
        df = norm(con.sql(sql).df())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def compare(want, spark_path, corrupt=None):
    """None when the Spark output at `spark_path` equals `want` exactly, else
    a one-line reason. `corrupt`, if given, edits the Spark frame first (the
    checker self-test)."""
    spark_df = read_spark(spark_path)
    if spark_df is None:
        return "no spark output"
    if corrupt is not None:
        spark_df = corrupt(spark_df)
    spark_df = norm(spark_df)
    if list(spark_df.columns) != list(want.columns):
        return f"schema: spark={list(spark_df.columns)} duck={list(want.columns)}"
    if len(spark_df) != len(want):
        return f"rows: spark={len(spark_df)} duck={len(want)}"
    try:
        pd.testing.assert_frame_equal(spark_df, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + (str(e).splitlines()[-1] if str(e) else "differ")
    return None


def check_all(checks, sf_dir, cache_dir, workers=4):
    """{name: reason} for each (name, sql, spark_path, corrupt) whose Spark
    output differs from the oracle over `sf_dir`; oracles run in parallel
    threads."""
    def one(c):
        name, sql, path, corrupt = c
        try:
            return name, compare(expected(sql, sf_dir, cache_dir), path, corrupt)
        except Exception as e:  # a failing oracle or unreadable output fails the check
            return name, f"error: {e}"
    with ThreadPoolExecutor(workers) as pool:
        return {n: why for n, why in pool.map(one, checks) if why}
