#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (graft.Verify) of the same sf directory.

Usage: python3 tools/diff_oracle_sql.py <sfDir> <before/oracle_sql.json> <after/oracle_sql.json>

For every key: the two texts are compared after whitespace normalization
with the trained-weight literals masked (CAST('<double>' AS DOUBLE) and
'[...]'::DOUBLE[]), so two runs that trained the same models in different
JVMs compare equal. An entry whose text differs is run on both sides in
DuckDB over the sf tables and its rows compared exactly (normalized as in
check_oracles.py). A model trained in another JVM can end slightly apart (the
trained-transcripts weights differ by up to 6e-8 relative), so when
both sides list the same features in the same order, the after side is run
with the before side's weights. Exits 1 on a missing key or a row
difference.
"""
import json, re, sys
import duckdb
import pandas as pd
from check_oracles import TABLES, norm

WEIGHT = re.compile(r"CAST\('[^']*' AS DOUBLE\)|'\[[^\]]*\]'::DOUBLE\[\]")
# the feature (and column) of each weight literal in a VALUES row
FEATURE = re.compile(r"\('((?:[^']|'')*)',(\d+,)?(?=CAST\('|'\[)")


def canon(sql: str, mask: bool) -> str:
    if mask:
        sql = WEIGHT.sub("?", sql)
    sql = re.sub(r"\s+", " ", sql)
    return re.sub(r"\s*([(),\[\]])\s*", r"\1", sql).strip()


def main(sf_dir, before_path, after_path):
    before, after = json.load(open(before_path)), json.load(open(after_path))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = 0
    for k in sorted(set(before) | set(after)):
        if k not in before or k not in after:
            print(f"KEY      {k}: only in {'after' if k in after else 'before'}"); bad += 1; continue
        if canon(before[k], True) == canon(after[k], True):
            print(f"SAME     {k}"); continue
        sql, fed = after[k], ""
        wb, wa = WEIGHT.findall(before[k]), WEIGHT.findall(sql)
        if wb != wa and FEATURE.findall(before[k]) == FEATURE.findall(sql):
            it = iter(wb)
            sql, fed = WEIGHT.sub(lambda _: next(it), sql), " (before-side weights)"
        b, a = norm(con.sql(before[k]).df()), norm(con.sql(sql).df())
        try:
            pd.testing.assert_frame_equal(b, a, check_exact=True)
            print(f"ROWSEQ   {k}: text changed, {len(a)} rows identical{fed}")
        except AssertionError as e:
            print(f"ROWSDIFF {k}{fed}: {str(e).splitlines()[-1] if str(e) else 'diff'}"); bad += 1
    print(f"\n{len(after)} keys, {bad} bad")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
