#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Reads oracle_sql.json, registers each parquet table from sfDir as a DuckDB
view, runs each oracle, and compares to the Spark-dumped parquet:
columns sorted by name, rows sorted, values compared (exact; NaN==NaN).
Prints how many oracles it checked; an empty oracle_sql.json is a failure,
not a vacuous pass.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(os.path.join(sf_dir, '*.parquet')):
    name = os.path.basename(f)[:-len('.parquet')]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracles = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
if not oracles:
    print(f"FAIL: no oracles to check in {os.path.join(out_dir, 'oracle_sql.json')}")
    sys.exit(1)
fail = 0
for name, sql in sorted(oracles.items()):
    spark_path = os.path.join(out_dir, name)
    try:
        sdf = pd.concat([pd.read_parquet(p) for p in
                         sorted(glob.glob(spark_path + '/*.parquet'))])
    except Exception as e:
        print(f"FAIL {name}: no spark output ({e})"); fail += 1; continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {str(e)[:200]}"); fail += 1; continue

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns), na_position='first') \
               .reset_index(drop=True)
        return df
    s, o = canon(sdf), canon(odf)
    if list(s.columns) != list(o.columns):
        print(f"FAIL {name}: columns differ\n  spark={list(s.columns)}\n  duck ={list(o.columns)}")
        fail += 1; continue
    if len(s) != len(o):
        print(f"FAIL {name}: rows spark={len(s)} duck={len(o)}"); fail += 1; continue
    bad = []
    for c in s.columns:
        a, b = s[c], o[c]
        try:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        except Exception:
            eq = a == b
        if not eq.all():
            i = (~eq).idxmax()
            bad.append((c, a[i], b[i]))
    if bad:
        print(f"FAIL {name}: value mismatches: {bad[:3]}"); fail += 1
    else:
        print(f"PASS {name} ({len(s)} rows, {len(s.columns)} cols)")
print(f"checked {len(oracles)} oracles")
print("ALL PASS" if fail == 0 else f"{fail} FAILURES")
sys.exit(1 if fail else 0)
