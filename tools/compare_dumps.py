#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/compare_dumps.py <parentDump> <changeDump>

Each dump is a `graft.Verify` output directory: one `<query>/` folder of
parquet files per query plus `oracle_sql.json`. The two dumps agree when
  - they hold the same set of query names,
  - every query has the same schema (column names, DuckDB types, and the
    parquet physical type and repetition, i.e. nullability),
  - every query has the same content hash (every column of every row,
    rows sorted),
  - `oracle_sql.json` is byte-identical.
Prints one line per differing query, then `identical N queries` for the
queries that agree. Exits 1 on any difference, or when a dump holds no
query.
"""
import glob
import os
import sys

import duckdb


def queries(dump):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(os.path.join(dump, '*', '*.parquet'))}


def schema(con, files):
    cols = con.execute(
        "SELECT column_name, column_type FROM "
        "(DESCRIBE SELECT * FROM read_parquet(?))", [files]).fetchall()
    physical = con.execute(
        "SELECT DISTINCT name, type, repetition_type FROM parquet_schema(?) "
        "ORDER BY ALL", [files]).fetchall()
    return cols, physical


def content(con, files):
    # CAST(t AS VARCHAR) renders a whole row (nested values, NULLs, NaN)
    # as one string; sorting those strings makes the hash order-free.
    return con.execute(
        "SELECT count(*), coalesce(md5(string_agg(r, chr(10) ORDER BY r)), '') "
        "FROM (SELECT CAST(t AS VARCHAR) AS r FROM read_parquet(?) t)",
        [files]).fetchone()


def main(parent, change):
    con = duckdb.connect()
    names = {side: queries(d) for side, d in (('parent', parent), ('change', change))}
    for side, d in (('parent', parent), ('change', change)):
        if not names[side]:
            print(f"FAIL: no query output in {side} dump {d}")
            return 1
    diffs = 0
    for name in sorted(names['parent'] ^ names['change']):
        side = 'parent' if name in names['parent'] else 'change'
        print(f"DIFF {name}: only in the {side} dump")
        diffs += 1
    same = 0
    for name in sorted(names['parent'] & names['change']):
        files = [sorted(glob.glob(os.path.join(d, name, '*.parquet')))
                 for d in (parent, change)]
        sa, sb = (schema(con, f) for f in files)
        if sa != sb:
            print(f"DIFF {name}: schema\n  parent={sa}\n  change={sb}")
            diffs += 1
            continue
        ca, cb = (content(con, f) for f in files)
        if ca != cb:
            print(f"DIFF {name}: content rows/md5 parent={ca} change={cb}")
            diffs += 1
            continue
        same += 1
    oracles = [os.path.join(d, 'oracle_sql.json') for d in (parent, change)]
    blobs = [open(p, 'rb').read() if os.path.exists(p) else None for p in oracles]
    if blobs[0] is None or blobs[0] != blobs[1]:
        print("DIFF oracle_sql.json: missing or not byte-identical")
        diffs += 1
    print(f"identical {same} queries")
    return 1 if diffs else 0


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
