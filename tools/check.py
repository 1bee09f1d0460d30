#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs
the matching oracle SQL from oracle_sql.json in DuckDB over the sfDir
tables, sorts both results by all columns, and compares exactly.
Reports per-query PASS/FAIL with first diffs. An oracle entry with no
dump (the gate threw, so Verify wrote none) is a FAIL.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_noracle = 0
    dumps = {n for n in os.listdir(out_dir)
             if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dumps | set(oracle)):
        if name not in dumps:
            n_fail += 1
            print(f"  ✗ {name}: missing dump")
            continue
        got = pd.read_parquet(os.path.join(out_dir, name))
        if name not in oracle:
            n_noracle += 1
            print(f"  ~ {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            n_fail += 1
            print(f"  ✗ {name}: ORACLE SQL ERROR: {e}")
            continue
        g, e = canon(got), canon(exp)
        for c in g.columns:
            if c in e.columns and str(g[c].dtype) != str(e[c].dtype):
                print(f"  ! {name}: dtype {c}: spark={g[c].dtype} duck={e[c].dtype}")
        if list(g.columns) != list(e.columns):
            n_fail += 1
            print(f"  ✗ {name}: columns {list(g.columns)} != {list(e.columns)}")
            continue
        if len(g) != len(e):
            n_fail += 1
            print(f"  ✗ {name}: rows {len(g)} != {len(e)}")
            continue
        bad = None
        for col in g.columns:
            gv, ev = g[col].tolist(), e[col].tolist()
            for i, (a, b) in enumerate(zip(gv, ev)):
                # normalize timestamps/dates to string
                a2, b2 = (str(a), str(b)) if not isinstance(a, (int, float, str, type(None))) or not isinstance(b, (int, float, str, type(None))) else (a, b)
                if not cmp_cell(a2, b2):
                    bad = (col, i, a, b)
                    break
            if bad:
                break
        if bad:
            n_fail += 1
            print(f"  ✗ {name}: first diff col={bad[0]} row={bad[1]}: got={bad[2]!r} exp={bad[3]!r}")
        else:
            n_pass += 1
            print(f"  ✓ {name} ({len(g)} rows)")
    print(f"PASS={n_pass} FAIL={n_fail} ROWS_ONLY={n_noracle}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
