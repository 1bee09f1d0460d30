#!/usr/bin/env python3
"""Determinism insurance: byte-diff two independent graft.Verify runs.

Usage:
  sbt "runMain graft.Verify <sfDir> /tmp/v1"
  sbt "runMain graft.Verify <sfDir> /tmp/v2"
  python3 tools/doublecheck.py /tmp/v1 /tmp/v2

Reports every gate whose dumps differ between the runs, and every gate
with a dump in only one of the two dirs (it threw in the other run). A
gate that differs between runs would eventually flake the driver's
hash compare (this caught q47's CV AUC drifting ~1e-5 from float-sum
order inside the distributed fit — fixed by rounding to run-stable
digits).
"""
import os
import sys

import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def main():
    d1, d2 = sys.argv[1], sys.argv[2]
    bad = []
    dumps = [{n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
             for d in (d1, d2)]
    for name in sorted(dumps[0] | dumps[1]):
        p1, p2 = os.path.join(d1, name), os.path.join(d2, name)
        if name not in dumps[0] or name not in dumps[1]:
            bad.append(name)
            print(f"  ✗ {name}: only in {d1 if name in dumps[0] else d2}")
            continue
        a, b = canon(pd.read_parquet(p1)), canon(pd.read_parquet(p2))
        try:
            eq = a.equals(b)
        except Exception:
            eq = False
        if not eq:
            bad.append(name)
            print(f"  ✗ {name}: runs differ")
    print("DIFFER:" if bad else "STABLE:",
          bad if bad else "all gates byte-identical across runs")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
