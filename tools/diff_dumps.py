#!/usr/bin/env python3
"""Cross-run determinism check: compare two graft.Verify dump dirs
(e.g. produced at different SPARK_GRAFT_CPUS) value-for-value.

Usage: python3 tools/diff_dumps.py DIR_A DIR_B
Reads each query's parquet from both dirs, sorts columns by name and rows
by all columns, and compares exactly (the validator's discipline). A query
dumped in only one dir (Verify logs a failed query and goes on) differs.
Exits nonzero listing any query whose two dumps differ.
"""
import os
import sys

import duckdb

USAGE = "usage: python3 tools/diff_dumps.py DIR_A DIR_B"


def dumped(d: str) -> set:
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main() -> int:
    if len(sys.argv) != 3:
        print(USAGE, file=sys.stderr)
        return 2
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    in_a, in_b = dumped(a), dumped(b)
    bad = []
    for name, only in sorted([(n, a) for n in in_a - in_b] +
                             [(n, b) for n in in_b - in_a]):
        bad.append(name)
        print(f"ONLY  {name}: dumped in {only} alone")
    names = sorted(in_a & in_b)
    for name in names:
        try:
            ra = con.execute(
                f"SELECT * FROM '{a}/{name}/*.parquet'").fetch_df()
            rb = con.execute(
                f"SELECT * FROM '{b}/{name}/*.parquet'").fetch_df()
            ra = ra[sorted(ra.columns)].sort_values(
                by=sorted(ra.columns)).reset_index(drop=True)
            rb = rb[sorted(rb.columns)].sort_values(
                by=sorted(rb.columns)).reset_index(drop=True)
            if not ra.equals(rb):
                bad.append(name)
                print(f"DIFF  {name}: {len(ra)} vs {len(rb)} rows")
            else:
                print(f"SAME  {name} ({len(ra)} rows)")
        except Exception as e:  # noqa: BLE001 — report and continue
            bad.append(name)
            print(f"ERR   {name}: {e}")
    print(f"\n{len(in_a | in_b) - len(bad)} identical, {len(bad)} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
