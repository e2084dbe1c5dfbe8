#!/usr/bin/env python3
"""Compare two graft.Verify output trees by rows, not by bytes.

Usage: python3 tools/compare_outputs.py <outA> <outB>

Spark's parquet bytes differ between two runs of the same code (file names,
writer metadata), so a byte comparison says nothing. For every query
directory in either tree (a directory holding parquet files), this reads
both sides with DuckDB, as tools/check_oracle.py does, and compares the
column names, the row count and the rows in order (NaN equals NaN; floats
must match exactly). It prints one line per differing or missing query and
a summary, and exits 1 on any difference.
"""
import math
import os
import sys

import duckdb


def queries(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d)) and any(
                f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))}


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def read(con, path):
    cur = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    return [d[0] for d in cur.description], cur.fetchall()


def compare(con, a, b):
    """None when identical, else a one-line reason."""
    ca, ra = read(con, a)
    cb, rb = read(con, b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} != {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if not same(x, y):
            return f"row {i}: {x!r} != {y!r}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    out_a, out_b = sys.argv[1], sys.argv[2]
    qa, qb = queries(out_a), queries(out_b)
    con = duckdb.connect()
    bad = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"[MISS] {q}: only in {out_a if q in qa else out_b}")
            bad += 1
            continue
        try:
            why = compare(con, os.path.join(out_a, q), os.path.join(out_b, q))
        except Exception as e:  # unreadable output counts as a difference
            why = f"read failed: {e}"
        if why:
            print(f"[DIFF] {q}: {why}")
            bad += 1
    total = len(qa | qb)
    print(f"\n{total - bad}/{total} outputs identical by rows and row order")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
