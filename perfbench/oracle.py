"""DuckDB oracle check for the serve workload.

Each query's rows (dumped by the untimed pass) are compared with the
query's ``SparkEntry.oracleSql`` run by DuckDB over the same generated
tables: same column names, same row count, and the same values row by
row (columns sorted by name, rows in result order). Floats must be
equal, not merely close. The two approximate queries (a bloom filter's
false positives, simhash candidate pairs) have no oracle SQL by design;
for them the check is rows-only: the query must have returned rows.

    python3 perfbench/oracle.py <tables dir> <outputs dir>
"""
import json
import math
import os
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# approximate by design, so without oracle SQL: checked rows-only
ROWS_ONLY = {"q_decontaminate_bloom", "q_dedup_simhash"}


def compare(con, name, sql, out_dir):
    """None when the dumped rows match the oracle, else the mismatch."""
    got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
    exp = con.execute(sql).fetchdf()
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns spark={gcols} oracle={ecols}"
    if len(got) != len(exp):
        return f"rows spark={len(got)} oracle={len(exp)}"
    for c in gcols:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or a == b:
                    continue
                return f"col={c} row={i} spark={a!r} oracle={b!r}"
            if str(a) != str(b):
                return f"col={c} row={i} spark={a!r} oracle={b!r}"
    return None


def run(tables_dir, out_dir, queries=()):
    """[(query, mismatch or None)] for every query with an oracle, and a
    rows-only verdict for each approximate query among `queries`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name, sql in sorted(oracle.items()):
        if not os.path.isdir(os.path.join(out_dir, name)):
            out.append((name, "no rows dumped"))
            continue
        try:
            out.append((name, compare(con, name, sql, out_dir)))
        except Exception as e:  # a failing oracle is a failed check
            out.append((name, f"error {e}"))
    for name in sorted(ROWS_ONLY.intersection(queries)):
        try:
            n = con.execute(
                f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'"
            ).fetchone()[0]
            out.append((name, None if n > 0 else "rows-only: no rows"))
        except Exception as e:
            out.append((name, f"rows-only: error {e}"))
    con.close()
    return out


def check(record, inputs):
    """Fold the oracle verdicts into a serve run record."""
    res = run(os.path.join(inputs, "tables"), record["outputs"],
              record.get("queries", ()))
    bad = [(n, m) for n, m in res if m is not None]
    record["attempted"] = record.get("attempted", 0) + len(res)
    record["failed"] = record.get("failed", 0) + len(bad)
    record.setdefault("failures", []).extend(
        f"oracle {n}: {m}" for n, m in bad)
    record["oracle"] = {"checked": len(res), "exact": len(
        [n for n, m in res if m is None and n not in ROWS_ONLY]),
        "rows_only": len([n for n, m in res if m is None and n in ROWS_ONLY]),
        "mismatched": len(bad)}


if __name__ == "__main__":
    results = run(sys.argv[1], sys.argv[2])
    for n, m in results:
        print(f"[{'OK ' if m is None else 'BAD'}] {n}" + (f": {m}" if m else ""))
    bad = sum(1 for _, m in results if m is not None)
    print(f"{len(results) - bad}/{len(results)} queries match")
    sys.exit(1 if bad else 0)
