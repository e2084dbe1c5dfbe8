"""Seeded input generator for the end-to-end benchmark.

Everything the benchmark feeds the program comes from here, derived only
from the seed and the size arguments:

* ``tables/<name>.parquet`` -- the ten TPC-H-like tables the serve
  queries read (same names, columns and value ranges as the project's
  test data; ``scale=1`` gives the sf0.001 row counts).
* ``log/initial-*.json`` -- Maxwell JSON lines that insert every row of
  orders, customer and lineitem (the initial load).
* ``batches/bNNNNN.json`` -- steady-phase batches. Every batch mixes
  inserts, updates and deletes of all three tables.
* ``plan/<table>.parquet`` -- the generator's own plan: one row per
  event with the full row image, the op, the commit ``ts`` and the batch
  number (0 = initial load). The expected table state after batch ``k``
  is the last event per key with ``batch <= k``, minus deletes.

``ts`` is strictly increasing over the whole stream (one second per
event), so no two events of a key ever tie.

Run ``python3 perfbench/gen.py --out DIR --seed N`` to write a set by hand.
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATABASE = "graft_demo"
T0 = 1_600_000_000  # commit ts (epoch seconds) of the first event
WORDS = ("the stream query row fast small spark group customer line sort "
         "hash batch dup data filter value big key order table scan merge "
         "part window join slow agg column a vector").split()
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "red", "blue", "fast", "slow", "big"]
PART_NOUN = ["widget", "bolt", "gear", "nut", "spring", "valve"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# the CDC topics and the columns their Maxwell images carry
# (graft.cdc.ChangelogGen's orders/customer/lineitem specs)
TOPIC_COLS = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_extendedprice",
                 "l_discount", "l_returnflag"],
}
TOPIC_PK = {"orders": ("o_orderkey",), "customer": ("c_custkey",),
            "lineitem": ("l_orderkey", "l_linenumber")}
# share of a steady batch per table, and the op mix inside each table
TOPIC_SHARE = {"orders": 0.3, "customer": 0.1, "lineitem": 0.6}
OP_SHARE = (("insert", 0.4), ("update", 0.4), ("delete", 0.2))

EPOCH = dt.datetime(1970, 1, 1)


def _day(rng, lo, hi, n):
    """n midnight timestamps uniform in [lo, hi) (datetime.date bounds)."""
    span = (hi - lo).days
    base = (dt.datetime.combine(lo, dt.time()) - EPOCH).days
    days = rng.integers(0, span, n) + base
    return days.astype("int64") * 86_400_000_000  # micros


def _ts_col(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def make_tables(rng, scale):
    """The ten serve tables as {name: pyarrow.Table}."""
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_evt = 1500 * scale, 1000 * scale
    n_doc, n_emb = 500 * scale, 500 * scale
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900.0 + (i % 200) / 10 for i in range(n_part)]})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_col(_day(rng, dt.date(1995, 1, 1),
                                    dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": [PRIORITIES[i]
                            for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_col(_day(rng, dt.date(1995, 1, 1),
                                   dt.date(2001, 11, 5), n_li))})
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)) + \
        int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": _ts_col(ev_ts),
        "user_id": pa.array(rng.integers(0, max(15, 15 * scale), n_evt),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.0, 330.0, n_evt), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        words = [WORDS[w] for w in rng.integers(0, len(WORDS),
                                               rng.integers(10, 100))]
        if i % 20 == 0:
            words.append("dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _fmt_ts(micros):
    return (EPOCH + dt.timedelta(microseconds=int(micros))).strftime(
        "%Y-%m-%d %H:%M:%S")


class Stream:
    """Builds the CDC event stream and the plan that implies its state."""

    def __init__(self):
        self.ts = T0
        self.lines = []
        self.plan = {t: [] for t in TOPIC_COLS}
        self.live = {t: {} for t in TOPIC_COLS}  # pk -> row dict

    def emit(self, table, op, row, batch, old=None):
        self.ts += 1
        cols = TOPIC_COLS[table]
        data = {c: row[c] for c in cols}
        if table == "orders":
            data["o_orderdate"] = _fmt_ts(row["o_orderdate"])
        env = {"database": DATABASE, "table": table, "type": op,
               "ts": self.ts, "data": data}
        if old is not None:
            env["old"] = old
        self.lines.append(json.dumps(env, separators=(",", ":")))
        self.plan[table].append(dict(row, __op=op, __ts=self.ts,
                                     __batch=batch))
        pk = tuple(row[c] for c in TOPIC_PK[table])
        if op == "delete":
            del self.live[table][pk]
        else:
            self.live[table][pk] = row

    def take(self):
        out, self.lines = self.lines, []
        return out


def _rows(table, cols):
    d = table.select(cols).to_pydict()
    return [dict(zip(cols, vals)) for vals in zip(*(d[c] for c in cols))]


def _initial(stream, tables, rng):
    rows = []
    for name, cols in TOPIC_COLS.items():
        tab = tables[name]
        if name == "orders":
            tab = tab.set_column(
                tab.schema.get_field_index("o_orderdate"), "o_orderdate",
                tab["o_orderdate"].cast(pa.int64()))
        rows += [(name, r) for r in _rows(tab, cols)]
    for i in rng.permutation(len(rows)):
        name, row = rows[i]
        stream.emit(name, "insert", row, 0)


def _steady_batch(stream, rng, batch, n_events, next_key):
    """One steady batch: for each table its share of n_events, split over
    insert/update/delete, emitted in a seeded interleaving."""
    todo = []
    for table, share in TOPIC_SHARE.items():
        n_t = max(3, int(round(n_events * share)))
        for op, op_share in OP_SHARE:
            todo += [(table, op)] * max(1, int(round(n_t * op_share)))
    for i in rng.permutation(len(todo)):
        table, op = todo[i]
        live = stream.live[table]
        if op == "insert":
            row = _new_row(stream, rng, table, next_key)
            stream.emit(table, "insert", row, batch)
            continue
        keys = list(live.keys())
        pk = keys[int(rng.integers(0, len(keys)))]
        row = live[pk]
        if op == "delete":
            stream.emit(table, "delete", row, batch)
            continue
        new, old = _update(rng, table, row)
        stream.emit(table, "update", new, batch, old)


def _new_row(stream, rng, table, next_key):
    if table == "customer":
        k = next_key["customer"]
        next_key["customer"] += 1
        return {"c_custkey": k, "c_name": f"Customer#{k:09d}",
                "c_nationkey": int(rng.integers(0, 25)),
                "c_acctbal": round(float(rng.uniform(-999.99, 9999.99)), 2)}
    if table == "orders":
        k = next_key["orders"]
        next_key["orders"] += 1
        custs = list(stream.live["customer"].keys())
        return {"o_orderkey": k,
                "o_custkey": custs[int(rng.integers(0, len(custs)))][0],
                "o_orderstatus": STATUSES[int(rng.integers(0, 3))],
                "o_totalprice": round(float(rng.uniform(1000, 500000)), 2),
                "o_orderdate": int(_day(rng, dt.date(2001, 8, 1),
                                        dt.date(2002, 8, 1), 1)[0]),
                "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))]}
    orders = list(stream.live["orders"].keys())
    ok = orders[int(rng.integers(0, len(orders)))][0]
    ln = next_key["line"].get(ok, 7) + 1
    next_key["line"][ok] = ln
    return {"l_orderkey": ok, "l_linenumber": ln,
            "l_extendedprice": round(float(rng.uniform(900, 105000)), 2),
            "l_discount": int(rng.integers(0, 11)) / 100.0,
            "l_returnflag": ["A", "N", "R"][int(rng.integers(0, 3))]}


def _update(rng, table, row):
    """A changed copy of row and the Maxwell `old` map (changed cols)."""
    new = dict(row)
    if table == "orders":
        if rng.random() < 0.5:
            new["o_totalprice"] = round(float(rng.uniform(1000, 500000)), 2)
        else:
            new["o_orderstatus"] = STATUSES[
                (STATUSES.index(row["o_orderstatus"]) + 1) % 3]
    elif table == "customer":
        if rng.random() < 0.5:
            new["c_acctbal"] = round(row["c_acctbal"] + 100.0, 2)
        else:
            new["c_nationkey"] = (row["c_nationkey"] + 1) % 25
    else:
        if rng.random() < 0.5:
            new["l_extendedprice"] = round(row["l_extendedprice"] * 0.95, 2)
        else:
            new["l_discount"] = (int(round(row["l_discount"] * 100)) + 1) \
                % 11 / 100.0
    old = {c: row[c] for c in TOPIC_COLS[table] if new[c] != row[c]}
    if table == "orders" and "o_orderdate" in old:
        old["o_orderdate"] = _fmt_ts(old["o_orderdate"])
    return new, old


PLAN_TYPES = {
    "o_orderkey": pa.int64(), "o_custkey": pa.int64(),
    "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
    "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string(),
    "c_custkey": pa.int64(), "c_name": pa.string(),
    "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
    "l_orderkey": pa.int64(), "l_linenumber": pa.int32(),
    "l_extendedprice": pa.float64(), "l_discount": pa.float64(),
    "l_returnflag": pa.string(),
    "__op": pa.string(), "__ts": pa.int64(), "__batch": pa.int32()}


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def generate(out, seed, scale=1, batches=0, batch_events=0):
    """Write one input set under ``out``; returns a summary dict."""
    rng = np.random.default_rng(seed)
    tables = make_tables(rng, scale)
    os.makedirs(os.path.join(out, "tables"), exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, "tables", f"{name}.parquet"))
    summary = {"seed": seed, "scale": scale, "batches": batches,
               "batch_events": batch_events}
    if batches == 0 and batch_events == 0:
        return summary
    stream = Stream()
    _initial(stream, tables, rng)
    initial = stream.take()
    for d in ("log", "batches", "plan"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    # the initial load as a few files, like a topic's first segments
    parts = 4
    for i in range(parts):
        _write_lines(os.path.join(out, "log", f"initial-{i}.json"),
                     initial[i::parts])
    next_key = {"orders": tables["orders"].num_rows,
                "customer": tables["customer"].num_rows, "line": {}}
    sizes = []
    for b in range(1, batches + 1):
        _steady_batch(stream, rng, b, batch_events, next_key)
        lines = stream.take()
        sizes.append(len(lines))
        _write_lines(os.path.join(out, "batches", f"b{b:05d}.json"), lines)
    for table, rows in stream.plan.items():
        cols = TOPIC_COLS[table] + ["__op", "__ts", "__batch"]
        arrays = {c: pa.array([r[c] for r in rows], PLAN_TYPES[c])
                  for c in cols}
        pq.write_table(pa.table(arrays),
                       os.path.join(out, "plan", f"{table}.parquet"))
    summary.update(initial_events=len(initial), batch_sizes=sizes)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=int, default=1)
    ap.add_argument("--batches", type=int, default=0)
    ap.add_argument("--batch-events", type=int, default=0)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.scale, a.batches,
                              a.batch_events)))


if __name__ == "__main__":
    main()
