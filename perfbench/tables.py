"""Seeded generator for the sf-shaped tables the declared queries read.

Same table names, column names and parquet physical types as the project's
fixture tables (one parquet file per table, naive timestamp[us] columns),
with values drawn from the same domains, at the sf0.01 row counts. The same
seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
# sf0.01 row counts (lineitem follows from orders: 1-7 lines each)
ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000, events=10000,
            documents=500, embeddings=500)
WORDS = ("a the fast slow big small key value row column table scan filter join "
         "agg group sort order merge hash window stream batch spark data query "
         "part line customer vector index").split()


def _ts(days):
    """Naive microsecond timestamps from fractional days since 1970."""
    return pa.array((np.asarray(days) * 86400e6).astype("int64"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed):
    """Write the ten tables under out_dir."""
    rng = np.random.default_rng(seed)
    n = ROWS
    epoch_1995 = 9131.0  # days from 1970-01-01 to 1995-01-01
    epoch_2024 = 19723.0
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, p) / 10.0, 2)})
    o = n["orders"]
    odate = epoch_1995 + rng.integers(0, 2404, o)  # to 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    lines = rng.integers(1, 8, o)
    okey = np.repeat(np.arange(o), lines)
    m = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, m).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, m))})
    e = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(np.sort(epoch_2024 + rng.uniform(0, 30, e))),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, d)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()), "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (v, 64))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
