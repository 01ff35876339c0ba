"""Seeded tables for the query_board workload.

Writes the tables the board's queries read (orders, lineitem, part,
supplier, documents, events) as parquet, in the same column layout as the
project's sf fixtures. `scale` 1.0 gives the sf0.01 row counts. The
documents include edited copies of earlier documents, so the near-duplicate
graphs the graph queries walk are not empty.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "stream filter group big vector").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]

TS_US = pa.timestamp("us")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.3:
            words = texts[rng.integers(0, i)].split()
            for _ in range(max(1, len(words) // 12)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 90))))
    return texts


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_orders = int(15000 * scale)
    n_items = int(60000 * scale)
    n_parts = int(2000 * scale)
    n_supp = max(10, int(100 * scale))
    n_cust = int(1500 * scale)
    n_docs = 500
    n_events = int(10000 * scale)

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(_money(rng, n_orders, 1000, 500000)),
        "o_orderdate": pa.array(_days(rng, n_orders, "1995-01-01", "2001-08-01"), TS_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_items, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_items, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_items, 900, 100000)),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_items)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_items)),
        "l_shipdate": pa.array(_days(rng, n_items, "1995-01-02", "2001-11-04"), TS_US),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_parts)),
        "p_size": pa.array(rng.integers(1, 51, n_parts, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_parts) * 0.1, 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999, 9999)),
    })
    texts = _documents(rng, n_docs)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    steps = rng.integers(1, 260_000_000, n_events)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array((start + np.cumsum(steps)).astype("datetime64[us]"), TS_US),
        "user_id": pa.array(rng.integers(0, 150, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(_money(rng, n_events, 0.01, 490)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part,
            "supplier": supplier, "documents": documents, "events": events}


def write(seed, scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
