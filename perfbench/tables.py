"""Seeded generator for the TPC-H-shaped tables the operator gates read.

Writes one parquet file per table (`region nation customer supplier part
orders lineitem events documents embeddings`) with the column names, types
and value domains of the engine's synthetic test data (TESTDATA.md), so any
registered gate runs on them unchanged. Row counts scale linearly with
`sf` (sf 0.1 gives 600k lineitem rows). The same seed gives the same files.

run.py calls generate(out_dir, seed, sf) with its own scale.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window data column join small customer query order group filter stream "
         "big vector").split()


def ts_col(rng, start, days, n, whole_days=True):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = (rng.random(n) * days * 86400e6).astype("int64").astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def money(x):
    return np.round(x, 2)


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng.uniform(-999.99, 9999.99, n_supp))})
    colors = np.array(["red", "blue", "green", "small", "large", "black", "white"])
    things = np.array(["widget", "bolt", "ring", "gear", "nut", "pipe"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"])
    retail = money(900.0 + (np.arange(n_part) % 1000) / 10.0)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 7, n_part)], " "),
                              things[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_col(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per_order)[:n_line]
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    linenos = (np.arange(len(okeys)) - np.repeat(starts, per_order)[:n_line] + 1)
    n_line = len(okeys)
    pkeys = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pkeys, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(qty * retail[pkeys] * rng.uniform(0.98, 2.1, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_col(rng, "1995-01-02", 2498, n_line)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + (rng.random(n_events) * 30 * 86400e6).astype("int64").astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_events)],
        "value": money(np.minimum(rng.exponential(50.0, n_events), 490.0) + 0.01),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:        # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(20, 90)))])
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "fr", "de", "es", "zh"])[rng.integers(0, 7, n_docs)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return {name: t.num_rows for name, t in tables.items()}

