"""Deterministic TPC-H-ish corpus for the `gates` workload.

Writes the ten tables the gate queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the column names, types and value ranges of the corpus the
gates were written against (see TESTDATA.md at the repository root). Every
value comes from one numpy generator seeded with the run's seed, so the same
seed gives byte-for-byte the same tables.

SCALE multiplies the sf1 row counts: 0.01 gives 15,000 orders and 60,000
line items.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SCALE = 0.01

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _cents(rng, lo, hi, n):
    """Uniform money values with two decimals, as doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * SCALE), 50)
    n_supp = max(int(10_000 * SCALE), 10)
    n_part = max(int(200_000 * SCALE), 50)
    n_ord = max(int(1_500_000 * SCALE), 500)
    n_li = n_ord * 4
    n_ev = max(int(1_000_000 * SCALE), 1000)
    n_users = max(int(15_000 * SCALE), 20)
    n_docs = max(int(50_000 * SCALE), 100)
    n_emb = max(int(50_000 * SCALE), 100)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))

    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}))

    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}))

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 499_999.99, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + order_days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    li_order = np.sort(rng.integers(0, n_ord, n_li))
    # Line numbers count up within each order, as in TPC-H.
    starts = np.r_[0, np.flatnonzero(np.diff(li_order)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_li]))
    linenumber = np.arange(n_li) - starts[run_id] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995 + (rng.integers(1, 2500, n_li)) * DAY_US,
                               pa.timestamp("us"))}))

    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    texts = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        toks = vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        if i % 20 == 7:  # planted near-duplicates carry the `dup` marker
            toks = toks.copy()
            toks[::10] = "dup"
        texts.append(" ".join(toks))
    for i in range(99, n_docs, 100):  # planted exact duplicates
        texts[i] = texts[i - 1]
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    g = rng.standard_normal((n_emb, 64))
    g[99::100] = g[98::100][: len(g[99::100])] + 0.01 * g[99::100]
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(g), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))
