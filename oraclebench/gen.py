"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the graft queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, physical types and value domains of
the project's provisioned test data. Row counts scale with `sf`
(sf=0.01 gives 60,000 lineitem rows). The same (seed, sf) always gives
byte-identical tables.

Usage: python3 gen.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(out, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return t.num_rows


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out, seed, sf=0.01):
    """Write the tables under `out`; return {table: row count}."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    rows["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_keyed_names("Customer", n_cust), s),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_keyed_names("Supplier", n_supp), s),
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    rows["part"] = _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.randint(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0, f64)})
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(EPOCH_1995 + rng.randint(0, 2404, n_ord) * DAY_US, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.randint(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.randint(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.randint(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.randint(0, 2499, n_li)) * DAY_US, ts)})
    gaps = rng.exponential(30 * DAY_US / max(n_ev, 1), n_ev).astype(np.int64)
    rows["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), ts),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)], s)})
    # one document in ten is a near copy of an earlier one (a few tokens
    # replaced), so the dedup and index operators find real candidates
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.rand() < 0.1:
            words = texts[rng.randint(0, i)].split(" ")
            for j in rng.randint(0, len(words), 2):
                words[j] = VOCAB[rng.randint(0, len(VOCAB))]
        else:
            words = [VOCAB[w] for w in rng.randint(0, len(VOCAB), rng.randint(10, 100))]
        texts.append(" ".join(words))
    rows["documents"] = _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_docs), i32)})
    return rows


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
