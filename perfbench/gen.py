"""Deterministic input tables for the benchmark.

The tables follow the engine's star schema (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
shapes the operators expect: a 30-word vocabulary corpus with 5% near-dup
copies, an events log with a call-graph peer in ``props``, ~9% negative
account balances as fraud labels.

Content comes from a FIXED generator seed, so every answer the program
gives is a constant of the scale. The run seed only permutes the row
order of the fact tables (and of ``documents``) as written to parquet:
two seeds give the same relations in a different physical order.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
# fact tables written as several files, so scans split into parallel tasks
SPLIT_FILES = 4
PERMUTED = ("customer", "orders", "lineitem", "events", "documents")


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def build_tables(customers, docs):
    """All ten tables for `customers` accounts and `docs` documents."""
    rng = np.random.default_rng(CONTENT_SEED)
    c = customers
    n_supp, n_part = max(c // 15, 10), c * 4 // 3
    n_ord, n_users, n_emb = c * 10, max(c // 10, 10), max(docs * 2 // 5, 50)
    n_line, n_events = n_ord * 4, c * 20 // 3
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, c, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2500)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            # near-dup: an earlier doc with one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    t["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write(out_dir, customers, docs, seed):
    """Writes the tables under `out_dir` (replaced), rows of the fact
    tables permuted by `seed`. Returns {table: on-disk bytes}."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    perm = np.random.default_rng(seed)
    sizes = {}
    for name, table in build_tables(customers, docs).items():
        if name in PERMUTED:
            table = table.take(pa.array(perm.permutation(table.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in ("orders", "lineitem", "events"):
            os.makedirs(path)
            step = -(-table.num_rows // SPLIT_FILES)
            for i in range(SPLIT_FILES):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(path, f"part-{i:05d}.parquet"))
            sizes[name] = sum(os.path.getsize(os.path.join(path, f))
                              for f in os.listdir(path))
        else:
            pq.write_table(table, path)
            sizes[name] = os.path.getsize(path)
    with open(os.path.join(out_dir, "_sizes.json"), "w") as f:
        json.dump(sizes, f)
    return sizes
