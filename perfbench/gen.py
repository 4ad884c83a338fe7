"""Seeded input tables for the benchmark.

The layout matches the program's test data: one parquet file per table,
int64 keys, int32 small codes, naive microsecond timestamps and a
64-dim float list for embeddings. The same seed gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def documents(out, rng, n):
    """Texts over a 30-word vocabulary; ~5% are a copy of an earlier
    document with one word appended (the near-duplicates)."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(out, rng, n, dim=64, labels=10):
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centroids[label] + rng.normal(0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def events(out, rng, n, users):
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"], n).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def star(out, rng, sf):
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust).tolist()),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = ["cold", "small", "large", "red", "shiny", "old"]
    noun = ["widget", "bolt", "gear", "pipe", "valve"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, len(adj), n_part), rng.integers(0, len(noun), n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL"], n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line).tolist()),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    })


def generate(out, seed, sf, n_docs):
    """All tables the query mix reads, at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    star(out, rng, sf)
    events(out, rng, int(1000000 * sf), users=max(15, int(15000 * sf)))
    documents(out, rng, n_docs)
    embeddings(out, rng, n_docs)


def corpus(out, seed, n_docs):
    """Documents and their embeddings (vec_id = doc_id) for the stream."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    documents(out, rng, n_docs)
    embeddings(out, rng, n_docs)
