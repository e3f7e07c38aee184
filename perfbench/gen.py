"""Seeded input generator for the benchmark.

Writes the tables graft's queries read (the TPC-H-style star schema,
`events`, `documents`, `embeddings`) as one parquet file each, with
the column names, types and value distributions of the repository's
reference test data. Everything is drawn from one numpy Generator, so
the same seed and sizes give byte-identical inputs.

The corpus tables carry planted near-duplicates: a known share of
documents are copies of another document with a few words replaced
and a trailing " dup" marker, and a few are exact copies. The planted
(original, copy) pairs are written to `planted_pairs.json` so that the
dedup queries' recall can be checked.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMBED_DIM = 64
LABELS = 10


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def relational_tables(out_dir, rng, lineitem_rows, event_rows, users):
    orders = max(lineitem_rows // 4, 10)
    customers = max(orders // 10, 10)
    suppliers = max(customers // 15, 10)
    parts = max(orders * 2 // 15, 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers)})
    adj = rng.integers(0, len(PART_ADJ), parts)
    noun = rng.integers(0, len(PART_NOUN), parts)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, orders),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, orders)]})
    n = lineitem_rows
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n),
                               pa.timestamp("us"))})
    # events: 30 days of sorted microsecond timestamps, exponential values
    m = event_rows
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, m))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, m), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, m)],
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]})


def corpus_tables(out_dir, rng, docs, near_dup_share, vectors):
    """Documents with planted near-duplicates, and clustered unit vectors.

    Returns the planted (original, copy) doc-id pairs.
    """
    lens = rng.integers(10, 101, docs)
    words = [list(rng.integers(0, len(VOCAB), n)) for n in lens]
    planted = []
    n_dup = int(docs * near_dup_share)
    # copies are the last n_dup documents; each copies an earlier one of
    # at least 30 words, so one replaced word keeps it a near-duplicate
    originals = np.nonzero(lens[:docs - n_dup] >= 30)[0]
    for copy_id in range(docs - n_dup, docs):
        orig = int(originals[rng.integers(0, len(originals))])
        w = list(words[orig])
        if copy_id % 16:  # most copies get one word replaced; a few stay exact
            w[int(rng.integers(0, len(w)))] = int(rng.integers(0, len(VOCAB)))
        words[copy_id] = w
        planted.append((orig, copy_id))
    texts = []
    for i, w in enumerate(words):
        t = " ".join(VOCAB[j] for j in w)
        texts.append(t + " dup" if i >= docs - n_dup and i % 16 else t)
    langs = rng.choice(len(LANGS), docs, p=LANG_P)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i}" for i in rng.permutation(np.arange(docs) % 20)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(0.0, 1.0, (LABELS, EMBED_DIM))
    labels = rng.integers(0, LABELS, vectors)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (vectors, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return planted


def generate(out_dir, seed, sizes):
    """Write every table for one (seed, sizes) into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    relational_tables(out_dir, rng, sizes["lineitem"], sizes["events"],
                      sizes["users"])
    planted = corpus_tables(out_dir, rng, sizes["documents"],
                            sizes["near_dup_share"], sizes["vectors"])
    with open(os.path.join(out_dir, "planted_pairs.json"), "w") as f:
        json.dump(planted, f)
