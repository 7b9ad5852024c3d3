"""Seeded generator of the query workloads' parquet tables.

The tables have the schemas the registered queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) and value ranges like the
shared test data at the same scale. Their content is fixed per scale, so that
every run does the same work and the oracle answers can be computed once; the
seed orders the rows of every file. The same seed gives the same files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table query key value join hash merge sort scan "
         "filter group agg window stream batch spark part line order customer "
         "vector big small fast slow").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]

# rows per table at scale 1; documents, embeddings and users are fixed: the
# near-duplicate oracles compare every pair of documents
DOCS, VECS, USERS = 200, 500, 150
BASE_ROWS = {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
             "part": 200_000, "supplier": 10_000, "events": 1_000_000}


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _round(x, d):
    return np.round(x, d)


CONTENT_SEED = 42


def generate(out_dir, sf, seed):
    """Writes one `<table>.parquet` per table into out_dir, rows in the seed's
    order; returns the row counts and a digest of the content."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = {t: max(1, int(r * sf)) for t, r in BASE_ROWS.items()}
    n_docs, n_vecs, n_users = DOCS, VECS, USERS
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _round(rng.uniform(-999.99, 9999.99, ns), 2)})

    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": _round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})

    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    # 1-7 lines per order; (l_orderkey, l_linenumber) is not unique in the
    # shared test data either, so it is not made unique here
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _round(rng.uniform(900.0, 105_000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})

    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start_us
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _round(np.maximum(0.01, rng.exponential(50.0, ne)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    # random word sequences; about 5% are copies of an earlier document with
    # " dup" appended, so the near-duplicate queries find work to do
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.6, 0.1, 0.1, 0.1, 0.1]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})

    digest = hashlib.sha256()
    order = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in sorted(tables.items()):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        digest.update(name.encode() + sink.getvalue().to_pybytes())
        pq.write_table(t.take(order.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}, digest.hexdigest()
