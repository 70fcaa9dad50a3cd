"""Seeded synthetic tables for the batch workloads.

Writes the ten parquet tables the contract lanes and their DuckDB oracles
read (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the schemas and value distributions of the
repository's scale-factor test data: `sf` 0.1 gives 600,000 lineitem rows,
100,000 events and 5,000 documents. The same seed gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _strings(values):
    return pa.array(list(values), type=pa.string())


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * sf / 0.1)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _strings(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": _strings(f"NATION_{i}" for i in range(25)),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc = n(15000)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _strings(f"Customer#{i:09d}" for i in range(nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": _strings(rng.choice(SEGMENTS, nc))})

    ns = n(1000)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _strings(f"Supplier#{i:09d}" for i in range(ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})

    npart = n(20000)
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _strings(f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                                       rng.choice(PART_NOUN, npart))),
        "p_brand": _strings(f"Brand#{b}" for b in rng.integers(1, 26, npart)),
        "p_type": _strings(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})

    no = n(150000)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _strings(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _strings(rng.choice(PRIORITIES, no))})

    nl = n(600000)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _strings(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": _strings(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})

    ne = n(100000)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n(1500), ne), pa.int64()),
        "event_type": _strings(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": _strings(f'{{"k": {k}}}' for k in rng.integers(0, 100, ne))})

    nd = n(5000)
    lengths = rng.integers(10, 101, nd)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + length]))
        pos += length
    # a few exact duplicates, as crawled corpora have
    for src, dst in zip(rng.integers(0, nd, nd // 500 + 1), rng.integers(0, nd, nd // 500 + 1)):
        texts[dst] = texts[src]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": _strings(texts),
        "lang": _strings(rng.choice(LANGS, nd, p=LANG_P)),
        "source": _strings(f"src{i % 20}" for i in range(nd)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n(2000)
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(directory, seed, sf):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
