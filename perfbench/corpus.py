#!/usr/bin/env python3
"""Seeded generator for the board corpus.

Writes the ten tables the board queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each with one row group, with the schemas, value formats and
distributions of the project's TPC-H-like test corpus: the same column
types, the same low-cardinality value sets, `Customer#%09d` names,
documents drawn from a 30-word vocabulary with ~5 % near-duplicates
(a copy of an earlier document plus the token `dup`), and unit-norm
64-dimensional float embeddings.

The same (seed, scale) always writes byte-identical tables; a different
seed changes every value but no table's size, so timings across seeds
measure the same amount of work.

Usage: python3 perfbench/corpus.py <out_dir> <seed> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]

US_PER_DAY = 86_400_000_000
DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000


def sizes(scale):
    """Row counts at `scale` (1.0 = the 0.1 scale factor of the test corpus)."""
    n = lambda base: max(1, int(round(base * scale)))
    return {"customer": n(15000), "supplier": n(1000), "part": n(20000),
            "orders": n(150000), "lineitem": n(600000), "events": n(100000),
            "documents": n(5000), "embeddings": n(2000)}


def money(rng, lo, hi, k):
    return np.round(rng.uniform(lo, hi, k), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def ts_us(us):
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def generate(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(scale)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) // 5, pa.int32())})

    nc = n["customer"]
    write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})

    ns = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1)})

    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": ts_us((DAY_1995 + odays) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    disc_p = np.array([1] + [2] * 9 + [1], float)
    tax_p = np.array([1] + [2] * 7 + [1], float)
    write(out, "lineitem", {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.choice(11, nl, p=disc_p / disc_p.sum()) / 100.0, 2),
        "l_tax": np.round(rng.choice(9, nl, p=tax_p / tax_p.sum()) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": ts_us((DAY_1995 + 1 + np.minimum(
            odays[lok] + rng.integers(0, 95, nl), 2498)) * US_PER_DAY)})

    ne = n["events"]
    write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_us(EPOCH_2024_US + np.sort(
            rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
