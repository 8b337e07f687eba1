"""Seeded generator for the harness tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one single-file
parquet each, with the column names and physical types of the reference
harness data (pyarrow, TIMESTAMP(MICROS) without zone). Row counts
scale linearly with `scale`, in the reference data's units: 0.1 gives
its sf0.1 sizes (150k orders, ~600k lineitems, 5k documents).

The same (seed, scale) gives byte-identical files: every table draws
from its own numpy stream seeded by (seed, table index).

    python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a agg batch big column data fast filter group hash key line merge "
         "order part query row scan slow small sort spark stream table value "
         "vector window join index shard cache plan task stage job frame "
         "tensor token model").split()

# order dates fall in seven years: 1997, the year etl_backfill's late
# corrections land in, and 2016-2021, inside the warehouse calendar
# (dim_dates spans 2016-2025) so date-dimension joins match
ORDER_START = dt.datetime(1997, 1, 1)
RECENT_START = (dt.datetime(2016, 1, 1) - ORDER_START).days
EVENT_START = dt.datetime(2024, 1, 1)


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _ts(base, offsets_us):
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _skewed(r, n, keys, head_share, head_frac):
    """n keys in [0, keys): head_share of them uniform over the first
    head_frac of the key range, the rest uniform over all of it."""
    head = max(1, int(keys * head_frac))
    return np.where(r.random(n) < head_share, r.integers(0, head, n),
                    r.integers(0, keys, n)).astype(np.int64)


def sizes(scale):
    n = lambda base: max(10, int(round(base * scale)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "events": n(1_000_000),
            "documents": n(50_000), "embeddings": n(20_000)}


def build(seed, scale):
    """Return {table: pyarrow.Table} for one (seed, scale)."""
    sz = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    nc = sz["customer"]
    ck = np.arange(nc, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, nc)])})

    r = _rng(seed, "supplier")
    ns = sz["supplier"]
    sk = np.arange(ns, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})

    r = _rng(seed, "part")
    npart = sz["part"]
    pk = np.arange(npart, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, npart)], " "),
                        np.array(NOUN)[r.integers(0, 8, npart)])
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pk, "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, npart).astype(str))),
        "p_type": pa.array(np.array(PTYPES)[r.integers(0, 6, npart)]),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail})

    r = _rng(seed, "orders")
    no = sz["orders"]
    ok = np.arange(no, dtype=np.int64)
    # a fifth of the orders come from a hot head of 1% of customers
    cust = _skewed(r, no, nc, 0.2, 0.01)
    day = np.where(r.random(no) < 1 / 7, r.integers(0, 365, no),
                   RECENT_START + r.integers(0, 6 * 365, no))
    out["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": cust.astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, no)]),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts(ORDER_START, day * 86_400_000_000),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, no)])})

    r = _rng(seed, "lineitem")
    nlines = r.integers(1, 8, no)
    lok = np.repeat(ok, nlines)
    nl = len(lok)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lnum = (np.arange(nl) - starts + 1).astype(np.int32)
    # and 30% of the lines buy from a head of 2% of the parts, so
    # item-item co-occurrence has mass
    part = _skewed(r, nl, npart, 0.3, 0.02)
    qty = r.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(day, nlines) + r.integers(1, 122, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": lok, "l_partkey": part.astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[part], 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": _ts(ORDER_START, ship * 86_400_000_000)})

    r = _rng(seed, "events")
    ne = sz["events"]
    users = max(10, nc // 10)
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EVENT_START, ts),
        "user_id": r.integers(0, users, ne).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, ne)]),
        "value": _money(r, 0.0, 560.0, ne),
        "props": pa.array([json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)])})

    r = _rng(seed, "documents")
    nd = sz["documents"]
    texts = []
    for i in range(nd):
        # a third of the corpus is a near-copy of an earlier document
        # (a few words swapped), so dedup and contamination have work
        if i > 10 and r.random() < 0.33:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in r.integers(0, len(VOCAB), int(r.integers(8, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64), "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.integers(0, 5, nd)]),
        "source": pa.array(np.char.add("src", r.integers(0, 20, nd).astype(str))),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = _rng(seed, "embeddings")
    nv = sz["embeddings"]
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, nv)
    vec = centers[label] + r.normal(0, 0.8, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
