#!/usr/bin/env python3
"""Seeded generator for the catalog's input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
physical types and value distributions the catalog queries expect (a
TPC-H-like star schema, an event stream, a text corpus with ~5% near
duplicates and 64-dim unit embeddings in 10 weak clusters). Row counts
follow the scale factor: lineitem has 6,000,000 x sf rows.

The same (seed, sf) always yields byte-identical tables, so fingerprints
recorded once stay valid.

Usage: gen_catalog.py OUT_DIR [--seed N] [--sf F]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

US = np.int64(1_000_000)


def _epoch_us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n, start, end):
    """Uniform midnight timestamps in [start, end] as epoch micros."""
    span = (end - start).days
    day = rng.integers(0, span + 1, n, dtype=np.int64)
    return _epoch_us(start) + day * 86_400 * US


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(STATUS, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1))),
        "o_orderpriority": rng.choice(PRIORITY, n_ord)})
    flag = rng.integers(0, 6, n_line)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
        "l_linestatus": np.array(["F", "O"])[flag % 2],
        "l_shipdate": _ts(_days(rng, n_line, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4)))})
    start = _epoch_us(dt.datetime(2024, 1, 1))
    offs = np.sort(rng.integers(0, 30 * 86_400 * US, n_evt, dtype=np.int64))
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(start + offs),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(10, 101, n_doc)]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in dups:  # near duplicate: another document's text plus a marker
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    vec = rng.normal(size=(n_emb, 64)) + 0.6 * centers[label]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return {"lineitem": n_line, "orders": n_ord, "events": n_evt,
            "documents": n_doc, "embeddings": n_emb}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    print(generate(a.out, a.seed, a.sf))


if __name__ == "__main__":
    main()
