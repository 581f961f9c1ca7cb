#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten parquet tables the engine's entries read (TPC-H-style star
schema, an `events` stream, `documents` and `embeddings`) with the same
schemas, value domains and size ratios as the reference test data, so
every entry runs on inputs that only the seed determines.

`doc_reps` > 1 grows the documents/embeddings corpus by replication with
the perturbation scheme of `graft.ScaleUp`: replica r shifts the keys by
r * 10_000_000, prefixes `r<r>` onto every 5th word of each text (so the
replicas fall below the near-duplicate thresholds and behave like more
data, not like copies) and jitters each embedding dimension by
0.05 * sin(vec_id * 7 + i * 3 + r).

Usage: python3 gen.py OUT_DIR SEED SF DOC_SF DOC_REPS
(SF sizes the star schema and events, DOC_SF the base corpus)
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDE = 10_000_000
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def days(rng, start, end, n):
    """n random midnight timestamps in [start, end] as timestamp[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + d, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # 5% near-duplicates: another document's text plus a trailing token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def main(out, seed, sf, doc_sf, doc_reps):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * doc_sf)), max(500, int(20_000 * doc_sf))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    base = documents(rng, n_doc)
    langs = rng.choice(LANGS, n_doc, p=LANG_P)
    ids, texts = [], []
    for r in range(doc_reps):
        ids.extend(r * STRIDE + i for i in range(n_doc))
        texts.extend(base if r == 0 else
                     (" ".join(f"r{r}{w}" if j % 5 == 0 else w
                               for j, w in enumerate(t.split(" "))) for t in base))
    write(out, "documents", {
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": np.tile(langs, doc_reps),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vid = np.concatenate([r * STRIDE + np.arange(n_emb) for r in range(doc_reps)])
    rep = np.repeat(np.arange(doc_reps), n_emb)
    dims = np.arange(64)
    vecs = np.tile(emb, (doc_reps, 1)) + np.where(
        rep[:, None] > 0,
        0.05 * np.sin(vid[:, None] * 7.0 + dims[None, :] * 3.0 + rep[:, None]), 0.0)
    write(out, "embeddings", {
        "vec_id": vid.astype(np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": np.tile(labels, doc_reps)})


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sf=float(sys.argv[3]), doc_sf=float(sys.argv[4]),
         doc_reps=int(sys.argv[5]))
