"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas and value domains FIXTURES.md lists
for the read-only test data. Row counts scale with `sf` the way the
fixture tiers do (lineitem ~60 000 at sf 0.01, ~600 000 at sf 0.1).

The data seed is fixed: every workload seed reads the same tables, and
only the order and mix of operations depend on the workload seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "large", "blue", "green", "shiny", "old", "tiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream filter group").split()

# rows per table at sf = 1 (documents/embeddings follow FIXTURES' tiers)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000}
USERS_PER_SF = 15_000

DAY_US = 86_400 * 1_000_000


def _ts(start, end, n, rng, day_grain):
    """Uniform timestamps (µs since epoch) in [start, end]."""
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    if day_grain:
        days = rng.integers(0, (hi - lo) // DAY_US + 1, n)
        return lo + days * DAY_US
    return np.sort(rng.integers(lo, hi, n))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols, schema=None):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    """Write the ten tables for scale factor `sf` into directory `out`."""
    rng = np.random.default_rng([DATA_SEED, int(sf * 1000)])
    os.makedirs(out, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_sup = int(BASE_ROWS["supplier"] * sf)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup)})

    n_part = int(BASE_ROWS["part"] * sf)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0
                                  + rng.integers(0, 100, n_part), 2)})

    n_cust = int(BASE_ROWS["customer"] * sf)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})

    n_ord = int(BASE_ROWS["orders"] * sf)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", "2001-08-01", n_ord, rng, True), ts_us),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})

    # 1 + Poisson(3.075) lines per order, capped at 17 (mean ~4.07)
    per = np.minimum(1 + rng.poisson(3.075, n_ord), 17)
    n_li = int(per.sum())
    okeys = np.repeat(np.arange(n_ord), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    linenos = np.arange(n_li) - starts + 1
    perm = rng.permutation(n_li)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okeys[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(linenos[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_ts("1995-01-02", "2001-11-04", n_li, rng, True), ts_us)})

    n_ev = int(BASE_ROWS["events"] * sf)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_ts("2024-01-01", "2024-01-30", n_ev, rng, False), ts_us),
        "user_id": pa.array(rng.integers(0, int(USERS_PER_SF * sf), n_ev), pa.int64()),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = 5000 if sf >= 0.1 else 500
    texts, seen = [], set()
    while len(texts) < n_doc:
        if texts and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[rng.integers(0, len(texts))].split()
            for i in rng.integers(0, len(words), 2):
                words[i] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(15, 80))])
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            texts.append(text)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.integers(0, 5, n_doc)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_vec = 2000 if sf >= 0.1 else 500
    vecs = rng.normal(0.0, 0.12, (n_vec, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
