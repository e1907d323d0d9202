"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (graft.Tables.names), one parquet
file each, with the column names, parquet types and row counts of the
sf0.1 fixture's files (TESTDATA.md): a TPC-H-like star schema, a 30-day
event stream, a 5,000-document corpus in which 5% of documents are
another document plus " dup", and 2,000 unit-norm 64-d embeddings with
ten labels. The value distributions are this generator's own; the
statistics checked against the fixture are listed in perfbench/README.md
("Input fidelity").

The tables depend only on DATA_SEED, never on the benchmark's --seed, so
every run of every workload reads identical bytes and the DuckDB oracle
results can be cached across runs.

Usage: python3 perfbench/gen_data.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# (rows) at sf0.1
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_EMB, EMB_DIM = 5_000, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "old", "new", "red", "blue"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, N_PART),
                                              _pick(rng, PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM)})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(_pick(rng, VOCAB, int(n)))
             for n in rng.integers(10, 101, N_DOCS)]
    # near-duplicates: 5% of documents become an earlier-drawn document
    # plus one marker word, the pairs the dedup family must find
    for i, j in zip(rng.choice(N_DOCS, N_DOCS // 20, replace=False),
                    rng.integers(0, N_DOCS, N_DOCS // 20)):
        if i != j:
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})
    return out


def generate(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    generate(sys.argv[1])
