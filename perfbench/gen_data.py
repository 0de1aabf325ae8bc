"""Base tables for the benchmark, generated from a fixed generator seed.

Writes the ten parquet tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the row counts, parquet column types, value domains and
distributions measured on the repo's scale-factor-0.1 test data, so
every query plan and oracle runs unchanged and costs what it costs on
that data. `compare_data.py` prints the measured figures of both side by
side. The base tables do not depend on the workload seed; the
workload seed drives what the benchmark does with them (stream order,
retries, upsert keys, delete predicates, query order).

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101
VERSION = "2"  # bump when the generated content changes

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_EMB, EMB_DIM = 5_000, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ("query row stream the batch sort value hash filter big data part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
DUP_FRACTION = 0.05  # documents that copy another document plus " dup"

US_PER_DAY = 86_400_000_000
DAY_1995 = 9131  # 1995-01-01 as days since the epoch
DAY_2024 = 19723  # 2024-01-01


def _ts_days(days):
    # Timestamps are parquet INT64 microseconds, not adjusted to UTC, as
    # in the test data; Spark reads them as TIMESTAMP_NTZ.
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=len(table) + 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out):
    rng = np.random.default_rng(GEN_SEED)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, N_PART),
                                            rng.choice(P_NOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts_days(DAY_1995 + rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts_days(DAY_1995 + 1 + rng.integers(0, 2499, N_LINEITEM))})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS)) + DAY_2024 * US_PER_DAY
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(N_DOCS)]
    # Near duplicates: a share of the documents are another document's
    # text with " dup" appended; copying in sequence leaves a few chains
    # ("dup dup") and a few exact copies, as in the test data.
    for t in rng.choice(N_DOCS, int(N_DOCS * DUP_FRACTION), replace=False):
        src = (t + rng.integers(1, N_DOCS)) % N_DOCS
        texts[t] = texts[src] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # Unit vectors in uniformly random directions; labels are drawn
    # independently of the vectors.
    labels = rng.integers(0, 10, N_EMB)
    vecs = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    with open(os.path.join(out, "VERSION"), "w") as f:
        f.write(VERSION)


def ensure(out):
    """Generate into `out` unless a complete copy of this version is there."""
    stamp = os.path.join(out, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    generate(tmp)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)


if __name__ == "__main__":
    ensure(sys.argv[1])
