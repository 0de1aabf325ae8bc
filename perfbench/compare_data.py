#!/usr/bin/env python3
"""Print the figures that shape the benchmark's traffic, measured on two
copies of the base tables side by side: the generated tables and a
reference copy of the scale-factor-0.1 test data. A number that differs
by more than 5%, and any other figure that differs at all (a type, a
date), is marked. Small counts, maxima and means near zero differ by
sampling alone; read the marks with that in mind.

Usage: python3 perfbench/compare_data.py <reference_dir> <generated_dir>
"""
import collections
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def figures(d):
    con = duckdb.connect()

    def one(sql):
        return con.execute(sql.replace("{", f"'{d}/").replace("}", ".parquet'")).fetchone()

    f = {}
    for t in TABLES:
        pf = pq.ParquetFile(f"{d}/{t}.parquet")
        f[f"{t}.rows"] = pf.metadata.num_rows
        f[f"{t}.row_groups"] = pf.metadata.num_row_groups
        for c in pf.schema:
            f[f"{t}.{c.name}.type"] = f"{c.physical_type} {c.logical_type}"
    for k, v in zip(["customer.acctbal_mean", "customer.segments", "customer.nations"],
                    one("SELECT avg(c_acctbal), count(DISTINCT c_mktsegment), "
                        "count(DISTINCT c_nationkey) FROM {customer}")):
        f[k] = v
    for k, v in zip(["part.names", "part.brands", "part.types", "part.price_mean"],
                    one("SELECT count(DISTINCT p_name), count(DISTINCT p_brand), "
                        "count(DISTINCT p_type), avg(p_retailprice) FROM {part}")):
        f[k] = v
    for k, v in zip(["orders.customers", "orders.date_min", "orders.date_max",
                     "orders.price_mean", "orders.statuses"],
                    one("SELECT count(DISTINCT o_custkey), min(o_orderdate)::VARCHAR, "
                        "max(o_orderdate)::VARCHAR, avg(o_totalprice), "
                        "count(DISTINCT o_orderstatus) FROM {orders}")):
        f[k] = v
    for k, v in zip(["lineitem.orders", "lineitem.lines_per_order_max", "lineitem.ship_min",
                     "lineitem.ship_max", "lineitem.price_mean", "lineitem.discount_mean",
                     "lineitem.discount0_share", "lineitem.tax_mean", "lineitem.qty_mean"],
                    one("SELECT count(DISTINCT l_orderkey), "
                        "(SELECT max(c) FROM (SELECT count(*) c FROM {lineitem} GROUP BY l_orderkey)), "
                        "min(l_shipdate)::VARCHAR, max(l_shipdate)::VARCHAR, avg(l_extendedprice), "
                        "avg(l_discount), avg((l_discount = 0)::INT), avg(l_tax), avg(l_quantity) "
                        "FROM {lineitem}")):
        f[k] = v
    for k, v in zip(["events.ts_min_day", "events.ts_max_day", "events.ts_sorted_by_id",
                     "events.gap_mean_s", "events.users", "events.per_user_p50",
                     "events.shard0_share", "events.types", "events.value_mean",
                     "events.value_p50", "events.props_keys", "events.per_hour_max"],
                    one("WITH e AS (SELECT *, epoch_ms(ts) / 1000.0 AS s, "
                        "lag(epoch_ms(ts)) OVER (ORDER BY event_id) AS prev FROM {events}) "
                        "SELECT min(ts)::DATE::VARCHAR, max(ts)::DATE::VARCHAR, "
                        "bool_and(prev IS NULL OR prev <= epoch_ms(ts)), "
                        "(max(s) - min(s)) / (count(*) - 1), count(DISTINCT user_id), "
                        "(SELECT median(c) FROM (SELECT count(*) c FROM {events} GROUP BY user_id)), "
                        "avg((user_id % 4 = 0)::INT), count(DISTINCT event_type), avg(value), "
                        "median(value), count(DISTINCT props), "
                        "(SELECT max(c) FROM (SELECT count(*) c FROM {events} "
                        "GROUP BY date_trunc('hour', ts))) FROM e")):
        f[k] = v
    docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
    toks = [t.split(" ") for t in docs["text"]]
    vocab = collections.Counter(w for ws in toks for w in ws)
    f["documents.tokens_mean"] = float(np.mean([len(ws) for ws in toks]))
    f["documents.tokens_min"] = min(len(ws) for ws in toks)
    f["documents.tokens_max"] = max(len(ws) for ws in toks)
    f["documents.vocabulary"] = len(vocab)
    f["documents.dup_suffixed"] = sum(ws[-1] == "dup" for ws in toks)
    f["documents.exact_copies"] = len(toks) - len(set(docs["text"]))
    f["documents.n_chars_is_length"] = sum(
        n == len(t) for n, t in zip(docs["n_chars"], docs["text"])) / len(toks)
    f["documents.en_share"] = docs["lang"].count("en") / len(toks)
    f["documents.sources"] = len(set(docs["source"]))
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    v = np.array(emb["embedding"], dtype=np.float64)
    labels = np.array(emb["label"])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = v @ v.T
    same = labels[:, None] == labels[None, :]
    off = ~np.eye(len(v), dtype=bool)
    f["embeddings.dim"] = v.shape[1]
    f["embeddings.component_std"] = float(v.std())
    f["embeddings.cos_same_label"] = float(cos[same & off].mean())
    f["embeddings.cos_other_label"] = float(cos[~same].mean())
    f["embeddings.pairs_cos_over_0.5"] = int((cos[off] > 0.5).sum() // 2)
    f["embeddings.labels"] = len(set(emb["label"]))
    return f


def differs(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) > 0.05 * max(abs(a), abs(b), 1e-9)
    return a != b


def main():
    ref, gen = figures(sys.argv[1]), figures(sys.argv[2])
    marked = 0
    for k in sorted(ref.keys() | gen.keys()):
        a, b = ref.get(k), gen.get(k)
        mark = "  <-- differs" if a is None or b is None or differs(a, b) else ""
        marked += bool(mark)
        fa = f"{a:.4g}" if isinstance(a, float) else str(a)
        fb = f"{b:.4g}" if isinstance(b, float) else str(b)
        print(f"{k:40s} {fa:>28s} {fb:>28s}{mark}")
    print(f"{marked} of {len(ref.keys() | gen.keys())} figures differ")


if __name__ == "__main__":
    main()
