"""Correctness gates, one per workload. Each takes the result the
benchmark process wrote and recomputes the expected outcome
independently of the engine: from the raw envelope files
(kinesis_ingest), by replaying the logged writes in DuckDB
(lake_upsert), or by running the DuckDB oracle SQL (query_mix).
Each returns a list of problems; an empty list means the gate passed.
"""
import base64
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def expected_ingest(stream_dir):
    """Per event type (rows, cents) over the distinct events in the
    envelope files, and the number of producer retries seen."""
    seen = {}
    retries = 0
    for path in sorted(glob.glob(os.path.join(stream_dir, "*.txt"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                shard, seq, pk, data = line.rstrip("\n").split("\t")
                p = json.loads(base64.b64decode(data))
                prev = seen.get(p["event_id"])
                if prev is not None:
                    if prev != p:
                        raise ValueError(f"retry of {p['event_id']} changed its payload")
                    retries += 1
                seen[p["event_id"]] = p
    per_type = {}
    for p in seen.values():
        n, c = per_type.get(p["event_type"], (0, 0))
        per_type[p["event_type"]] = (n + 1, c + p["cents"])
    return per_type, retries


def gate_ingest(gate):
    """Exactly-once: the lake holds each distinct generated event once,
    with matching per-type row counts and cent sums."""
    want, _ = expected_ingest(gate["stream_dir"])
    got = gate["lake_per_type"]
    problems = []
    for t in sorted(set(want) | set(got)):
        wn, wc = want.get(t, (0, 0))
        gn, gc, gd = got.get(t, (0, 0, 0))
        if gn != wn or gc != wc:
            problems.append(f"{t}: lake has {gn} rows / {gc} cents, expected {wn} / {wc}")
        if gd != gn:
            problems.append(f"{t}: {gn - gd} duplicate event ids in the lake")
    return problems


def replay_upsert(base_parquet, log_path):
    """The table after applying every logged write to the seed, in DuckDB."""
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE t AS SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                    event_type, value, props FROM '{base_parquet}'""")
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            w = json.loads(line)
            if w["op"] == "merge":
                con.execute("CREATE OR REPLACE TEMP TABLE src (event_id BIGINT, ts_us BIGINT, "
                            "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)")
                con.executemany("INSERT INTO src VALUES (?, ?, ?, ?, ?, ?)", w["rows"])
                con.execute("DELETE FROM t WHERE event_id IN (SELECT event_id FROM src)")
                con.execute("INSERT INTO t SELECT * FROM src")
            elif w["op"] == "delete":
                con.execute(f"DELETE FROM t WHERE {w['cond']}")
            else:
                raise ValueError(f"unknown write {w['op']}")
    return con


def gate_upsert(gate, data_dir):
    """The final table equals seed ⊕ upserts ⊖ deletes, row for row."""
    con = replay_upsert(os.path.join(data_dir, "events.parquet"), gate["log"])
    con.execute(f"""CREATE VIEW f AS SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                    event_type, value, props FROM '{gate["final"]}/*.parquet'""")
    problems = []
    nt = con.execute("SELECT count(*) FROM t").fetchone()[0]
    nf = con.execute("SELECT count(*) FROM f").fetchone()[0]
    if nt != nf:
        problems.append(f"final table has {nf} rows, replay has {nt}")
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL SELECT * FROM f)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM t)").fetchone()[0]
    if missing or extra:
        problems.append(f"final table differs from replay: {missing} rows missing, {extra} unexpected")
    return problems


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def digest(rel):
    """Order-preserving digest of a relation, columns sorted by name."""
    cols = rel.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    h.update(repr([(cols[i], str(rel.types[i])) for i in idx]).encode())
    n = 0
    for row in rel.fetchall():
        h.update(repr(tuple(_norm(row[i]) for i in idx)).encode())
        n += 1
    return h.hexdigest(), n


def gate_mix(gate, data_dir):
    """Each query's result digest equals its DuckDB oracle's; a query
    without an oracle returns the same non-zero row count every time."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(gate["oracle_sql"]) as f:
        oracles = json.load(f)
    problems = []
    for q in gate["queries"]:
        counts = gate["row_counts"].get(q, [])
        if not counts:
            problems.append(f"{q}: no successful execution")
            continue
        if len(set(counts)) != 1:
            problems.append(f"{q}: row counts differ between executions {sorted(set(counts))}")
        if q not in oracles:
            if counts[0] == 0:
                problems.append(f"{q}: returned no rows")
            continue
        got, n = digest(con.sql(f"SELECT * FROM '{gate['results_dir']}/{q}/*.parquet'"))
        want, m = digest(con.sql(oracles[q]))
        if got != want:
            problems.append(f"{q}: digest differs from oracle ({n} rows vs {m})")
    return problems


def check(workload, gate, data_dir):
    if workload == "kinesis_ingest":
        return gate_ingest(gate)
    if workload == "lake_upsert":
        return gate_upsert(gate, data_dir)
    if workload == "query_mix":
        return gate_mix(gate, data_dir)
    raise ValueError(f"no gate for {workload}")
