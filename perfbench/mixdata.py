"""Seeded tables for the query_mix workload, and the DuckDB oracle digests.

The tables follow the schemas of the project's TPC-H-like star schema plus
`events`, `documents` and `embeddings` (one Parquet file per table). The
same (seed, scale) always gives byte-identical files.

The oracle digest of a query canonicalizes a result the way the project's
oracle gate does (columns sorted by name, rows sorted by their string
form) and hashes it, so a Spark result and a DuckDB result that the gate
would call equal have equal digests.
"""
import decimal
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the spark line column order small sort fast value scan hash slow "
         "group agg filter query key window row part table stream merge data "
         "batch big join vector customer").split()


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds` as a pyarrow array."""
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("int64")
          .astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed, scale):
    """All tables as pyarrow Tables. `scale` 1.0 = 600k lineitem rows."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_li = int(600_000 * scale)
    n_ord, n_cust = max(n_li // 4, 10), max(n_li // 40, 10)
    n_part, n_supp = max(n_li // 30, 10), max(n_li // 600, 5)
    n_ev, n_doc, n_emb = max(n_li // 6, 10), max(n_li // 60, 50), max(n_li // 60, 50)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ["large", "hot", "blue", "small", "red", "green", "cold", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)})
    day = 86400.0
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _ts("1992-01-01", rng.integers(0, 3650, n_ord) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1992-01-01", rng.integers(0, 3650, n_li) * day)})
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.round(rng.uniform(0, 30 * day, n_ev), 6)),
        "user_id": pa.array(rng.integers(0, max(n_ev // 60, 10), n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(n)))
             for n in rng.integers(5, 70, n_doc)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "fr", "es", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(seed, scale, directory):
    """Write every table once; a finished directory is reused as-is."""
    done = os.path.join(directory, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
    open(done, "w").close()


def _cell(x):
    if isinstance(x, decimal.Decimal):
        return x.normalize()
    if isinstance(x, list):
        return [_cell(y) for y in x]
    return x


def digest(colnames, rows):
    """Canonical digest: columns by name, rows by their string form."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256(repr([colnames[i] for i in order]).encode())
    for r in out:
        h.update(repr(r).encode())
    return f"{len(out)}:{h.hexdigest()[:24]}"


def connect(directory):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{directory}/{t}.parquet'")
    return con


def oracle_digests(directory, oracle_sql):
    """Digest of every oracle query's DuckDB result, cached per data set."""
    cache = os.path.join(directory, "_oracle.json")
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    todo = {k: v for k, v in oracle_sql.items() if have.get(k, {}).get("sql") != v}
    if todo:
        con = connect(directory)
        for name, sql in todo.items():
            rel = con.sql(sql)
            have[name] = {"sql": sql, "digest": digest(rel.columns, rel.fetchall())}
        with open(cache, "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
    return {k: have[k]["digest"] for k in oracle_sql}


def result_digest(directory, path):
    """Digest of a Spark result written as Parquet under `path`."""
    con = connect(directory)
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    return digest(rel.columns, rel.fetchall())


if __name__ == "__main__":
    import sys
    write_tables(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
