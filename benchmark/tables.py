"""Seeded synthetic tables for the query workloads, and their DuckDB oracle check.

`write_tables(out_dir, sf, seed)` writes one parquet file per table with the
shapes and distributions of the repo's reference test tables (FIXTURES.md §3):
a TPC-H-like star schema, an `events` table, a `documents` corpus with 5%
planted near-duplicates and unit-norm 64-d `embeddings`. The same seed always
gives byte-identical tables.

`check_results(data_dir, results_dir, oracle_sql)` compares each query's
reference result (a parquet dump written by the JVM harness) with the answer
DuckDB computes from the oracle SQL, using the normalisation of
scripts/check_oracle.py: columns sorted by name, objects as strings, floats
rounded to 6 places, rows sorted.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def rows(sf):
    """Row counts per table at scale factor `sf` (FIXTURES.md §3.4)."""
    return {"customer": int(150_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "part": int(200_000 * sf),
            "supplier": max(1, int(10_000 * sf)), "events": int(1_000_000 * sf),
            "documents": max(500, int(50_000 * sf)), "embeddings": max(500, int(20_000 * sf))}


def write_tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = rows(sf)
    n_cust, n_ord, n_line, n_part = n["customer"], n["orders"], n["lineitem"], n["part"]
    n_supp, n_ev, n_docs, n_vec = n["supplier"], n["events"], n["documents"], n["embeddings"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})

    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})

    # events: strictly increasing timestamps over 2024-01-01 .. 2024-01-30
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    types = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word strings; 5% are an earlier document + " dup"
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def _norm(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    for c in df.columns:
        if df[c].dtype == np.float64:
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_results(data_dir, results_dir, oracle_sql):
    """Return {query: None if the reference result matches its oracle, else a reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no reference result"
            continue
        try:
            got = _norm(con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
            want = _norm(con.execute(sql).df())
        except Exception as e:  # an oracle or read error fails the query, never skips it
            verdicts[name] = f"error: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            verdicts[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdicts[name] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            verdicts[name] = "values differ"
        else:
            verdicts[name] = None
    return verdicts
