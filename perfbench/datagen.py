"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table with the schemas and value
distributions of the project's analytic fixtures (FIXTURES.md section B):
a TPC-H-like star schema plus `events`, `documents` and `embeddings`.
`sf` scales row counts the same way the fixtures do (orders = 1.5M x sf).
The same seed always gives byte-identical tables.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "large hot blue old cold red small shiny".split()
PART_NOUN = "ring bolt plate gear widget rod anvil nut".split()
ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_tables(seed, sf, names=ALL_TABLES):
    """Return {table name: pyarrow.Table} for the requested tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    out = {}
    # every table draws from its own child stream, so asking for a subset
    # of tables yields the same rows as a full generation
    streams = dict(zip(ALL_TABLES, rng.spawn(len(ALL_TABLES))))
    for name in names:
        r = streams[name]
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
        elif name == "customer":
            out[name] = pa.table({
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(r.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))})
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
        elif name == "part":
            keys = np.arange(n_part, dtype=np.int64)
            out[name] = pa.table({
                "p_partkey": pa.array(keys),
                "p_name": pa.array([f"{a} {b}" for a, b in zip(
                    r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))]),
                "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
                "p_type": pa.array(r.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
                "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1))})
        elif name == "orders":
            out[name] = orders(r, n_ord, n_cust)
        elif name == "lineitem":
            out[name] = pa.table({
                "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
                "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
                "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line)),
                "l_linestatus": pa.array(r.choice(["F", "O"], n_line)),
                "l_shipdate": _ts(_days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line))})
        elif name == "events":
            start = np.datetime64("2024-01-01T00:00:00", "us")
            offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
            out[name] = pa.table({
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": _ts(start + offs.astype("timedelta64[us]")),
                "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
                "event_type": pa.array(r.choice(
                    ["click", "error", "purchase", "signup", "view"], n_ev)),
                "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
        elif name == "documents":
            out[name] = documents(r, n_doc)
        elif name == "embeddings":
            labels = r.integers(0, 10, n_emb)
            centers = r.normal(0.0, 1.0, (10, 64))
            v = centers[labels] * 0.3 + r.normal(0.0, 1.0, (n_emb, 64))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            out[name] = pa.table({
                "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32))})
    return out


def write_tables(out_dir, seed, sf, names=ALL_TABLES):
    for name, tbl in make_tables(seed, sf, names).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")
