"""Deterministic synthetic fixture in the shape of graft's test tables.

The tables match the schemas, key ranges and value distributions of the
TPC-H-ish star schema plus `events`, `documents` and `embeddings` that
graft's registry queries read (see TESTDATA.md at the repo root): one
parquet file per table, one row group each, microsecond timestamps
without a time zone. Row counts scale linearly with `sf` (sf 0.1 gives
600k lineitem rows). The same (sf, seed) always gives byte-identical
files, so a fixture can be cached and its identity recorded.

    python3 perfbench/fixture.py <out_dir> <sf> [seed] [table ...]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "large hot blue old cold small green red".split()
NOUN = "ring bolt plate nut screw gear pipe valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, start, end):
    """n timestamps at midnight, uniform over [start, end] (inclusive)."""
    span = (end - start).days
    return np.int64(_us(start)) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build(name, sf, seed):
    """One table as a pyarrow Table."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    if name == "part":
        k = np.arange(n_part)
        return pa.table({
            "p_partkey": pa.array(k, pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                     dt.datetime(2001, 8, 1))),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    if name == "lineitem":
        flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": flags,
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_days(rng, n_line, dt.datetime(1995, 1, 2),
                                    dt.datetime(2001, 11, 4)))})
    if name == "events":
        t0 = _us(dt.datetime(2024, 1, 1))
        ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    if name == "documents":
        texts = []
        for i in range(n_doc):
            if i > 20 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
            else:
                words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
                texts.append(" ".join(VOCAB[w] for w in words))
        lang = np.where(rng.random(n_doc) < 0.4, "en",
                        np.array(LANGS[1:])[rng.integers(0, 4, n_doc)])
        return pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        x = rng.standard_normal((n_emb, 64))
        x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    raise ValueError(f"unknown table {name}")


def generate(out_dir, sf, seed=42, tables=TABLES):
    """Write the tables that are missing under out_dir; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(path):
            continue
        tmp = path + ".tmp"
        pq.write_table(build(name, sf, seed), tmp, row_group_size=1 << 30)
        os.replace(tmp, path)
    return out_dir


if __name__ == "__main__":
    out, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    generate(out, sf, seed, tuple(sys.argv[4:]) or TABLES)
