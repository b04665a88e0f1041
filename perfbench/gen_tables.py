"""Seeded parquet tables for the query-mix workload.

The registry queries read ``{sf_dir}/{table}.parquet``: a TPC-H-style
star (region, nation, customer, supplier, part, orders, lineitem) plus
an ``events`` stream, a ``documents`` corpus and unit ``embeddings``.
Column names, types and value domains follow the engine's fixture
tables; every value is drawn from one ``numpy`` generator seeded by the
caller, so a seed fixes the inputs exactly. Row counts scale with
``sf`` the way the fixtures do (lineitem 6M·sf, orders 1.5M·sf, ...).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "new", "old", "red", "small", "big", "dark")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
WORDS = tuple(
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch".split()
)
EMBED_DIM = 64
NEAR_DUP_RATE = 0.05


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), min(2_000, int(50_000 * sf))
    n_users = int(15_000 * sf)

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(), pa.string())

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pick(names, n_part),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
            "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pick(LANGS, n_docs, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0.0, 1.0, (n_vec, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
