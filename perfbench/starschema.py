"""Seeded tables for the ``registry`` workload: the star schema plus the
``events``, ``documents`` and ``embeddings`` tables that the queries in
``bitcoin_etl_spark.plans.queries`` read, with their column names and
types.  ``scale=1`` gives the row counts of the sf0.001 test tables
(6,000 line items, 500 documents).  Value domains follow those tables:
five market segments, 30-word document texts of 10 to 99 words with
about one near-duplicate in twenty, unit-norm 64-d embeddings, and
``{"k": n}`` event properties.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["cold", "hot", "blue", "red", "new", "old", "large", "small"]
PART_NOUN = ["widget", "rod", "gear", "anvil", "ring", "bolt", "nut", "pipe"]
PART_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS, LANG_P = ["en", "fr", "es", "zh", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400 * 10**6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _i32(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int32))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            base = out[int(rng.integers(i))].split()
            cut = int(rng.integers(0, 3))
            words = base[:len(base) - cut] + ["dup"] * int(rng.integers(1, 3))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        out.append(" ".join(words))
    return out


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)

    def n(x: int) -> int:
        return max(10, int(x * scale))

    n_cust, n_supp, n_part, n_ord = n(150), n(10), n(200), n(1500)
    n_ev, n_doc, n_vec = n(1000), n(500), n(500)
    epoch95 = np.datetime64("1995-01-01", "us").astype(np.int64)
    epoch24 = np.datetime64("2024-01-01", "us").astype(np.int64)

    out = {
        "region": pa.table({"r_regionkey": _i32(range(5)),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": _i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": _i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
    }
    retail = np.round(900 + (np.arange(n_part) % 200) / 10, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": _i32(rng.integers(1, 51, n_part)),
        "p_retailprice": retail})

    odate = epoch95 + rng.integers(0, 2403, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})

    lines = rng.integers(1, 8, n_ord)
    lines = np.maximum(1, np.round(lines * (4 * n_ord) / lines.sum())).astype(int)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": _i32(np.concatenate([np.arange(1, k + 1) for k in lines])),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.02, 1.15, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": list(rng.choice(["N", "R", "A"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * DAY_US)})

    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(epoch24 + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = _texts(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _i32(rng.integers(0, 10, n_vec))})
    return out


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> int:
    """Write ``<table>.parquet`` for every table; return the row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    return rows
