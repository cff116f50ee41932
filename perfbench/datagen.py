"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog expects (``catalog.TABLES``)
as one parquet file each, with the schemas and value domains of the
repository's sf0.1 test data: a TPC-H-like star schema (fewer columns
than TPC-H), a clickstream ``events`` table, a ``documents`` corpus in
which 5% of the rows repeat an earlier text plus a marker word, and
clustered unit-norm ``embeddings``. Row counts scale linearly with
``scale``: 0.1 gives sf0.1's row counts (600k-ish lineitem rows, 17 MB
of parquet) except ``documents``, which gets a quarter of sf0.1's 5,000:
the DuckDB oracle of the MinHash dedup query takes about 13 s on 2
threads for 500 documents.

Unlike the original test data, ``(l_orderkey, l_linenumber)`` is
unique: each order gets 1-7 lines numbered from 1, as in TPC-H, so the
table can serve as a merge-on-read target keyed on those columns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
P_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _ts_days(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale``; same arguments, same data."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_ord = max(1_500, round(1_500_000 * scale))
    n_evt = max(1_000, round(1_000_000 * scale))
    n_doc = max(250, round(12_500 * scale))
    n_emb = max(500, round(20_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    perm = rng.permutation(len(orderkey))  # file order is not key order
    n_li = len(orderkey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": orderkey[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber[perm],
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days("1995-01-02", rng.integers(0, 2499, n_li)),
    })

    month_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, month_us, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ts,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_evt * 3 // 200), n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, n_doc)
    ]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in dups:  # near-duplicates: an earlier text plus a marker word
        texts[i] = texts[int(rng.integers(0, n_doc))].removesuffix(" dup") + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label,
    })
    return out


def write(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
