"""Seeded catalog dataset for the catalog workloads.

The catalog queries read ten parquet tables in the layout
``sources.readers.load_table`` expects (``<dir>/<name>.parquet``): a
TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus
with planted near-duplicates and an ``embeddings`` table of unit
vectors. This module writes those tables from a fixed seed, with the
column names, physical types and value distributions the catalog was
written against, so the benchmark needs no data from outside its
checkout. Query outputs are checked against the DuckDB oracles on the
same files, so the check does not depend on matching any other copy
of the data.

Row counts scale with ``SF`` like the engine's test data: lineitem
6M x SF, orders 1.5M x SF, events 1M x SF.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.01
SCHEMA_VERSION = 1

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(days: np.ndarray, base: str) -> pa.Array:
    """Timestamp[us] column from float day offsets after ``base``."""
    micros = np.datetime64(base, "us").astype(np.int64) + (days * 86_400e6).astype(np.int64)
    return pa.array(micros.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * SF))
    n_supp = max(10, int(10_000 * SF))
    n_part = max(200, int(200_000 * SF))
    n_orders = max(1500, int(1_500_000 * SF))
    n_line = 4 * n_orders
    n_events = max(1000, int(1_000_000 * SF))
    n_users = max(15, int(15_000 * SF))
    n_docs = max(100, int(50_000 * SF))
    n_emb = max(100, int(50_000 * SF))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(rng.integers(0, 2404, n_orders).astype(float), "1995-01-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, 2499, n_line).astype(float), "1995-01-01"),
    })
    gaps = rng.exponential(30.0 * 86_400 / n_events, n_events)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.cumsum(gaps) / 86_400, "2024-01-01"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(n_docs, rng)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return t


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Word-soup documents; about 5% are near-copies of an earlier
    document (one word appended or dropped), which is what gives the
    dedup, clustering and k-core queries non-trivial work."""
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            toks = src + ["dup"] if rng.random() < 0.5 else src[:-1]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def ensure_catalog(work_dir: str) -> str:
    """Directory holding the seed-42 tables at ``SF``, written on first
    use. The data does not depend on the benchmark seed, so one copy
    serves every run in a checkout."""
    out = os.path.join(work_dir, f"catalog-sf{SF}-v{SCHEMA_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


def table_bytes(data_dir: str, name: str) -> int:
    return os.path.getsize(os.path.join(data_dir, f"{name}.parquet"))


if __name__ == "__main__":
    # python -m perfbench.catalog_data WORK_DIR: prints the data directory
    import sys

    print(ensure_catalog(sys.argv[1]))
