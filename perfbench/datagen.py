"""Deterministic fixture generator for the benchmark.

Writes the ten catalog tables (``pixels_spark.catalog.TABLES``) as one
single-row-group parquet file each, the same shape as the test fixtures:
TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus with
5% near-duplicates (a copy of another document plus `` dup``) and unit
``embeddings`` of dimension 64. Sizes follow the sf0.01 fixture.

The data is a fixed function of ``DATA_SEED``; the benchmark's ``--seed``
only drives the operation streams, so every run times the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> list:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Return every fixture table as an Arrow table (pure function of seed)."""
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, _ADJ, np_), _pick(rng, _NOUN, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": _pick(rng, _PTYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    gaps_us = rng.exponential(259e6, ne).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, N_USERS, ne), i64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [" ".join(_pick(rng, _VOCAB, int(k))) for k in rng.integers(10, 100, nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[(i + 1 + rng.integers(0, nd - 1)) % nd] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), i64),
            "text": texts,
            "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return t


def write_fixture(dest: str, seed: int = DATA_SEED) -> str:
    """Write every table to ``dest/<name>.parquet`` (one row group each)."""
    os.makedirs(dest, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(
            table, os.path.join(dest, f"{name}.parquet"), row_group_size=len(table)
        )
    return dest
