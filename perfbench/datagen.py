"""Seeded synthetic tables in the shape the engine's catalog reads.

Writes the ten parquet files `catalog.TABLES` names (``region`` ...
``embeddings``) into one directory. Column names, types and value domains
follow the repository's test fixtures (TPC-H-like star schema, an
``events`` stream, a word-salad ``documents`` corpus with ~5% " dup"
near-copies, and 64-dim unit ``embeddings``), so every registered query
and its DuckDB oracle run unchanged. The same ``(seed, sf)`` always gives
byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DUP_SHARE = 0.05
EMB_DIM = 64

_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
_EVENTS = ("click", "signup", "error", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_US_PER_DAY = 86_400_000_000


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def document_texts(rng, n: int) -> list[str]:
    """``n`` word-salad texts, ~5% of them a lower-id text plus " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embedding_array(vectors: np.ndarray) -> pa.Array:
    flat = pa.array(vectors.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(flat) + 1, EMB_DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = table_sizes(sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, c, _SEGMENTS),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": _pick(rng, p, names),
        "p_brand": _pick(rng, p, [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": _pick(rng, p, _TYPES),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": _pick(rng, o, ("F", "O", "P")),
        "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, o, _PRIORITIES),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, li, ("A", "N", "R")),
        "l_linestatus": _pick(rng, li, ("O", "F")),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, e)) + start
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e, dtype=np.int64)),
        "event_type": _pick(rng, e, _EVENTS),
        "value": np.round(rng.uniform(0.01, 500.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    texts = document_texts(rng, d)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = n["embeddings"]
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": embedding_array(unit_vectors(rng, v)),
        "label": pa.array(rng.integers(0, 10, v).astype(np.int32)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
