"""Seeded generator for the engine's fixture tables.

Writes the ten tables the catalog reads (``<dir>/<table>.parquet``) with
the schemas and value distributions of the repository's sf0.001 test
fixtures: a TPC-H-like star schema, an ``events`` stream, a
``documents`` corpus with appended-marker near duplicates, and
unit-norm 64-d ``embeddings``. The same seed always writes the same
tables; other seeds change the random draws but not the row counts,
so the work per query stays comparable across seeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.001 fixture; `users` is the events.user_id range.
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
    "users": 15,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_MS_PER_DAY = 86_400_000
_DATE_LO = np.datetime64("1995-01-01", "ms").astype(np.int64)
_DATE_HI = np.datetime64("2001-08-01", "ms").astype(np.int64)
_EVENTS_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, hi_extra: int = 0) -> pa.Array:
    days = rng.integers(0, (_DATE_HI - _DATE_LO) // _MS_PER_DAY + hi_extra + 1, n)
    return pa.array(_DATE_LO + days * _MS_PER_DAY, pa.timestamp("ms")).cast(
        pa.timestamp("us")
    )


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every fixture table, drawn from one generator seeded with `seed`."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(n["customer"]),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(n["supplier"]),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    n_part = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(n_part),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        }
    )
    n_ord = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    n_li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, n_li, hi_extra=95),
        }
    )
    n_ev = n["events"]
    span_us = 30 * _MS_PER_DAY * 1000
    out["events"] = pa.table(
        {
            "event_id": _ids(n_ev),
            "ts": pa.array(
                _EVENTS_T0 + np.sort(rng.integers(0, span_us, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n["users"], n_ev)),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": _ids(n_emb),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents; a share of them copy another document and
    append `` dup``, the near-duplicate shape the dedup queries look for."""
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 100, n_docs)
    ]
    for i in rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pa.table(
        {
            "doc_id": _ids(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_fixture(out_dir: str, seed: int) -> str:
    """Write every table under `out_dir` and return it (the ``sf_dir``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
