"""Seeded generator for the star-schema tables the package reads.

Writes one parquet file per table (``<name>.parquet``) with the column
names and types of the package's table catalog
(``pos_pipeline_core_etl_spark.sources.tables.TABLES``).  The value
recipes follow the shapes the package's queries are written against:
uniform keys, a 64-name part vocabulary, a 30-word document vocabulary
with about 5% near-duplicate documents (an earlier text plus " dup"),
and unit-norm 64-d embeddings with a weak per-label centre.

The same ``seed`` and ``Scale`` give byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a the data join hash row batch scan column customer filter small slow "
    "merge order vector line table agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64


@dataclass(frozen=True)
class Scale:
    """Row counts per table and the calendar span of the order dates."""

    orders: int
    lineitems: int
    customers: int
    parts: int
    suppliers: int
    documents: int
    embeddings: int
    events: int
    days: int
    first_day: dt.date = dt.date(1995, 1, 1)

    def rows(self) -> dict[str, int]:
        return {
            "region": len(REGIONS), "nation": 25, "customer": self.customers,
            "supplier": self.suppliers, "part": self.parts, "orders": self.orders,
            "lineitem": self.lineitems, "events": self.events,
            "documents": self.documents, "embeddings": self.embeddings,
        }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, scale: Scale, n: int) -> pa.Array:
    start = np.datetime64(scale.first_day, "us")
    days = rng.integers(0, scale.days, n).astype("timedelta64[D]")
    return pa.array(start + days, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 0.14 / np.sqrt(EMBED_DIM), (10, EMBED_DIM))
    x = centres[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Build every table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    n_o, n_l, n_c, n_p, n_s = (
        scale.orders, scale.lineitems, scale.customers, scale.parts, scale.suppliers,
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_o).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _dates(rng, scale, n_o),
        "o_orderpriority": rng.choice(PRIORITIES, n_o).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_l).tolist(),
        "l_linestatus": rng.choice(("O", "F"), n_l).tolist(),
        "l_shipdate": _dates(rng, scale, n_l),
    })
    n_e = scale.events
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts0 + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_e).tolist(),
        "value": np.round(np.clip(rng.exponential(30.0, n_e), 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    t["documents"] = _documents(rng, scale.documents)
    t["embeddings"] = _embeddings(rng, scale.embeddings)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
