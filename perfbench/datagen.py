"""Deterministic synthetic tables in the package's input schema.

The benchmark builds its own inputs, so it needs no external data
directory: every table the registry reads (``TABLES``) is generated here
with NumPy and written as one parquet file per table, in the same column
names, types and value domains as the TPC-H-shaped tables the package is
developed against (documents with ~5% near-duplicates, unit-norm
64-dimensional embeddings with ten labels, and so on).

The table contents depend only on ``DATA_SEED`` and the scale factor,
never on the workload seed: the workload seed decides batch membership,
landing order and query order over these fixed tables, so every seed
reads the same bytes and the DuckDB oracles check the same answers.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPE = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_SEGMENT = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGION = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT = ["view", "click", "purchase", "signup", "error"]
_LANG = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in micros


def _rows(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGION,
        }
    )


def nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows(150_000, sf, 150)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENT)[rng.integers(0, 5, n)],
        }
    )


def supplier(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows(10_000, sf, 10)
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def part(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows(200_000, sf, 200)
    keys = np.arange(n)
    names = [
        f"{_ADJ[a]} {_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(_PTYPE)[rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )


def orders(rng: np.random.Generator, sf: float, n_cust: int) -> pa.Table:
    n = _rows(1_500_000, sf, 1500)
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
            "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n)],
        }
    )


def lineitem(
    rng: np.random.Generator, sf: float, n_ord: int, n_part: int, n_supp: int
) -> pa.Table:
    n = _rows(6_000_000, sf, 6000)
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    days = rng.integers(1, 2500, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(_EPOCH_1995 + days * _DAY_US),
        }
    )


def events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows(1_000_000, sf, 1000)
    users = _rows(15_000, sf, 15)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": np.array(_EVENT)[rng.integers(0, 5, n)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(rng: np.random.Generator, sf: float) -> pa.Table:
    """Token soup over a 30-word vocabulary; every ~20th document is a
    near-duplicate (an earlier document plus the token ``dup``)."""
    n = _rows(50_000, sf, 50)
    texts: list[str] = []
    vocab = np.array(_VOCAB)
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANG)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = 500 if sf <= 0.01 else 2000
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 0.8, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, sf: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write ``tables`` at scale ``sf`` under ``out_dir`` as
    ``<name>.parquet``; returns the row count of each table written.
    Each table draws from its own stream, so asking for a subset yields
    the same rows as generating all of them."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = _rows(150_000, sf, 150)
    n_ord = _rows(1_500_000, sf, 1500)
    n_part = _rows(200_000, sf, 200)
    n_supp = _rows(10_000, sf, 10)
    builders = {
        "region": lambda r: region(),
        "nation": lambda r: nation(),
        "customer": lambda r: customer(r, sf),
        "supplier": lambda r: supplier(r, sf),
        "part": lambda r: part(r, sf),
        "orders": lambda r: orders(r, sf, n_cust),
        "lineitem": lambda r: lineitem(r, sf, n_ord, n_part, n_supp),
        "events": lambda r: events(r, sf),
        "documents": lambda r: documents(r, sf),
        "embeddings": lambda r: embeddings(r, sf),
    }
    counts = {}
    for i, name in enumerate(builders):
        if name not in tables:
            continue
        table = builders[name](np.random.default_rng([DATA_SEED, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
