"""Seeded fixture tables for the registry workload.

The same ten tables, columns and value domains as the engine's test
fixtures (TESTDATA.md), at the smallest fixture size (lineitem 6 000
rows), drawn from the benchmark's seed with NumPy and written with
Arrow. ``documents`` carries near-duplicates (copies of an earlier
document with one word replaced) so the dedup and similarity queries
find pairs; ``embeddings`` are unit vectors clustered by ``label``."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500,
}
VOCAB = (
    "a the scan column window order sort part agg value line key join "
    "merge group query vector hash slow stream filter fast batch spark "
    "table small data big customer row"
).split()
DIM = 64
DAY_US = 86_400 * 1_000_000


def _dates(first: str, n_days: int, rng, n: int) -> pa.Array:
    base = np.datetime64(first, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "fr", "es", "zh", "de"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = SIZES["embeddings"]
    label = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, DIM))
    vec = centers[label] * 0.15 + rng.normal(size=(n, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    nation = np.arange(25)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nation],
            "n_regionkey": pa.array(nation % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"],
                n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["blue", "cold", "small", "large", "red", "green"], n["part"]),
                    rng.choice(["anvil", "widget", "bolt", "gear", "spring"], n["part"]))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(
                ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n["part"]) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _dates("1995-01-01", 2405, rng, n["orders"]),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"]),
        }),
    }
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _dates("1995-01-02", 2498, rng, m),
    })
    e = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * DAY_US, e)
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, e), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], e),
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_tables(seed: int, directory: str) -> str:
    """Write the seed's tables as ``<directory>/<name>.parquet`` (the
    layout the registry queries read)."""
    os.makedirs(directory, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory
