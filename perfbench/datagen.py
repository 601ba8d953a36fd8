"""Deterministic synthetic scale-factor tables for the batch workloads.

Writes the ten tables the engine's catalog reads (``tables.TABLE_NAMES``)
as one single-row-group parquet file each, with the schemas of
FIXTURES.md section B and row counts of scale factor 0.1 (600,000
lineitem rows, 5,000 documents). The distributions follow the same
shape: uniform TPC-H-like keys and measures, a 30-token document
vocabulary with exact and near-duplicate documents, 20 equal-sized
sources, and clustered unit-norm 64-d embeddings.

The tables are fixed (generator seed ``TABLE_SEED``), so expected
query outputs can be recorded once; a generated directory is reused
while its ``_SUCCESS`` marker names the current ``VERSION``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VERSION = "1"

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])

SF01 = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, days: int, n: int, unit: str = "ms") -> pa.Array:
    base = np.datetime64(start, "D")
    d = (base + rng.integers(0, days, n)).astype(f"datetime64[{unit}]")
    return pa.array(d, type=pa.timestamp(unit))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 50 and r < 0.05:
            # near duplicate: an earlier document with a few tokens changed
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(rows: dict[str, int] = SF01, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, ne = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": rng.choice(names, npart),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(P_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _dates(rng, "1995-01-01", 2404, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rng.choice(np.array(["O", "F"]), nl),
            "l_shipdate": _dates(rng, "1995-01-02", 2498, nl),
        }
    )
    month_ns = 30 * 86400 * 10**9
    ts = np.sort(rng.integers(0, month_ns, ne)) + np.datetime64("2024-01-01", "ns").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def ensure_tables(out_dir: str) -> str:
    """Generate the tables into ``out_dir`` unless this version is there."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker) and open(marker).read() == VERSION:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in build_tables().items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
        )
    with open(marker, "w") as fh:
        fh.write(VERSION)
    return out_dir
