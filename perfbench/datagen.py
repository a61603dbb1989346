"""Seeded generator for the engine's ten input tables.

Writes one single-row-group parquet file per table, with the column
names and types of ``schemas.TESTDATA_TABLES`` and the value shapes the
registry queries expect (TPC-H-style star schema, a time-ordered event
stream, a small text corpus with ~5 % near-duplicates, unit-norm
64-dimensional embeddings). The same ``(seed, sf)`` always gives the
same files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = ("a", "the", "row", "column", "table", "value", "key", "hash", "join",
         "merge", "sort", "scan", "filter", "group", "agg", "window", "stream",
         "batch", "query", "data", "spark", "vector", "part", "order",
         "customer", "line", "small", "big", "fast", "slow")
EMB_DIM = 64
_DAY_US = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _us(day: str) -> int:
    """Microseconds since the epoch at UTC midnight of ``day``."""
    return int(np.datetime64(day, "us").astype("int64"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = _us(first) // _DAY_US, _us(last) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int,
          p: tuple[float, ...] | None = None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    # time-ordered: event_id follows ts, ~30 days of traffic
    gaps = rng.exponential(30 * _DAY_US / n, n).astype("int64") + 1
    ts = _us("2024-01-01") + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    x = 0.15 * centroids[labels] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table, so a
    table's contents do not depend on which other tables are built."""
    rows = table_rows(sf)
    rng = {name: np.random.default_rng([seed, i])
           for i, name in enumerate(sorted(rows))}
    nc, ns, npart = rows["customer"], rows["supplier"], rows["part"]
    no, nl = rows["orders"], rows["lineitem"]
    r = rng["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(r, SEGMENTS, nc),
    })
    r = rng["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns),
    })
    r = rng["part"]
    keys = np.arange(npart)
    part = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": _pick(r, PART_TYPES, npart),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    r = rng["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), no),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_days(r, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": _pick(r, PRIORITIES, no),
    })
    r = rng["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), nl),
        "l_linestatus": _pick(r, ("F", "O"), nl),
        "l_shipdate": _ts(_days(r, "1995-01-02", "2001-11-04", nl)),
    })
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": customer, "supplier": supplier, "part": part,
        "orders": orders, "lineitem": lineitem,
        "events": events_table(rng["events"], rows["events"],
                          max(15, int(15_000 * sf))),
        "documents": _documents(rng["documents"], rows["documents"]),
        "embeddings": _embeddings(rng["embeddings"], rows["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet`` (one row group);
    return the file sizes in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes
