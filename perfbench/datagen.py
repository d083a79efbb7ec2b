"""Seeded generator for the registry's input tables.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the column names, physical types and
value domains the registry's plans and DuckDB oracles expect: a
TPC-H-like star schema, a 30-day event stream, a small text corpus
with planted near-duplicates, and label-clustered unit embeddings.

Row counts scale linearly with ``sf`` (sf=0.01 gives 60,000 lineitem
rows). The same ``(sf, seed)`` always gives byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "large", "small"]
PART_NOUN = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gizmo", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_ORDER_START = datetime(1995, 1, 1)
_SHIP_START = datetime(1995, 1, 2)
_EVENT_START = datetime(2024, 1, 1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: datetime, rng: np.random.Generator, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; see ``write`` for the on-disk form."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_line = max(int(6_000_000 * sf), 50)
    n_users = max(int(15_000 * sf), 5)
    n_events = max(int(1_000_000 * sf), 50)
    n_docs = max(int(50_000 * sf), 20)
    n_vecs = max(int(50_000 * sf), 20)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
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
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(_ORDER_START, rng, 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(_SHIP_START, rng, 2498, n_line),
        }
    )
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    ts = np.datetime64(_EVENT_START, "us") + offsets.astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": _keys(n_events),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.clip(np.round(rng.exponential(50.0, n_events), 2), 0.01, None),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus marker tokens
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": _keys(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=0.125, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes
