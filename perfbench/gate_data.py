"""Seeded input tables for the `gate_mix` workload.

The gate queries read parquet tables by name from a directory.  These are
written from the run's seed with the schema and value ranges of the
sf0.01 tables the gate registry is checked on (events, documents,
lineitem, orders, embeddings).  Each table's key is a seeded subset of its
id range, so every seed gives other geometry, graphs and texts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "key agg row scan slow fast table value part hash join data column window "
    "spark order batch small line customer query filter the a big sort stream "
    "merge group vector"
).split()
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "fr", "es", "zh")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DIM = 64

# rows per table for each --size (full = the sf0.01 row counts)
ROWS = {
    "full": {"events": 10_000, "documents": 500, "lineitem": 60_000, "orders": 15_000,
             "embeddings": 500},
    "tiny": {"events": 1_000, "documents": 100, "lineitem": 6_000, "orders": 1_500,
             "embeddings": 100},
}


def _ids(rng, n: int) -> np.ndarray:
    """n sorted distinct keys out of [0, 1.2 n)."""
    return np.sort(rng.choice(n * 6 // 5, n, replace=False)).astype(np.int64)


def _times(rng, n: int, start: str, days: int, step: str = "us") -> np.ndarray:
    unit = {"us": 86_400_000_000, "D": 1}[step]
    off = rng.integers(0, days * unit, n)
    return np.datetime64(start, step) + off.astype(f"timedelta64[{step}]")


def _texts(rng, n: int) -> list[str]:
    docs = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(8, 90, n)]
    # one in ten is a copy of another document, so dedup has groups to find
    for i in rng.choice(n, n // 10, replace=False):
        docs[i] = docs[rng.integers(n)]
    return docs


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, size: str) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = ROWS[size]
    ne, nd, nl, no, nv = (r[k] for k in ("events", "documents", "lineitem", "orders",
                                         "embeddings"))
    texts = _texts(rng, nd)
    orders = _ids(rng, no)
    return {
        "events": pa.table({
            "event_id": _ids(rng, ne),
            "ts": np.sort(_times(rng, ne, "2024-01-01", 30)),
            "user_id": rng.integers(0, 150, ne),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }),
        "documents": pa.table({
            "doc_id": _ids(rng, nd),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }),
        "lineitem": pa.table({
            "l_orderkey": np.sort(rng.choice(orders, nl)),
            "l_partkey": rng.integers(0, max(1, nl // 30), nl),
            "l_suppkey": rng.integers(0, 100, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), nl),
            "l_linestatus": rng.choice(("F", "O"), nl),
            "l_shipdate": _times(rng, nl, "1995-01-02", 2500, "D").astype("datetime64[us]"),
        }),
        "orders": pa.table({
            "o_orderkey": orders,
            "o_custkey": rng.integers(0, max(1, no // 10), no),
            "o_orderstatus": rng.choice(("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _times(rng, no, "1995-01-01", 2400, "D").astype("datetime64[us]"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }),
        "embeddings": pa.table({
            "vec_id": _ids(rng, nv),
            "embedding": pa.array(
                list((rng.standard_normal((nv, DIM)) * 0.12).astype(np.float32)),
                type=pa.list_(pa.float32()),
            ),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }),
    }


def write(out_dir: str, seed: int, size: str) -> dict[str, int]:
    """Write the tables as `<out_dir>/<name>.parquet`; return their row
    counts by name."""
    os.makedirs(out_dir, exist_ok=True)
    out = tables(seed, size)
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in out.items()}
