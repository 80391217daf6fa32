"""Seeded synthetic tables for the ``operator_queries`` workload.

The 14 timed queries of ``bench.py`` read six tables (``orders``,
``lineitem``, ``customer``, ``events``, ``documents``, ``embeddings``).
The benchmark must build its inputs from ``--seed`` alone, so this module
writes tables with the same schema and the same value distributions as the
TPC-H-like test data the queries were written against:

* relational tables: uniform keys and categories; ``o_custkey`` drawn
  uniformly from the customer keys (nearly every customer has an order);
  1..7 line items per order as in TPC-H, none for ~1.8% of orders (the
  reference data's share), with unique ``(l_orderkey, l_linenumber)``;
* ``events``: timestamps uniform over January 2024 at microsecond
  resolution, exponential ``value`` with mean 50;
* ``documents``: i.i.d. words from a 30-word vocabulary, 10..100 words per
  document, 5% near-duplicates (another document's text plus ``dup``),
  the same vocabulary and rates as ``scripts/gen_sf_extrap.py``;
* ``embeddings``: i.i.d. unit float32 vectors of dimension 64.

Row counts scale linearly with ``scale`` (1.0 = TPC-H scale factor 1).
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

# rows per unit of scale
ROWS = {
    "customer": 150_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

VOCAB = np.array(
    [
        "spark", "window", "merge", "table", "column", "vector", "stream",
        "value", "data", "small", "join", "filter", "big", "group", "hash",
        "customer", "sort", "order", "slow", "line", "part", "fast", "row",
        "the", "agg", "key", "query", "a", "scan", "batch",
    ]
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.412, 0.151, 0.149, 0.148, 0.140])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
FLAG_STATUS = np.array([("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("A", "O"), ("R", "O")])


def _n(table: str, scale: float) -> int:
    return max(8, int(round(ROWS[table] * scale)))


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D")
    days = int((np.datetime64(last, "D") - lo) / np.timedelta64(1, "D"))
    d = lo + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
        }
    )


def _lineitem(rng: np.random.Generator, n_orders: int, scale: float) -> pa.Table:
    """Unique (l_orderkey, l_linenumber), so windows ordered by them have
    no ties and every engine picks the same rows."""
    lines = rng.integers(1, 8, n_orders)
    lines[rng.random(n_orders) < 0.018] = 0
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    fs = FLAG_STATUS[rng.integers(0, len(FLAG_STATUS), n)]
    return pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, max(1, int(200_000 * scale)), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * scale)), n).astype(np.int64),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": fs[:, 0],
            "l_linestatus": fs[:, 1],
            "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
        }
    )


def _events(rng: np.random.Generator, n: int, scale: float) -> pa.Table:
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = t0 + rng.integers(0, span_us, n).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * scale)), n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_dup = int(round(n * 0.05))
    n_base = n - n_dup
    lengths = rng.integers(10, 101, n_base)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    texts += [texts[j] + " dup" for j in rng.integers(0, n_base, n_dup)]
    texts = [texts[j] for j in rng.permutation(n)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def write_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write the six tables as ``<out_dir>/<table>.parquet``; returns the
    row count of each.  Same ``(seed, scale)`` => identical files."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    n = {t: _n(t, scale) for t in ROWS}
    built = {
        "customer": _customer(rngs["customer"], n["customer"]),
        "orders": _orders(rngs["orders"], n["orders"], n["customer"]),
        "lineitem": _lineitem(rngs["lineitem"], n["orders"], scale),
        "events": _events(rngs["events"], n["events"], scale),
        "documents": _documents(rngs["documents"], n["documents"]),
        "embeddings": _embeddings(rngs["embeddings"], n["embeddings"]),
    }
    for name, table in built.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: table.num_rows for name, table in built.items()}
