"""Seeded generator for the star-schema tables the query mix reads.

Writes ``orders``, ``events`` and ``documents`` from a seed with the
schemas, shapes and value laws of the synthetic test tables: uniform
keys, 2-decimal money, a 30-day ``events`` stream with exponential
values, and documents of 10–100 words from a 31-word vocabulary. Row
counts scale with ``sf`` (sf 0.1 → 150k orders, 100k events, 5k
documents).

Each table is a directory of parts with several row groups, so scans
split across cores as they would over a real multi-file table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY_US = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi]."""
    lo_d, hi_d = _epoch_us(lo) // _DAY_US, _epoch_us(hi) // _DAY_US
    days = rng.integers(lo_d, hi_d + 1, n, dtype=np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf), "users": int(15_000 * sf),
        "documents": int(50_000 * sf),
    }


def _orders(rng, n) -> pa.Table:
    k = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
        "o_totalprice": _money(rng, k, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })


def _events(rng, n) -> pa.Table:
    k = n["events"]
    t0 = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, k, dtype=np.int64))
    return pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], k, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def _documents(rng, n) -> pa.Table:
    k = n["documents"]
    n_words = rng.integers(10, 101, k)
    words = rng.integers(0, len(WORDS), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(WORDS[w] for w in words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, k, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


#: table name → builder; each table draws from its own seeded stream,
#: so a table's rows do not depend on which other tables are written
TABLES = {"orders": _orders, "events": _events, "documents": _documents}


def write(root: str, sf: float, seed: int) -> None:
    """Write every table as ``<root>/<name>.parquet/part-NNNNN.parquet``."""
    sizes = _sizes(sf)
    for i, name in enumerate(TABLES):
        table = TABLES[name](np.random.default_rng([seed, i]), sizes)
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d)
        n_files = max(1, min(32, table.num_rows // 1_000))
        per = -(-table.num_rows // n_files)
        for j in range(n_files):
            chunk = table.slice(j * per, per)
            if chunk.num_rows == 0:
                break
            pq.write_table(
                chunk, os.path.join(d, f"part-{j:05d}.parquet"),
                row_group_size=max(10_000, per // 4),
            )
