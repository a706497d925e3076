"""Deterministic generator for the engine's ten input tables.

The benchmark makes its own inputs so that it reads nothing outside
its checkout. Schemas, physical types and value domains follow
FIXTURES.md: a TPC-H-like star (region, nation, supplier, customer,
part, orders, lineitem), an ``events`` stream, a ``documents`` text
table with planted exact and near duplicates, and unit-norm
``embeddings``. Row counts scale with ``sf`` the same way the
fixtures do (lineitem = 6,000,000 x sf; documents and embeddings
floor at 500).

Every table draws from its own ``numpy`` stream seeded by
``(seed, table index)``, so the same ``(sf, seed)`` always writes
byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "supplier",
    "customer",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"]
P_TYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the big small fast slow data table row column key value sort "
    "merge join hash scan filter group agg order line part customer "
    "query window stream batch vector spark"
).split()
USERS = 1500
EMB_DIM = 64
DUP_RATE = 0.05

_DAY_US = 86_400_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    """Midnight-only timestamps (µs) drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _counts(sf: float) -> dict[str, int]:
    return {
        "supplier": max(10, round(10_000 * sf)),
        "customer": max(150, round(150_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    pos = 0
    dup = rng.random(n) < DUP_RATE
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        k = int(n_words[i])
        if dup[i] and i > 0:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(src[i])] + " dup")
        else:
            texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    m = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_table(name: str, sf: float, seed: int) -> pa.Table:
    """One table of the dataset at scale factor ``sf``."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    c = _counts(sf)
    if name == "region":
        return pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": REGIONS,
            }
        )
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table(
            {
                "n_nationkey": keys,
                "n_name": [f"NATION_{k}" for k in keys],
                "n_regionkey": keys % 5,
            }
        )
    if name == "supplier":
        n = c[name]
        return pa.table(
            {
                "s_suppkey": np.arange(n, dtype=np.int64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n)],
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _money(-999.99, 9999.99, n, rng),
            }
        )
    if name == "customer":
        n = c[name]
        return pa.table(
            {
                "c_custkey": np.arange(n, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(n)],
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _money(-999.99, 9999.99, n, rng),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            }
        )
    if name == "part":
        n = c[name]
        keys = np.arange(n, dtype=np.int64)
        adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n)]
        noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n)]
        return pa.table(
            {
                "p_partkey": keys,
                "p_name": np.char.add(np.char.add(adj, " "), noun),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n)],
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        )
    if name == "orders":
        n = c[name]
        return pa.table(
            {
                "o_orderkey": np.arange(n, dtype=np.int64),
                "o_custkey": rng.integers(0, c["customer"], n),
                "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n)],
                "o_totalprice": _money(1000.0, 500000.0, n, rng),
                "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n, rng)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            }
        )
    if name == "lineitem":
        n = c[name]
        return pa.table(
            {
                "l_orderkey": rng.integers(0, c["orders"], n),
                "l_partkey": rng.integers(0, c["part"], n),
                "l_suppkey": rng.integers(0, c["supplier"], n),
                "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(900.0, 105000.0, n, rng),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
                "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n, rng)),
            }
        )
    if name == "events":
        n = c[name]
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        span = 30 * _DAY_US
        ts = start + np.sort(rng.integers(0, span, n))
        return pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": _ts(ts),
                "user_id": rng.integers(0, USERS, n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )
    if name == "documents":
        return _documents(c[name], rng)
    if name == "embeddings":
        return _embeddings(c[name], rng)
    raise ValueError(f"unknown table {name!r}")


def write_dataset(out_dir: str, sf: float, seed: int) -> None:
    """Write all ten tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(make_table(name, sf, seed), os.path.join(out_dir, f"{name}.parquet"))
