"""Seeded input generator: the benchmark's star-schema tables and vector
corpora, written as parquet with the column names and types the engine's
catalog reads (`catalog.TABLES`).

Every value comes from one `numpy.random.Generator` seeded by the caller,
and the parquet writer is given fixed options, so the same seed writes
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CENTRES = 256

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols),
        os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
        write_statistics=True,
    )


def _vectors(X: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, X.size + 1, X.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def mixture(rng: np.random.Generator, n: int, centres: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors drawn from a Gaussian mixture around
    ``centres``; returns (vectors, centre index per vector)."""
    which = rng.integers(0, len(centres), n)
    X = centres[which] + rng.normal(0.0, 0.05, (n, centres.shape[1]))
    return X.astype(np.float32), which


def mixture_centres(rng: np.random.Generator) -> np.ndarray:
    """The benchmark's 256 mixture centres in 64 dimensions."""
    C = rng.normal(0.0, 1.0, (CENTRES, DIM))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def write_embeddings(out_dir: str, name: str, ids: np.ndarray, X: np.ndarray, labels: np.ndarray) -> None:
    _write(out_dir, name, {
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": _vectors(X),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_star(out_dir: str, sf: float, rng: np.random.Generator,
               embeddings: tuple[np.ndarray, np.ndarray] | None = None) -> None:
    """Write the ten catalog tables at scale factor ``sf`` into ``out_dir``.

    ``embeddings`` optionally replaces the default unit-norm embedding
    table with (vectors, labels) the caller generated."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })
    d0 = _days_since_epoch(1995, 1, 1)
    d1 = _days_since_epoch(2001, 8, 1)
    order_days = rng.integers(d0, d1 + 1, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenumber = (np.arange(n_line) - starts) % 7 + 1
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order.astype(np.int64)),
        "l_partkey": pa.array(l_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts_days(order_days[l_order] + rng.integers(1, 121, n_line)),
    })
    t0 = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    span = 30 * _DAY_US
    ts = np.sort(rng.integers(t0, t0 + span, n_evt))
    n_users = max(15, n_evt // 66)
    # ts is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), as in the
    # engine's sf0.001-sf0.1 test data, so the catalog reads it as a
    # timestamp directly. Its nanosAsLong branch serves TIMESTAMP(NANOS)
    # files, which that data does not contain.
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_evt), 490.0) + 0.01, 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    if embeddings is None:
        X = rng.normal(0.0, 1.0, (n_emb, DIM))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        labels = rng.integers(0, 10, n_emb)
    else:
        X, labels = embeddings
    write_embeddings(out_dir, "embeddings", np.arange(len(X)), X, labels)
