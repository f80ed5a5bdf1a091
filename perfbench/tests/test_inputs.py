"""Seed determinism of the generated inputs and the operation sequence."""

from __future__ import annotations

import filecmp
import os
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

from perfbench import analytics, datagen, vectors

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _star(path, seed):
    datagen.write_star(str(path), 0.001, np.random.default_rng(seed))
    return path


def test_same_seed_writes_byte_identical_tables(tmp_path):
    a, b = _star(tmp_path / "a", 5), _star(tmp_path / "b", 5)
    names = [f"{t}.parquet" for t in TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert sorted(match) == sorted(names) and not mismatch and not errors
    c = _star(tmp_path / "c", 6)
    assert not filecmp.cmp(a / "lineitem.parquet", c / "lineitem.parquet", shallow=False)


def test_tables_carry_the_catalog_schema(tmp_path):
    path = _star(tmp_path, 1)
    want = {
        "lineitem": {"l_orderkey": "int64", "l_shipdate": "timestamp[us]",
                     "l_returnflag": "string", "l_discount": "double"},
        "embeddings": {"vec_id": "int64", "embedding": "list<element: float>",
                       "label": "int32"},
        "events": {"ts": "timestamp[us]", "props": "string"},
    }
    for table, cols in want.items():
        schema = pq.read_schema(path / f"{table}.parquet")
        for col, typ in cols.items():
            assert str(schema.field(col).type) == typ, (table, col)
    assert pq.read_metadata(path / "lineitem.parquet").num_rows == 6_000
    emb = pq.read_table(path / "embeddings.parquet").column("embedding").to_pylist()
    assert {len(v) for v in emb} == {datagen.DIM}


def _ctx(tmp_path, seed):
    return SimpleNamespace(seed=seed, rng=np.random.default_rng(seed), work=str(tmp_path))


def test_analytics_order_and_checked_queries_follow_the_seed(tmp_path):
    a = analytics.AnalyticsMix(_ctx(tmp_path, 3))
    b = analytics.AnalyticsMix(_ctx(tmp_path, 3))
    c = analytics.AnalyticsMix(_ctx(tmp_path, 4))
    assert a.order == b.order and list(a.checked) == list(b.checked)
    assert a.order != c.order
    assert sorted(a.order) == sorted(analytics.QUERIES)


def test_analytics_queries_cover_every_family_once():
    fams = list(analytics.QUERIES.values())
    assert len(fams) == len(set(fams)) == len(analytics.FAMILIES) == 9


TINY = vectors.Scale(base=200, lists=2, flat=500, batch=10, vacuum=3, rounds=2,
                     queries=8, join_queries=2)


def test_vector_inputs_follow_the_seed(tmp_path):
    runs = []
    for name, seed in (("a", 9), ("b", 9), ("c", 10)):
        os.makedirs(tmp_path / name)
        w = vectors.VectorIngest(_ctx(tmp_path / name, seed), TINY)
        w.generate()
        runs.append(w)
    a, b, c = runs
    assert np.array_equal(a.all_X, b.all_X) and np.array_equal(a.queries, b.queries)
    assert np.array_equal(a.vacuum_draws, b.vacuum_draws)
    assert not np.array_equal(a.all_X, c.all_X)
    for f in ("sf/flat.parquet", "sf/embeddings.parquet", "batches/b1.parquet"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert a.live["ivf"].sum() == TINY.base
    assert len(a.all_ids) == TINY.base + TINY.rounds * TINY.batch


def test_exact_top_k_breaks_ties_by_id():
    X = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [3.0, 3.0]], dtype=np.float32)
    ids = np.array([7, 3, 5, 1])
    got = vectors.topk(X, ids, np.array([1.0, 0.0]), k=3)
    assert got.tolist() == [5, 7, 3]
