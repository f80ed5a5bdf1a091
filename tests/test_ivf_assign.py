"""IVF list assignment (`vector/ivf.py:assign_lists_expr`) against a numpy
reference of its rule, on tie-heavy inputs, plus a plan pin that each
row's centroid distances are computed once.

The rule: the primary list is the lowest index among the minimum
distances; the runner-up is the first index among distances strictly
greater than the minimum, added when it is ≤ spill_epsilon × the best
distance; NULL distances are ignored and an all-NULL row gets [NULL].

Inputs are small integers, so every distance below is exact in double
(cosine's sqrt/divide/subtract are single IEEE operations in both
engines) and ties are compared bit for bit."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from opengauss_vectordb_spark.vector.ivf import assign_lists_expr

EPSILONS = (1.0, 1.44)


def _ref_dists(X: np.ndarray, C: np.ndarray, metric: str) -> np.ndarray:
    """(rows, lists) distances; NaN marks a NULL distance."""
    if metric == "hamming":
        xor = X[:, None, :] ^ C[None, :, :]
        return np.vectorize(lambda w: bin(int(w)).count("1"))(xor).sum(axis=2).astype(float)
    X, C = X.astype(float), C.astype(float)
    if metric == "cosine":
        dot = X @ C.T
        denom = np.sqrt((X * X).sum(axis=1))[:, None] * np.sqrt((C * C).sum(axis=1))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            # Spark's non-ANSI x/0 is NULL
            return np.where(denom == 0.0, np.nan, 1.0 - dot / denom)
    # l2 and ip label by squared L2 (clustering is euclidean)
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)


def _ref_assign(d: np.ndarray, eps: float) -> list:
    ok = ~np.isnan(d)
    if not ok.any():
        return [None]
    m1 = d[ok].min()
    i1 = int(np.flatnonzero(ok & (d == m1))[0])
    above = ok & (d > m1)
    if eps <= 1.0 or not above.any():
        return [i1]
    m2 = d[above].min()
    i2 = int(np.flatnonzero(above & (d == m2))[0])
    return [i1, i2] if m2 <= eps * m1 else [i1]


def _inputs(metric: str, seed: int):
    """More lists than rows, every centroid duplicated, tiny integer
    coordinates (so many rows sit at equal distance from several lists)."""
    rng = np.random.default_rng(seed)
    n, lists, dim = 12, 30, 3
    lo, hi = (0, 8) if metric == "hamming" else (-3, 4)
    X = rng.integers(lo, hi, size=(n, dim))
    C = rng.integers(lo, hi, size=(lists, dim))
    C[lists // 2:] = C[: lists // 2]
    if metric == "cosine":
        X[0] = 0  # zero-norm row: every distance NULL
        C[3] = 0  # zero-norm centroid: one NULL distance in every row
    return X, C


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip", "hamming"])
def test_assign_lists_matches_numpy_rule(spark, metric):
    X, C = _inputs(metric, seed=len(metric))
    typ = "array<bigint>" if metric == "hamming" else "array<double>"
    rows = [(i, [int(v) if metric == "hamming" else float(v) for v in x])
            for i, x in enumerate(X)]
    rows.append((len(X), [1, None, 2] if metric == "hamming" else [1.0, None, 2.0]))
    df = spark.createDataFrame(rows, f"id INT, v {typ}")
    got = df.select(
        "id",
        *[assign_lists_expr(F.col("v"), C, metric, eps).alias(f"a{j}")
          for j, eps in enumerate(EPSILONS)],
    ).orderBy("id").collect()

    D = _ref_dists(X, C, metric)
    for r in got[:-1]:
        for j, eps in enumerate(EPSILONS):
            assert list(r[f"a{j}"]) == _ref_assign(D[r.id], eps), (r.id, eps)
    # a NULL element makes every distance NULL: the row keeps a NULL
    # list id, never a made-up one
    assert [list(got[-1][f"a{j}"]) for j in range(len(EPSILONS))] == [[None]] * 2
    if metric == "cosine":
        assert list(got[0].a0) == [None] and list(got[0].a1) == [None]
    assert any(len(r.a1) == 2 for r in got), "the spill branch was never taken"


def _literal_transforms(df) -> int:
    """ArrayTransform nodes over a Literal (the centroid matrix) in the
    optimized plan; expression trees serialize in pre-order, so a node's
    first child follows it."""
    nodes = []

    def walk(v):
        if isinstance(v, dict):
            if "class" in v:
                nodes.append(v["class"].rsplit(".", 1)[-1])
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))
    return sum(a == "ArrayTransform" and b == "Literal" for a, b in zip(nodes, nodes[1:]))


@pytest.mark.parametrize("metric", ["l2", "cosine", "hamming"])
def test_labeling_computes_centroid_distances_once(spark, metric):
    X, C = _inputs(metric, seed=1)
    typ = "array<bigint>" if metric == "hamming" else "array<double>"
    v = [1, 2, 3] if metric == "hamming" else [1.0, 2.0, 3.0]
    df = spark.createDataFrame([(0, v)], f"id INT, v {typ}")
    labeled = df.withColumn(
        "list_id", F.explode(assign_lists_expr(F.col("v"), C, metric, 1.44))
    )
    assert _literal_transforms(labeled) == 1


def test_append_to_hamming_index_labels_packed_words(spark, tmp_path):
    """append_to_index labels a bit-vector index with the XOR-popcount
    kernel over the packed words, as build does (never a double cast)."""
    from opengauss_vectordb_spark.vector.ivf import IvfIndex
    from opengauss_vectordb_spark.vector.maintenance import append_to_index

    W = np.random.default_rng(5).integers(0, 2**32, size=(24, 2))

    def frame(rows, first_id):
        return spark.createDataFrame(
            [(first_id + i, [int(w) for w in r]) for i, r in enumerate(rows)],
            "id BIGINT, v ARRAY<BIGINT>",
        )

    idx = IvfIndex.build(frame(W[:16], 0), "v", str(tmp_path / "bit"),
                         metric="hamming", lists=3, max_iter=5, spill_epsilon=1.0)
    append_to_index(spark, idx, frame(W[16:], 16), "v", spill_epsilon=1.0)
    C = np.array([c for _, c in sorted(
        (r.list_id, r.centroid)
        for r in spark.read.parquet(str(tmp_path / "bit" / "centroids")).collect()
    )]).astype(np.int64)
    D = _ref_dists(W[16:], C, "hamming")
    got = dict(idx.data(spark).filter(F.col("id") >= 16).select("id", "list_id").collect())
    assert got == {16 + i: _ref_assign(d, 1.0)[0] for i, d in enumerate(D)}
