"""IVFFlat approximate nearest neighbor — the Spark-native rebuild of
`contrib/datavec/src/ivfbuild.cpp` (813 LoC) / `ivfscan.cpp` (358 LoC).

Reference semantics (what, not how):
  * build: sample rows → k-means++ seeding → Lloyd iterations → assign
    every vector to the nearest of `lists` centroids (default 100, max
    32768; `ivfflat.h:43,45`; kmeans in `ivfkmeans.cpp:22,263`).
  * search: rank centroids by distance to the query, scan the top
    `probes` lists (default 1; `ivfflat.cpp:35`), merge candidates by
    true distance (`ivfscan.cpp:31-100`).
  * quality bar (BASELINE.md): recall@20 ≥ 0.71 @ probes=1, ≥ 0.95 @
    probes=10, = 1.00 @ probes=lists on 10k uniform 3-d vectors.

Spark-first design for 100 TB:
  * centroid fit runs on a bounded sample (the reference trains on
    ~50·lists sampled rows too — `ivfbuild.cpp`), k-means++ seeded Lloyd
    in numpy on the driver; the EXPENSIVE step — labeling every row — is
    a pure Catalyst expression (broadcast centroid literal, one
    transform() of centroid distances, one aggregate() pass for the
    nearest list and the spill runner-up: O(lists·dim) per row, the
    reference's cost), whole-stage codegen'd, zero shuffle, no Python
    in the row path. The tie and spill rule is stated once, on
    assign_lists_expr.
  * the labeled table is written `partitionBy(list_id)` so a probed
    search is *partition pruning*: Spark reads only `probes`/`lists` of
    the data from disk. That is the distributed analogue of the
    reference's inverted lists.
  * search = rank centroids driver-side (≤32768 rows — tiny) → pruned
    scan of the probed partitions → TakeOrderedAndProject(k). A query
    batch shares one pruned scan via an equi-join on list_id.

HNSW lives in `vector/hnsw.py` as SHARDED independent graphs (one
giant pointer-chasing graph does not distribute; S per-shard graphs
built in applyInPandas do) — IVF remains the batch/kNN-join workhorse,
HNSW the low-latency single-query path. See SURVEY.md §2.8.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .distance import DISTANCES, as_double, dlit_sql, llit_sql
from .exact import knn as exact_knn

DEFAULT_LISTS = 100  # ivfflat.h:43
MAX_INDEX_DIM = 2000  # ivfflat.h:25 / hnsw.h:12 — indexable dimension cap
DEFAULT_PROBES = 1  # ivfflat.cpp:35
MAX_LISTS = 32768  # ivfflat.h:45


def _kmeans_fit(
    X: np.ndarray, k: int, seed: int, max_iter: int = 60, tol: float = 1e-7,
    n_init: int = 4,
) -> np.ndarray:
    """Best-of-n_init k-means (lowest within-cluster SSE wins): k-means++
    seeding (ivfkmeans.cpp:22 InitCenters) + Lloyd iterations
    (ivfkmeans.cpp:263; Elkan's pruning is a single-node speed trick we
    don't need at sample scale)."""
    best_C, best_sse = None, float("inf")
    for restart in range(n_init):
        C = _kmeans_once(X, k, seed + restart, max_iter, tol)
        sse = 0.0
        for lo in range(0, len(X), 65536):
            hi = min(lo + 65536, len(X))
            D = ((X[lo:hi, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            sse += float(D.min(axis=1).sum())
        if sse < best_sse:
            best_C, best_sse = C, sse
    return best_C


def _kmeans_once(
    X: np.ndarray, k: int, seed: int, max_iter: int, tol: float
) -> np.ndarray:
    rng = np.random.default_rng(seed)
    n = len(X)
    k = min(k, n)
    # --- k-means++ seeding
    centers = [X[rng.integers(n)]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        total = d2.sum()
        if total <= 0:
            centers.append(X[rng.integers(n)])
            continue
        i = rng.choice(n, p=d2 / total)
        centers.append(X[i])
        d2 = np.minimum(d2, ((X - X[i]) ** 2).sum(axis=1))
    C = np.array(centers)
    # --- Lloyd
    for _ in range(max_iter):
        # chunk the distance matrix to bound memory at large samples
        assign = np.empty(n, dtype=np.int64)
        for lo in range(0, n, 65536):
            hi = min(lo + 65536, n)
            D = ((X[lo:hi, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign[lo:hi] = D.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        shift = float(((newC - C) ** 2).sum())
        C = newC
        if shift < tol:
            break
    return C


def _matrix_lit(rows, row_sql) -> Column:
    """Nested array literal of a matrix in ONE py4j call (each row
    rendered by ``row_sql``, as ``distance.dlit_array`` does for one
    vector); ConstantFolding collapses it to a single plan Literal."""
    return F.expr("array(" + ",".join(row_sql(r) for r in rows) + ")")


def _centroid_dists(vec: Column, centroids: np.ndarray, metric: str) -> Column:
    """array<double> of distance(vec, centroid_j) for every centroid, as a
    pure Catalyst expression: the centroid matrix is a nested array
    literal (broadcast in the plan), distances come from transform().
    Whole-stage codegen, no shuffle, no UDF — this is the full-table
    labeling path, so it must scale to every row of a 100 TB table.

    metric="hamming" expects ``vec`` as packed 64-bit words
    (array<bigint>, 32 payload bits per word — the binary_quantize_words
    layout) and integer-valued centroid rows: distance = popcount(XOR)
    per word, a pure JVM integer kernel (bit_hamming_ops,
    bitutils.cpp)."""
    if metric == "hamming":
        return F.transform(
            _matrix_lit(centroids, llit_sql),
            lambda c: F.aggregate(
                F.zip_with(
                    vec, c,
                    lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("double"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
    cents_lit = _matrix_lit(centroids, dlit_sql)
    if metric == "cosine":
        norm = F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0),
                                  lambda a, x: a + x))
        dists = F.transform(
            cents_lit,
            lambda c: F.lit(1.0)
            - F.aggregate(F.zip_with(vec, c, lambda x, y: x * y), F.lit(0.0),
                          lambda a, x: a + x)
            / (
                norm
                * F.sqrt(F.aggregate(F.transform(c, lambda y: y * y), F.lit(0.0),
                                     lambda a, x: a + x))
            ),
        )
    else:
        # l2 clustering for l2/l1/ip (the reference also k-means'es in
        # euclidean space and ranks lists by the search metric)
        dists = F.transform(
            cents_lit,
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
    return dists


def _nearest_two(acc: Column, d: Column) -> Column:
    """Fold step of assign_lists_expr: acc = (i, d1, i1, d2, i2) holds the
    next element index, the best distance and its first index, and the
    runner-up (least distance strictly above d1) and its first index.
    NULL distances are skipped."""
    i, d1, i1, d2, i2 = (acc[f] for f in ("i", "d1", "i1", "d2", "i2"))
    best = d.isNotNull() & (d1.isNull() | (d < d1))
    second = ~best & (d > d1) & (d2.isNull() | (d < d2))
    return F.struct(
        (i + 1).alias("i"),
        F.when(best, d).otherwise(d1).alias("d1"),
        F.when(best, i).otherwise(i1).alias("i1"),
        # a new best demotes the old one: every earlier distance is ≥ it
        F.when(best, d1).when(second, d).otherwise(d2).alias("d2"),
        F.when(best, i1).when(second, i).otherwise(i2).alias("i2"),
    )


def assign_lists_expr(
    vec: Column, centroids: np.ndarray, metric: str, spill_epsilon: float
) -> Column:
    """array<int> of list assignments, in one pass over the row's
    centroid distances — O(lists·dim) per row.

    * primary: the lowest index among the minimum distances;
    * runner-up: the first index among distances strictly greater than
      the minimum; it is added ("spill" / multi-assignment — boundary
      vectors live in both inverted lists, a standard IVF recall
      hardener; +10-20% storage at ε≈1.4 on squared-L2, recall@probes=1
      +5-7 pts) when it is ≤ ``spill_epsilon`` × the best distance.
      spill_epsilon=1.0 disables.

    NULL distances are ignored; a row whose distances are all NULL (a
    zero-norm vector under cosine, a vector with a NULL element) gets
    ``[NULL]``."""
    null = F.lit(None)
    zero = F.struct(
        F.lit(0).alias("i"),
        null.cast("double").alias("d1"),
        null.cast("int").alias("i1"),
        null.cast("double").alias("d2"),
        null.cast("int").alias("i2"),
    )

    def finish(acc: Column) -> Column:
        primary = F.array(acc["i1"])
        if spill_epsilon <= 1.0:
            return primary
        return F.when(
            acc["d2"].isNotNull()
            & (acc["d2"] <= F.lit(float(spill_epsilon)) * acc["d1"]),
            F.array(acc["i1"], acc["i2"]),
        ).otherwise(primary)

    return F.aggregate(
        _centroid_dists(vec, centroids, metric), zero, _nearest_two, finish
    )


def label_column(vec_col: str, metric: str) -> Column:
    """The vector as assign_lists_expr labels it: hamming operates on the
    packed bigint words directly (a double cast would break the XOR
    kernel); float metrics accumulate in double."""
    if metric == "hamming":
        return F.col(vec_col).cast("array<bigint>")
    return as_double(F.col(vec_col))


_BITS_PER_WORD = 32  # binary_quantize_words payload bits per bigint word


def _unpack_words(W: np.ndarray) -> np.ndarray:
    """(n, nwords) packed ints → (n, nwords·32) 0/1 floats (little-endian
    bit j of word w = column w·32+j, matching binary_quantize_words)."""
    n, nw = W.shape
    out = np.zeros((n, nw * _BITS_PER_WORD), dtype=np.float64)
    Wi = W.astype(np.int64)
    for w in range(nw):
        for j in range(_BITS_PER_WORD):
            out[:, w * _BITS_PER_WORD + j] = (Wi[:, w] >> j) & 1
    return out


def _pack_bits(B: np.ndarray) -> np.ndarray:
    """(k, nwords·32) 0/1 matrix → (k, nwords) packed ints."""
    k, nbits = B.shape
    nw = nbits // _BITS_PER_WORD
    out = np.zeros((k, nw), dtype=np.int64)
    for w in range(nw):
        for j in range(_BITS_PER_WORD):
            out[:, w] |= B[:, w * _BITS_PER_WORD + j].astype(np.int64) << j
    return out


class IvfIndex:
    """An IVF index = centroid table + data table partitioned by list_id."""

    def __init__(self, path: str, metric: str = "l2", lists: int = DEFAULT_LISTS):
        if not 1 <= lists <= MAX_LISTS:
            raise ValueError(f"lists must be in [1, {MAX_LISTS}]")
        if metric not in DISTANCES and metric != "hamming":
            raise ValueError(
                f"metric must be one of {sorted(DISTANCES) + ['hamming']}"
            )
        self.path = path
        self.metric = metric
        self.lists = lists

    # ---------------------------------------------------------------- build
    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        path: str,
        metric: str = "l2",
        lists: int = DEFAULT_LISTS,
        sample_rows: int | None = None,
        seed: int = 42,
        max_iter: int = 60,
        spill_epsilon: float = 1.44,
    ) -> "IvfIndex":
        """Fit centroids on a bounded sample, then label and re-layout the
        full table partitioned by list_id. Null vectors are dropped
        (never indexed — datavec behavior)."""
        idx = IvfIndex(path, metric=metric, lists=lists)
        clean = df.filter(F.col(vec_col).isNotNull())

        if sample_rows is None:
            sample_rows = max(50 * lists, 10_000)  # ivfbuild.cpp sampling scale
        vecs = clean.select(as_double(F.col(vec_col)))
        # one job when the table fits in the sample: its rows ARE the
        # sample; a larger table pays count() + a seeded sample
        rows = vecs.limit(sample_rows + 1).collect()
        if rows and len(rows[0][0]) > MAX_INDEX_DIM:
            raise ValueError(
                f"cannot index {len(rows[0][0])}-d vectors: dimension cap is "
                f"{MAX_INDEX_DIM} (ivfflat.h:25)"
            )
        if len(rows) > sample_rows:
            n = clean.count()
            fraction = min(1.0, (sample_rows * 1.2) / n)
            sample_df = vecs.sample(fraction=fraction, seed=seed) if fraction < 1.0 else vecs
            rows = sample_df.limit(sample_rows).collect()
        sample = np.array([r[0] for r in rows], dtype=np.float64)
        # collect order is partition-order nondeterministic → canonicalize
        # so the k-means++ draw (and thus the index) is reproducible
        sample = sample[np.lexsort(sample.T[::-1])]
        if metric == "cosine":
            norms = np.linalg.norm(sample, axis=1, keepdims=True)
            sample = sample / np.maximum(norms, 1e-12)
        if metric == "hamming":
            # bit_hamming_ops (ivfflat_bit.sql): k-means in the relaxed
            # 0/1-per-bit space (L2 there = Hamming on binary points),
            # then binarize the centers back to packed words — every
            # list centroid is itself a valid bit vector, and ranking/
            # labeling stay pure integer XOR-popcount kernels
            bits = _unpack_words(sample)
            centers = _kmeans_fit(bits, lists, seed=seed, max_iter=max_iter)
            centroids = _pack_bits(centers >= 0.5)
        else:
            centroids = _kmeans_fit(sample, lists, seed=seed, max_iter=max_iter)

        labeled = clean.withColumn(
            "list_id",
            F.explode(
                assign_lists_expr(
                    label_column(vec_col, metric), centroids, metric, spill_epsilon
                )
            ),
        )
        (
            labeled.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(path, "data"))
        )

        (
            df.sparkSession.range(0, 1, 1, 1)
            .select(F.posexplode(_matrix_lit(centroids, dlit_sql)).alias("list_id", "centroid"))
            .write.mode("overwrite")
            .parquet(os.path.join(path, "centroids"))
        )
        from ..catalog import invalidate_table_cache

        invalidate_table_cache(path)  # rebuilds rewrite in place
        return idx

    # ---------------------------------------------------------------- load
    def data(self, spark: SparkSession) -> DataFrame:
        from ..catalog import parquet_handle

        return parquet_handle(spark, os.path.join(self.path, "data"))

    # --------------------------------------------------------------- search
    def _probe_lists(
        self, spark: SparkSession, qvec: Sequence[float], probes: int
    ) -> list[int]:
        """Rank centroids by distance to the query (ivfscan.cpp:31-100's
        pairing heap) with the same JVM distance kernels as knn_join —
        only the `probes` winning list ids come back to the driver (they
        must: they parameterize the partition-pruning filter). No
        per-element Python loop even at the 32768-list maximum."""
        from ..catalog import parquet_handle

        cents = parquet_handle(
            spark, os.path.join(self.path, "centroids")
        )
        if self.metric == "hamming":
            from .distance import hamming_distance

            d = hamming_distance(
                F.col("centroid").cast("array<bigint>"), F.expr(llit_sql(qvec))
            )
        else:
            from .distance import dlit_array

            dist_fn = DISTANCES[self.metric]
            q = dlit_array(qvec)
            d = dist_fn(F.col("centroid"), q)
        ranked = (
            cents.select("list_id", d.alias("_d"))
            .orderBy(F.col("_d").asc_nulls_last(), F.col("list_id").asc())
            .limit(probes)
        )
        return [r.list_id for r in ranked.collect()]

    def search(
        self,
        spark: SparkSession,
        qvec: Sequence[float],
        vec_col: str,
        k: int = 10,
        probes: int = DEFAULT_PROBES,
        id_col: str | None = None,
        where=None,
    ) -> DataFrame:
        """Probed ANN search: filter on list_id prunes partitions at the
        parquet source — only probes/lists of the index is read.

        ``where`` (optional Column) is the filtered-ANN path
        (t/009_ivfflat_filtering.pl): the predicate is applied inside the
        pruned scan, before the top-k heap, so selective filters cut the
        ranked set the way the reference's qual-during-indexscan does.
        With selective filters raise ``probes`` to protect recall."""
        lists = self._probe_lists(spark, qvec, probes)
        pruned = self.data(spark).filter(F.col("list_id").isin(lists)).drop("list_id")
        if where is not None:
            pruned = pruned.filter(where)
        # spill assignment can place one row in two probed lists → dedup
        pruned = pruned.dropDuplicates([id_col] if id_col else None)
        if self.metric == "hamming":
            from .distance import hamming_distance

            d = hamming_distance(
                F.col(vec_col).cast("array<bigint>"), F.expr(llit_sql(qvec))
            )
            out = pruned.filter(F.col(vec_col).isNotNull()).withColumn(
                "distance", d
            )
            order = [F.col("distance").asc_nulls_last()]
            if id_col:
                order.append(F.col(id_col).asc())
            return out.orderBy(*order).limit(k)
        return exact_knn(pruned, vec_col, qvec, k=k, metric=self.metric, id_col=id_col)

    def knn_join(
        self,
        spark: SparkSession,
        queries: DataFrame,
        query_vec: str,
        vec_col: str,
        k: int = 10,
        probes: int = DEFAULT_PROBES,
        query_id: str = "qid",
        cand_id: str = "cid",
        broadcast_queries: int | None = None,
    ) -> DataFrame:
        """Batch ANN join: assign each query to its probe lists (broadcast
        centroids, JVM-side rank-over-window), then equi-join queries to
        candidates on list_id — a co-partitioned join instead of a cross
        join, which is what makes 100 TB × 1M queries feasible.

        The probe_map side is |queries| × probes rows each carrying the
        full query vector; at 1M queries that is multi-GB and Spark
        hard-caps broadcasts at 8 GB, so it is NOT hinted — the equi-join
        on list_id shuffles both sides (AQE still picks a broadcast at
        runtime when the map is genuinely small). A caller that KNOWS the
        query batch is tiny can pass ``broadcast_queries=<row count>``
        and the hint is applied only under that explicit guard
        (≤ 100_000 rows)."""
        from pyspark.sql import Window as W

        from ..catalog import parquet_handle

        cents = parquet_handle(
            spark, os.path.join(self.path, "centroids")
        )
        dist_fn = DISTANCES[self.metric]
        q = queries.select(query_id, as_double(F.col(query_vec)).alias("_qv"))
        # centroids are bounded (≤ 32768 lists) — always broadcastable
        scored = q.crossJoin(F.broadcast(cents)).withColumn(
            "_cd", dist_fn(F.col("_qv"), F.col("centroid"))
        )
        w = W.partitionBy(query_id).orderBy(F.col("_cd").asc(), F.col("list_id"))
        probe_map = (
            scored.withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") <= probes)
            .select(query_id, "_qv", "list_id")
        )
        if broadcast_queries is not None and broadcast_queries <= 100_000:
            probe_map = F.broadcast(probe_map)
        cand = self.data(spark).filter(F.col(vec_col).isNotNull())
        pairs = (
            cand.join(probe_map, "list_id")
            # spill duplicates: one candidate can sit in two probed lists
            .dropDuplicates([query_id, cand_id])
            .withColumn("_d", dist_fn(F.col("_qv"), as_double(F.col(vec_col))))
        )
        w2 = W.partitionBy(query_id).orderBy(F.col("_d").asc(), F.col(cand_id).asc())
        return (
            pairs.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= k)
            .select(query_id, cand_id, F.col("_d").alias("distance"), "_rn")
        )
