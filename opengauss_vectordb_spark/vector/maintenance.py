"""IVF index maintenance — the batch analogue of datavec's insert-time
index repair and vacuum (`contrib/datavec/src/hnswinsert.cpp`,
`ivfvacuum.cpp`, WAL-covered in tests t/001, t/010).

Position (SURVEY.md §7): transactional in-place maintenance is replaced
by append-partition compaction and periodic rebuild — the append path
labels new vectors with the EXISTING centroids (exactly what ivfinsert
does: new tuples go to their nearest current list) and appends to the
partitioned layout; a rebuild refreshes centroids when drift accumulates.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import IvfIndex, assign_lists_expr, label_column


def _invalidate(index: IvfIndex) -> None:
    """Drop memoized lazy parquet handles under this index's root —
    every maintenance entry point rewrites the layout in place, and a
    cached handle pins the file listing captured at first read
    (catalog.parquet_handle)."""
    from ..catalog import invalidate_table_cache

    invalidate_table_cache(index.path)


def append_to_index(
    spark: SparkSession,
    index: IvfIndex,
    new_rows: DataFrame,
    vec_col: str,
    spill_epsilon: float = 1.44,
) -> None:
    """Insert-path parity: label new vectors with the index's existing
    centroids and append them to the partitioned data layout. No existing
    partitions are rewritten — each probe list gains one new file per
    append batch (compact() folds them)."""
    from ..catalog import parquet_handle

    cents = np.array(
        [c for _, c in sorted(
            (r.list_id, list(r.centroid))
            for r in parquet_handle(spark, os.path.join(index.path, "centroids")).collect()
        )],
        dtype=np.float64,
    )
    labeled = new_rows.filter(F.col(vec_col).isNotNull()).withColumn(
        "list_id",
        F.explode(
            assign_lists_expr(
                label_column(vec_col, index.metric), cents, index.metric, spill_epsilon
            )
        ),
    )
    (
        labeled.repartition("list_id")
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(os.path.join(index.path, "data"))
    )
    _invalidate(index)


def compact(spark: SparkSession, index: IvfIndex, target_partitions: int = 1) -> None:
    """Vacuum analogue: rewrite the data layout to fold per-append small
    files into target_partitions files per list.

    Swap order is crash-safe: write staged → move current aside → move
    staged in → delete the old copy. A crash at any point leaves either
    the old or the new layout in place (never a window with NO data
    directory, which rmtree-then-rename had). LOCAL-FILESYSTEM-ONLY:
    os.rename does not span filesystems or object stores; on s3://hdfs://
    run the same sequence through the Hadoop FileSystem API (object-store
    renames are copies, so prefer a manifest/table format there)."""
    data_path = os.path.join(index.path, "data")
    staged = data_path + ".compacting"
    old = data_path + ".old"
    import shutil

    if not os.path.exists(data_path):
        # a prior run crashed BETWEEN the two renames: data/ is gone but
        # both surviving copies are complete (staged finished writing
        # before any rename started). Restore — never delete — preferring
        # the newer staged layout.
        if os.path.exists(staged):
            os.rename(staged, data_path)
        elif os.path.exists(old):
            os.rename(old, data_path)
        else:
            raise FileNotFoundError(f"index has no data directory: {data_path}")
    for leftover in (staged, old):  # debris with data/ intact IS safe to drop
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    df = spark.read.parquet(data_path)
    (
        df.repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(staged)
    )
    os.rename(data_path, old)
    os.rename(staged, data_path)
    shutil.rmtree(old)
    _invalidate(index)


def vacuum_delete(spark: SparkSession, index: IvfIndex, predicate) -> None:
    """Bulk-delete parity (`ivfvacuum.cpp` IvfflatBulkDeleteScan /
    `hnswvacuum.cpp`): physically remove every indexed row matching
    ``predicate`` (a Column over the data layout's columns) and rewrite
    the affected layout. The reference's vacuum walks list pages and
    drops dead tuples in place; the batch analogue filters the
    partitioned layout and swaps it in with the same crash-safe
    staged-rename sequence compact() uses — a crash leaves either the
    old or the new layout complete, never neither. Centroids are
    untouched (vacuum never re-clusters; that is rebuild())."""
    import shutil

    data_path = os.path.join(index.path, "data")
    staged = data_path + ".compacting"
    old = data_path + ".old"
    for leftover in (staged, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    df = spark.read.parquet(data_path)
    (
        df.filter(~predicate)
        .repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(staged)
    )
    os.rename(data_path, old)
    os.rename(staged, data_path)
    shutil.rmtree(old)
    _invalidate(index)


def rebuild(
    spark: SparkSession,
    index: IvfIndex,
    vec_col: str,
    **build_kwargs,
) -> IvfIndex:
    """Full rebuild (REINDEX): refit centroids on the current data and
    rewrite the layout — the answer to centroid drift after heavy
    appends (the reference's insert-time graph repair equivalent)."""
    current = spark.read.parquet(os.path.join(index.path, "data")).drop("list_id")
    return IvfIndex.build(
        current,
        vec_col,
        index.path,
        metric=index.metric,
        lists=index.lists,
        **build_kwargs,
    )
