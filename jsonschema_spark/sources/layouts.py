"""Deterministic multi-file layout corpora for the file-layout queries.

Two physical layouts of the SAME logical table (k = 0..n-1, one file per
bucket via ``partitionBy``):

- ``range``: bucket = k // ceil(n/files) — disjoint per-file key ranges,
  the shape a range-partitioned / Z-ordered write produces. Min/max
  skipping prunes to one file per point query; overlap_fraction = 0.
- ``hash``: bucket = k % files — every file spans almost the whole key
  domain, the shape an unclustered hash-shuffled write produces. Nothing
  prunes; overlap_fraction = 1.

File NAMES are non-deterministic (task UUIDs) — the layout contract
queries therefore emit only the one-row ``layout_report`` aggregate,
never per-file rows; the DuckDB oracle groups by its own ``filename``
column and lands on the same totals.

Oracle-cache protocol: materialized once under the versioned oracle cache
(atomic rename); bump ``_LAYOUT_VER`` when generator arithmetic changes.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.sources.clips import oracle_cache_path

_LAYOUT_VER = "v1"
LAYOUT_N = 20_000
LAYOUT_FILES = 8


def layout_path(mode: str) -> str:
    return oracle_cache_path(
        f"layout_{_LAYOUT_VER}_{mode}_{LAYOUT_N}_{LAYOUT_FILES}"
    )


def _bucket(mode: str):
    per = -(-LAYOUT_N // LAYOUT_FILES)  # ceil
    if mode == "range":
        return (F.col("k") / F.lit(per)).cast("int")
    if mode == "hash":
        return (F.col("k") % F.lit(LAYOUT_FILES)).cast("int")
    if mode == "geo":
        # bucket b holds rows [2^b - 1, 2^(b+1) - 1): file sizes are the
        # distinct powers of two 1, 2, 4, ... — the long-tail small-file
        # shape a streaming writer leaves behind. floor(log2(k+1)) via
        # binary-string length (pure integer, no float boundary risk).
        return (F.length(F.conv(F.col("k") + 1, 10, 2)) - 1).cast("int")
    raise ValueError(f"unknown layout mode: {mode!r}")


_LAYOUT2D_VER = "v1"
LAYOUT2D_SIDE = 128          # k1, k2 in [0, 128): full 128x128 grid
LAYOUT2D_FILES = 16          # 16 files -> 4x4 z-tiles of 32x32 each


def layout2d_path(mode: str) -> str:
    return oracle_cache_path(
        f"layout2d_{_LAYOUT2D_VER}_{mode}_{LAYOUT2D_SIDE}_{LAYOUT2D_FILES}"
    )


def _bucket2d(mode: str):
    """File assignment for the 2-D grid (k1 = id % side, k2 = id // side).

    - ``sort``: bucket = k1-range slab — the layout a single-column sort
      produces: perfect pruning on k1 (overlap 0), none on k2 (overlap 1).
    - ``zorder``: bucket = contiguous z-range — each file is one 32x32
      tile; both columns get tight per-file ranges (overlap 0.2 each for
      a 4x4 tiling: only same-row / same-column tile pairs intersect).
    """
    from jsonschema_spark.operators.layout import zorder_key

    per = LAYOUT2D_SIDE // LAYOUT2D_FILES * LAYOUT2D_SIDE  # rows per file
    if mode == "sort":
        return (F.col("k1") / F.lit(LAYOUT2D_SIDE // LAYOUT2D_FILES)).cast(
            "int"
        )
    if mode == "zorder":
        return (zorder_key(["k1", "k2"], bits=7) / F.lit(per)).cast("int")
    raise ValueError(f"unknown 2-D layout mode: {mode!r}")


def materialized_layout_2d(
    spark: SparkSession, mode: str
) -> tuple[DataFrame, str]:
    """Materialize (once, atomically) the 2-D grid in the ``mode`` layout."""
    path = layout2d_path(mode)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        side = LAYOUT2D_SIDE
        df = (
            spark.range(side * side)
            .select(
                (F.col("id") % side).cast("long").alias("k1"),
                (F.col("id") / side).cast("long").alias("k2"),
            )
            .withColumn("_b", _bucket2d(mode))
            .repartition(LAYOUT2D_FILES, "_b")
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").partitionBy("_b").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path), path


def materialized_layout(spark: SparkSession, mode: str) -> tuple[DataFrame, str]:
    """Materialize (once, atomically) and read back the ``mode`` layout."""
    path = layout_path(mode)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = (
            spark.range(LAYOUT_N)
            .select(F.col("id").alias("k"))
            .withColumn("_b", _bucket(mode))
            .repartition(LAYOUT_FILES, "_b")
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").partitionBy("_b").parquet(tmp)
        # partitionBy writes no root _SUCCESS marker readers can rely on
        # post-rename race-free; Spark does create one — keep the same
        # publish contract as sources.clips.publish_once.
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path), path
