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

Each layout is published once through ``layout_corpus``, keyed by the
package source and its parameters (no version to bump).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.sources.clips import corpus_path, publish

LAYOUT_N = 20_000
LAYOUT_FILES = 8


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


LAYOUT2D_SIDE = 128          # k1, k2 in [0, 128): full 128x128 grid
LAYOUT2D_FILES = 16          # 16 files -> 4x4 z-tiles of 32x32 each


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


def synth_layout_2d(spark: SparkSession, mode: str) -> DataFrame:
    """The 2-D grid, one file per ``_b`` bucket of the ``mode`` layout."""
    side = LAYOUT2D_SIDE
    return (
        spark.range(side * side)
        .select(
            (F.col("id") % side).cast("long").alias("k1"),
            (F.col("id") / side).cast("long").alias("k2"),
        )
        .withColumn("_b", _bucket2d(mode))
        .repartition(LAYOUT2D_FILES, "_b")
    )


def synth_layout(spark: SparkSession, mode: str) -> DataFrame:
    """k = 0..LAYOUT_N-1, one file per ``_b`` bucket of the ``mode`` layout."""
    return (
        spark.range(LAYOUT_N)
        .select(F.col("id").alias("k"))
        .withColumn("_b", _bucket(mode))
        .repartition(LAYOUT_FILES, "_b")
    )


def layout_corpus(
    spark: SparkSession, synth: Callable[[SparkSession, str], DataFrame], mode: str
) -> tuple[DataFrame, str]:
    """Publish ``synth(spark, mode)`` once, partitioned by ``_b`` (one
    directory per file), and read it back."""
    path = publish(
        corpus_path(synth, mode),
        lambda tmp: synth(spark, mode).write.partitionBy("_b").parquet(tmp),
    )
    return spark.read.parquet(path), path
