"""File-layout health: small-file profile + data-skipping effectiveness.

At 100 TB the physical layout decides scan cost as much as the plan does:
a table shattered into millions of tiny files drowns the driver in task
scheduling and footer reads, and a table whose files all overlap on the
query column defeats min/max data skipping entirely (every file survives
pruning, every query is a full scan). This module reports both — the
validation-engine face of table maintenance (compaction / clustering
advisors in Iceberg/Delta tooling).

Operators:
- :func:`file_profile` — one row per data file: row count + per-column
  min/max, from ``F.input_file_name()`` + one narrow groupBy. ONE scan of
  only the profiled columns; file count rows reach the driver, never data.
- :func:`layout_report` — one-row verdict over the profile:
  - small-file signals: n_files, rows per file (min/avg/max), the
    row-skew ratio (max/avg) that predicts straggler tasks;
  - skipping signals on a target column: ``overlap_pairs`` (file pairs
    whose [min, max] ranges intersect — 0 for a range-partitioned /
    Z-ordered layout, n*(n-1)/2 for a fully unclustered one) and
    ``overlap_fraction``; the pair join is over per-FILE rows (thousands
    at 100 TB), trivially small next to the scan it advises about.

Determinism (oracle contract): files are identified by FULL path (scheme
stripped) — basenames are NOT unique under Hive-style ``partitionBy``
output, where sibling directories reuse the same task-partition-id +
job-UUID basename. Per-file rows never cross engines (names are task
UUIDs); only the one-row aggregate does, so Spark/DuckDB path-spelling
differences are irrelevant. Rows-per-file averages use exact integer
sums with a single double division at the end.

The reference library has no engine/layout surface (SURVEY.md §2C —
engine capability, no reference counterpart).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(columns: Sequence[str], bits: int = 16) -> Column:
    """Morton / Z-order interleaved key over non-negative integer columns.

    Bit ``i`` of column ``j`` lands at position ``i * len(columns) + j`` of
    the result, so a contiguous range of z-values covers a compact
    hyper-rectangle of the key space — writing files in z-order gives every
    file a tight [min, max] range on EVERY interleaved column at once,
    which is what makes multi-column min/max data skipping work (the
    remediation :func:`layout_report` asks for). This is the same
    linearization Delta/Iceberg ``OPTIMIZE ZORDER BY`` applies before
    compaction.

    Pure Column algebra — ``bits * len(columns)`` shift/AND/OR terms, all
    inside whole-stage codegen; no UDF, no shuffle (the caller decides how
    to repartition on the key). Requires ``bits * len(columns) <= 63`` and
    values in ``[0, 2**bits)``; values wider than ``bits`` alias (callers
    quantize first — rank or bucket real columns into the domain).
    """
    m = len(columns)
    if m == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits * m > 63:
        raise ValueError(f"bits*columns = {bits * m} exceeds 63 (bigint)")
    z = F.lit(0).cast("long")
    for j, c in enumerate(columns):
        v = F.col(c).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * m + j)
            )
    return z


def cluster_zordered(
    df: DataFrame, columns: Sequence[str], n_files: int, bits: int = 16
) -> DataFrame:
    """Re-cluster rows z-ordered for a compacting rewrite — the OPTIMIZE
    action :func:`layout_report` + :func:`compaction_plan` recommend.

    ``repartitionByRange`` on the Morton key (range boundaries from
    Spark's distributed sample — one pass + one shuffle, no global sort)
    then a partition-local sort, so every output file covers one compact
    z-range → tight min/max on EVERY clustered column. The caller writes
    the result; pair with ``spark.sql.files.maxRecordsPerFile`` or pick
    ``n_files`` ≈ total_bytes / target_file_size at scale. Columns must
    be quantized to ``[0, 2**bits)`` first (rank/bucket real domains).
    """
    z = zorder_key(columns, bits)
    return df.repartitionByRange(n_files, z).sortWithinPartitions(z)


def file_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Per-data-file profile: (file, n_rows, min_<c>, max_<c> ...).

    ``file`` is the full path (``file:`` scheme stripped) of the physical
    file each row came from — basenames alone collide across Hive-style
    partition directories. NULL-only files yield NULL min/max (and count
    toward overlap as non-overlapping — no range, nothing to skip or not
    skip)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        df.withColumn(
            "file",
            F.regexp_replace(F.input_file_name(), r"^file:(//)?", ""),
        )
        .groupBy("file")
        .agg(*aggs)
    )


def compaction_plan(df: DataFrame, target_rows: int) -> DataFrame:
    """Rolling-pack compaction plan: (file, n_rows, grp) per data file.

    Files are laid size-descending onto a cumulative quota and ``grp`` is
    the quota bin the file STARTS in (``floor(cumsum_prev / target)``) —
    the size-ordered rolling pack Iceberg/Delta bin-pack compaction uses,
    except a straddling file joins the earlier group (groups overshoot by
    at most one file, never undershoot). Deterministic given the file-size
    multiset; ties broken by path. The window runs over per-FILE rows
    (thousands at 100 TB) — a single tiny sort, trivial next to the
    rewrite it plans.
    """
    from pyspark.sql import Window

    prof = file_profile(df, [])
    w = (
        Window.orderBy(F.col("n_rows").desc(), F.col("file"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_prev = F.coalesce(F.sum("n_rows").over(w), F.lit(0))
    return prof.select(
        "file",
        "n_rows",
        (cum_prev / F.lit(target_rows)).cast("bigint").alias("grp"),
    )


def compaction_report(df: DataFrame, target_rows: int) -> DataFrame:
    """One-row compaction verdict: how many files the table SHOULD be.

    Columns: n_files, small_files (below target), total_rows, n_groups
    (files after compaction), max_group_rows, avg_group_fill
    (total_rows / (n_groups * target) — 1.0 = perfectly packed).
    """
    # ONE chain — plan -> per-group -> verdict. Referencing `plan` twice
    # would re-run the whole file_profile SCAN per reference (no common-
    # subplan sharing), so small_files is carried through the group level.
    return (
        compaction_plan(df, target_rows)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("g_files"),
            F.sum("n_rows").alias("g_rows"),
            F.sum(
                (F.col("n_rows") < F.lit(target_rows)).cast("bigint")
            ).alias("g_small"),
        )
        .agg(
            F.sum("g_files").alias("n_files"),
            F.sum("g_small").alias("small_files"),
            F.sum("g_rows").alias("total_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.max("g_rows").alias("max_group_rows"),
        )
        .select(
            "n_files",
            "small_files",
            "total_rows",
            "n_groups",
            "max_group_rows",
            (
                F.col("total_rows").cast("double")
                / (F.col("n_groups") * F.lit(target_rows)).cast("double")
            ).alias("avg_group_fill"),
        )
    )


def layout_report(df: DataFrame, column: str) -> DataFrame:
    """One-row layout verdict for pruning on ``column``.

    Columns: n_files, n_rows, min_file_rows / max_file_rows,
    avg_file_rows (double), row_skew (max/avg), overlap_pairs,
    total_pairs, overlap_fraction (0.0 = perfectly clustered on
    ``column``, 1.0 = every file overlaps every other — min/max skipping
    prunes nothing).
    """
    prof = file_profile(df, [column]).persist()
    lo, hi = f"min_{column}", f"max_{column}"
    a = prof.select(
        F.col("file").alias("fa"), F.col(lo).alias("lo_a"), F.col(hi).alias("hi_a")
    )
    b = prof.select(
        F.col("file").alias("fb"), F.col(lo).alias("lo_b"), F.col(hi).alias("hi_b")
    )
    # per-FILE pair join: n_files^2 candidates, thousands of rows at most.
    # NULL ranges (all-NULL files) produce NULL comparisons -> not counted.
    pairs = a.crossJoin(b).where(F.col("fa") < F.col("fb"))
    overlaps = pairs.agg(
        F.count(F.lit(1)).alias("total_pairs"),
        F.coalesce(
            F.sum(
                (
                    (F.col("lo_a") <= F.col("hi_b"))
                    & (F.col("lo_b") <= F.col("hi_a"))
                ).cast("bigint")
            ),
            F.lit(0),
        ).alias("overlap_pairs"),
    )
    sizes = prof.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.min("n_rows").alias("min_file_rows"),
        F.max("n_rows").alias("max_file_rows"),
    )
    out = sizes.crossJoin(overlaps).select(
        "n_files",
        "n_rows",
        "min_file_rows",
        "max_file_rows",
        (F.col("n_rows").cast("double") / F.col("n_files")).alias(
            "avg_file_rows"
        ),
        (
            F.col("max_file_rows")
            / (F.col("n_rows").cast("double") / F.col("n_files"))
        ).alias("row_skew"),
        "overlap_pairs",
        "total_pairs",
        F.when(F.col("total_pairs") > 0,
               F.col("overlap_pairs") / F.col("total_pairs").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("overlap_fraction"),
    )
    return out


def write_bucketed(
    df,
    table_name: str,
    bucket_cols,
    n_buckets: int,
    sort_cols=None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED (and optionally sorted) table — the layout
    remediation for repeated joins/aggregations on the same key.

    Bucketing pre-shuffles the data ONCE at write time: every row lands
    in hash(bucket_cols) % n_buckets, recorded in the catalog. A later
    join of two tables bucketed the same way on the join key runs with
    ZERO exchanges (Spark trusts the bucketing as the required hash
    partitioning), and sortBy additionally removes the sort under a
    sort-merge join. At 100 TB this converts every recurring
    fact-to-fact join from a full-table shuffle into a local merge —
    the single biggest recurring-cost lever the layout family offers.

    ``path`` makes it an external table (parquet files at that path);
    bucketing metadata lives in the session catalog either way, so read
    back with ``spark.table(table_name)`` — a raw ``read.parquet(path)``
    sees the files but NOT the bucketing."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    w = df.write.format("parquet").mode(mode).bucketBy(
        int(n_buckets), *bucket_cols
    )
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)
