"""Windowed pass/fail rollup over a validated stream.

The compiled checks are pure Column expressions referencing columns by
name (plans/compile.py), so ``validate(stream, ...)`` serves a
``readStream`` frame with the batch compile. ``windowed_summary`` is a
windowed aggregation with a watermark: late rows beyond the watermark are
dropped deterministically; output mode "append" emits each window once
finalized, "update" emits running counts. State size is O(open windows),
not O(rows).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.operators.validate import validate
from jsonschema_spark.plans.compile import CompileOptions
from jsonschema_spark.schema import Schema


def windowed_summary(
    stream: DataFrame,
    schema: Schema | str | dict,
    ts_col: str,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    options: Optional[CompileOptions] = None,
) -> DataFrame:
    """Tumbling-window pass/fail rollup with late-data handling.

    (window_start, window_end, rows, passed, failed, violation_count) —
    the streaming analogue of ``ValidationResult.summary()``.
    """
    ann = validate(stream, schema, options).annotated
    # watermarks require TIMESTAMP (not NTZ); cast is a no-op when already tz
    ann = ann.withColumn("_event_ts", F.col(ts_col).cast("timestamp"))
    return (
        ann.withWatermark("_event_ts", watermark)
        .groupBy(F.window(F.col("_event_ts"), window).alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_valid").cast("long")).alias("passed"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
            F.sum(F.size("_violations").cast("long")).alias("violation_count"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "rows",
            "passed",
            "failed",
            "violation_count",
        )
    )
