"""Custom stateful streaming operator: per-key running validation totals.

``applyInPandasWithState`` keeps one small state record per key (rows,
failed, violations) across micro-batches — the canonical "custom operator
Spark lacks" shape from the brief. State is O(distinct keys), not O(rows):
at 10^12 clips keyed by codec/sr_hz the state store holds a handful of
counters per partition, and the per-batch work is a vectorized pandas
aggregation over Arrow batches.

Absent keys simply keep their last totals; emit mode is "update"
(one refreshed row per key per batch it appears in).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jsonschema_spark.operators.validate import validate
from jsonschema_spark.plans.compile import CompileOptions

_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("rows", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("violation_count", T.LongType(), False),
    ]
)
_STATE = T.StructType(
    [
        T.StructField("rows", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("violation_count", T.LongType(), False),
    ]
)


def running_validation_totals(
    stream: DataFrame,
    schema,
    key_col: str,
    options: Optional[CompileOptions] = None,
) -> DataFrame:
    """Streaming DataFrame of (key, rows, failed, violation_count) running
    totals, updated per micro-batch via per-key state."""
    ann = validate(stream, schema, options).annotated.select(
        F.col(key_col).cast("string").alias("key"),
        (~F.col("_valid")).cast("long").alias("_f"),
        F.size("_violations").cast("long").alias("_v"),
    )

    def update(
        key: tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = failed = viols = 0
        for b in batches:
            rows += len(b)
            failed += int(b["_f"].sum())
            viols += int(b["_v"].sum())
        if state.exists:
            prows, pfailed, pviols = state.get
            rows += prows
            failed += pfailed
            viols += pviols
        state.update((rows, failed, viols))
        yield pd.DataFrame(
            {"key": [key[0]], "rows": [rows], "failed": [failed],
             "violation_count": [viols]}
        )

    return ann.groupBy("key").applyInPandasWithState(
        update, _OUTPUT, _STATE, "update", GroupStateTimeout.NoTimeout
    )
