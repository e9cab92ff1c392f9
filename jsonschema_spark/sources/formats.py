"""Row-identical format twins (ORC, CSV) of the parquet test tables.

"Complete" for a validation engine includes the boring part: reading
the SAME table from whatever container the lake actually has.
``format_twin`` publishes an ORC or a CSV twin of a parquet table once
(content-keyed corpus cache, atomic rename) so contract queries can run
the SAME compiled validation plan over ``spark.read.orc`` /
``spark.read.csv`` — and the
DuckDB oracle keeps reading the parquet ground truth, certifying that
the format round-trip changes nothing.

CSV round-trip notes: Spark writes doubles via Java's shortest
round-trip toString and reads them back exactly; dates are ISO; quoting
protects commas/newlines in comments. The read uses the parquet twin's
EXACT schema (never inference — inference is a different operator).
ORC is a typed columnar container; the round trip is lossless by
construction. DuckDB reads neither twin — it doesn't need to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jsonschema_spark.sources.clips import corpus_path, publish
from jsonschema_spark.sources.tables import load_table


def format_twin(spark: SparkSession, fmt: str, sf_dir: str, table: str) -> str:
    """``fmt`` ("orc" or "csv" with header) copy of ``table``, written once
    per scale factor. Read a CSV twin back with ``read_csv_twin`` —
    explicit schema, no inference."""

    def write(tmp: str) -> None:
        w = load_table(spark, sf_dir, table).write
        if fmt == "orc":
            w.orc(tmp)
        else:
            w.option("header", "true").csv(tmp)

    return publish(corpus_path(format_twin, fmt, sf_dir, table), write)


def read_csv_twin(
    spark: SparkSession, sf_dir: str, table: str, path: str
) -> DataFrame:
    """CSV read with the parquet twin's exact schema."""
    schema = load_table(spark, sf_dir, table).schema
    return spark.read.schema(schema).option("header", "true").csv(path)
