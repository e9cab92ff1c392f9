"""Parquet table loaders for the driver-provided test tables (TESTDATA.md).

At production scale these reads would be ``spark.read.format("iceberg")``
over a catalog table; the parquet path keeps the same DataFrame surface
(columnar scan, predicate pushdown, column pruning) in the sandbox.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
