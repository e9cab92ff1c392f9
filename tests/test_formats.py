"""Format-twin sources (sources/formats.py + gz JSONL): the SAME
compiled validation plan over ORC / CSV / gzip-JSONL must produce
value-identical output to the parquet/plain ground truth, and the
materialized artifacts must be deterministic."""

import gzip
import os
import shutil

from jsonschema_spark.sources.jsonl import jsonl_gz, materialized_jsonl

from .conftest import SF_DIR


def test_gz_twin_is_deterministic_and_line_identical():
    d = jsonl_gz(123)
    p = os.path.join(d, "docs.jsonl.gz")
    q = materialized_jsonl(123)
    with gzip.open(p, "rb") as f:
        gz_bytes = f.read()
    with open(q, "rb") as f:
        plain = f.read()
    assert gz_bytes == plain
    # mtime pinned to 0 -> artifact bytes stable across sessions
    with open(p, "rb") as f:
        raw1 = f.read()
    shutil.rmtree(d)
    jsonl_gz(123)
    with open(p, "rb") as f:
        raw2 = f.read()
    assert raw1 == raw2


def test_orc_and_csv_twins_round_trip_exactly(spark):
    from pyspark.sql import functions as F

    from jsonschema_spark.sources.formats import format_twin, read_csv_twin
    from jsonschema_spark.sources.tables import load_table

    base = load_table(spark, SF_DIR, "orders")
    orc = spark.read.orc(format_twin(spark, "orc", SF_DIR, "orders"))
    csv = read_csv_twin(
        spark, SF_DIR, "orders",
        format_twin(spark, "csv", SF_DIR, "orders"),
    )
    assert orc.schema == base.schema
    assert csv.schema == base.schema
    for twin in (orc, csv):
        assert twin.exceptAll(base).count() == 0
        assert base.exceptAll(twin).count() == 0
