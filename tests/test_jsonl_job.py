"""Job-level composition test for jobs/validate_jsonl_job.py: the CLI's
violation_rows (keyword algebra plus parse-failure routing) over the
deterministic synthetic corpus reproduces the planted per-class rates."""

from pyspark.sql import functions as F

from jobs.validate_jsonl_job import violation_rows
from jsonschema_spark.sources import jsonl as J


def test_job_violation_rows_planted_totals(spark):
    n = 13 * 100  # 1300 lines, 13-residue planted classes
    path = J.materialized_jsonl(n)
    df = J.read_jsonl(spark, path)
    viol = violation_rows(df, J.JSONL_DOC_SCHEMA)
    agg = viol.agg(
        F.count(F.lit(1)).alias("violations"),
        F.count_distinct("doc_id").alias("docs"),
        F.sum((F.col("keyword") == "parse").cast("long")).alias("parse"),
    ).collect()[0]
    # residues 0,1,2 are clean; each of the 10 violating residues plants
    # exactly one violation per doc -> 10*100 violations over 10*100 docs,
    # of which residue 9 (malformed JSON) contributes the 100 parse rows.
    assert agg["violations"] == 1000
    assert agg["docs"] == 1000
    assert agg["parse"] == 100


def test_job_violation_rows_schema_stable(spark):
    df = J.read_jsonl(spark, J.materialized_jsonl(26))
    viol = violation_rows(df, J.JSONL_DOC_SCHEMA)
    assert viol.columns == ["doc_id", "keyword_path", "keyword"]
