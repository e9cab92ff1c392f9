"""JSONL ingestion validation: raw newline-delimited JSON -> variant ->
compiled keyword algebra, with malformed lines routed to parse-failure
violations instead of failing the scan (or worse, passing silently).

Planted ground truth: sources/jsonl.synth_jsonl_lines corrupts line i by
class i % 13 (see its docstring table), so expected per-keyword counts are
exact.
"""

import json

from pyspark.sql import functions as F

from jsonschema_spark.sources import jsonl as J


def test_synth_lines_deterministic_and_parseable():
    a, b = J.synth_jsonl_lines(260), J.synth_jsonl_lines(260)
    assert a == b
    for i, line in enumerate(a):
        if i % 13 == 9:
            try:
                json.loads(line)
                raise AssertionError(f"line {i} should be malformed")
            except json.JSONDecodeError:
                pass
        else:
            doc = json.loads(line)
            assert doc["doc_id"] == i


def _validated(spark, n):
    df = J.read_jsonl(spark, J.materialized_jsonl(n))
    return df, J.violation_rows(df, J.JSONL_DOC_SCHEMA)


def test_planted_violation_counts(spark):
    n = 13 * 20
    df, viol = _validated(spark, n)
    counts = {
        (r["keyword_path"], r["keyword"]): r["cnt"]
        for r in viol.groupBy("keyword_path", "keyword")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    p = "/properties/doc/properties"
    assert counts == {
        ("/parse", "parse"): 20,
        ("/properties/doc/required", "required"): 20,
        (f"{p}/lang/pattern", "pattern"): 20,
        (f"{p}/lang/type", "type"): 20,
        (f"{p}/quality/maximum", "maximum"): 20,
        (f"{p}/quality/type", "type"): 20,
        (f"{p}/tags/items", "items"): 20,
        (f"{p}/tags/maxItems", "maxItems"): 20,
        (f"{p}/tags/uniqueItems", "uniqueItems"): 20,
        (f"{p}/text/minLength", "minLength"): 20,
    }
    # every violation is attributed to the right planted doc id — including
    # parse failures, whose id comes from the raw-text regexp fallback
    classes = {
        "parse": 9, "required": 3, "pattern": 4, "maximum": 5,
        "minLength": 6, "maxItems": 7, "uniqueItems": 10, "items": 11,
    }
    for r in viol.collect():
        assert r["doc_id"] is not None
        if r["keyword"] in classes:
            assert r["doc_id"] % 13 == classes[r["keyword"]], r
    # clean rows: exactly the 3 valid residues produce zero violations
    flagged = {r["doc_id"] for r in viol.collect()}
    clean = set(range(n)) - flagged
    assert {i % 13 for i in clean} == {0, 1, 2}


def test_malformed_lines_do_not_fail_open(spark):
    df, viol = _validated(spark, 26)
    parsed_null = df.filter(F.col("doc").isNull()).count()
    assert parsed_null == 2  # residue 9 twice in 26 lines
    parse_rows = viol.filter(F.col("keyword") == "parse")
    assert parse_rows.count() == 2
    assert {r["doc_id"] for r in parse_rows.collect()} == {9, 22}


def test_jsonl_plan_is_python_free(spark):
    _, viol = _validated(spark, 26)
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_jsonl_stream_matches_batch(spark, tmp_path):
    """JSONL ingestion under readStream.text: the same select (try_parse_json
    -> variant) + the same violation-row function produce identical
    violations to the batch path — raw-JSON validation works as a streaming
    source."""
    n = 13 * 6
    src = tmp_path / "jsonl_src"
    src.mkdir()
    lines = J.synth_jsonl_lines(n)
    # two files so the stream sees multiple input splits
    (src / "a.jsonl").write_text("\n".join(lines[: n // 2]) + "\n")
    (src / "b.jsonl").write_text("\n".join(lines[n // 2:]) + "\n")

    df, want_viol = _validated(spark, n)
    want = sorted(tuple(r) for r in want_viol.collect())

    stream_raw = spark.readStream.text(str(src)).select(
        F.col("value").alias("raw"),
        F.try_parse_json(F.col("value")).alias("doc"),
    )
    out = J.violation_rows(stream_raw, J.JSONL_DOC_SCHEMA)
    q = (
        out.writeStream.format("memory")
        .queryName("jsonl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM jsonl_stream").collect())
    assert got == want
    assert len(got) == 10 * 6
