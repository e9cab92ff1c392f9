"""Discriminator-routed validation (operators/dispatch.py).

Routing parity: each slice's violations equal a plain single-schema
validation of that slice; unregistered values reject loudly (or pass
under opt-in accept); the plan is one scan with zero unions/shuffles."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.dispatch import validate_dispatch
from jsonschema_spark.operators.validate import validate

SCHEMAS = {
    "a": {"type": "object", "properties": {"v": {"minimum": 10}}},
    "b": {"type": "object", "properties": {"v": {"maximum": 5}}, "required": ["s"]},
}


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, "a", 3, "x"),   # violates a (v < 10)
        (2, "a", 50, "x"),  # passes a
        (3, "b", 3, None),  # violates b (s required)
        (4, "b", 9, "x"),   # violates b (v > 5)
        (5, "c", 1, "x"),   # unregistered
        (6, None, 1, "x"),  # NULL discriminator -> unregistered
    ]
    return spark.createDataFrame(rows, "id long, kind string, v long, s string")


def _v(df):
    return sorted(tuple(r) for r in df.collect())


def test_dispatch_routes_like_per_slice_validation(spark, frame):
    res = validate_dispatch(frame, SCHEMAS, "kind")
    routed = res.violations(["id"])
    for kind, schema in SCHEMAS.items():
        mine = routed.join(
            frame.where(F.col("kind") == kind).select("id"), "id", "left_semi"
        )
        plain = validate(
            frame.where(F.col("kind") == kind), schema
        ).violations(["id"])
        assert _v(mine) == _v(plain), f"slice {kind} diverges"


def test_unregistered_rejected_loudly(spark, frame):
    res = validate_dispatch(frame, SCHEMAS, "kind")
    rows = res.violations(["id"]).where(F.col("keyword") == "dispatch").collect()
    assert sorted(r["id"] for r in rows) == [5, 6]
    assert all(r["column"] == "kind" for r in rows)
    flags = {r["id"]: r["_valid"] for r in res.annotated.select("id", "_valid").collect()}
    assert flags[5] is False and flags[6] is False


def test_unregistered_accept_passthrough(spark, frame):
    res = validate_dispatch(frame, SCHEMAS, "kind", on_unregistered="accept")
    flags = {r["id"]: r["_valid"] for r in res.annotated.select("id", "_valid").collect()}
    assert flags[5] is True and flags[6] is True
    assert flags[1] is False  # registered branches still validate


def test_downstream_machinery_composes(spark, frame):
    res = validate_dispatch(frame, SCHEMAS, "kind")
    totals = res.totals().collect()[0]
    assert totals["rows"] == 6 and totals["failed"] == 5  # 1,3,4 + unregistered 5,6
    by = {r["kind"]: r["failed"] for r in res.summary_by(["kind"]).collect()}
    assert by["a"] == 1 and by["b"] == 2


def test_empty_registry_rejected(spark, frame):
    with pytest.raises(ValueError):
        validate_dispatch(frame, {}, "kind")


def test_single_scan_no_shuffle(spark, frame):
    res = validate_dispatch(frame, SCHEMAS, "kind")
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dispatch_over_variant_column(spark):
    """Two schemas over a parse_json column, routed by a discriminator: the
    extraction columns of both schemas coexist, and each routed slice's
    violation rows equal a plain validate() of that slice."""
    schemas = {
        "a": {"properties": {"p": {"type": "object", "required": ["k"],
                                   "properties": {"k": {"type": "integer", "minimum": 10}}}}},
        "b": {"properties": {"p": {"type": "object", "required": ["m"],
                                   "properties": {"k": {"type": "string", "pattern": "^x"}}}}},
    }
    rows = [
        (1, "a", '{"k": 3}'), (2, "a", '{"k": 40}'), (3, "a", '{"m": 1}'),
        (4, "a", '"s"'), (5, "b", '{"m": 1, "k": "xy"}'), (6, "b", '{"k": "y"}'),
        (7, "b", '{"m": 2, "k": 5}'), (8, "b", "[1]"),
    ]
    df = spark.createDataFrame(rows, "id long, kind string, js string").select(
        "id", "kind", F.parse_json("js").alias("p")
    )
    routed = validate_dispatch(df, schemas, "kind").violations(["id"])
    assert routed.columns == ["id", "keyword_path", "keyword", "column", "message"]
    for kind, schema in schemas.items():
        part = df.where(F.col("kind") == kind)
        mine = routed.join(part.select("id"), "id", "left_semi")
        assert _v(mine) == _v(validate(part, schema).violations(["id"])), kind
    assert len(_v(routed)) == 7
