"""Runtime type gates over VARIANT instances.

``object`` and ``array`` are tested as "the map / array view is not NULL"
rather than through ``schema_of_variant``; these cases pin that the two
agree on every JSON shape, at an object-, an array- and a scalar-typed
pointer, including the keywords those gates make (in)applicable."""

import json

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.validate import validate

SHAPES = ["{}", '{"a":1}', '{"a":{"b":[1,{"c":null}]}}', "[]", '[1,"x"]', "[{}]",
          "null", '"s"', "1", "1.5", "true"]

SCHEMA = {
    "type": "object",
    "properties": {
        "doc": {
            "type": "object",
            "properties": {
                "o": {"type": "object", "minProperties": 1},
                "a": {"type": "array", "maxItems": 1},
                "s": {"type": "string", "minLength": 2},
            },
        }
    },
}


def _expected(value) -> set:
    """(keyword_path, keyword) failures, from the JSON value itself."""
    p = "/properties/doc/properties"
    out = set()
    if not isinstance(value, dict):
        out.add((f"{p}/o/type", "type"))
    elif len(value) < 1:
        out.add((f"{p}/o/minProperties", "minProperties"))
    if not isinstance(value, list):
        out.add((f"{p}/a/type", "type"))
    elif len(value) > 1:
        out.add((f"{p}/a/maxItems", "maxItems"))
    if not isinstance(value, str):
        out.add((f"{p}/s/type", "type"))
    elif len(value) < 2:
        out.add((f"{p}/s/minLength", "minLength"))
    return out


@pytest.mark.parametrize("shape", SHAPES)
def test_type_gates_match_json_shape(spark, shape):
    js = '{"o": %s, "a": %s, "s": %s}' % (shape, shape, shape)
    df = spark.createDataFrame([(1, js)], "id long, js string").select(
        "id", F.parse_json("js").alias("doc")
    )
    rows = validate(df, SCHEMA).violations(["id"]).collect()
    assert {(r["keyword_path"], r["keyword"]) for r in rows} == _expected(json.loads(shape))
