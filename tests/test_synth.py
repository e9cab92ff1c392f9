"""Schema-driven generator: satisfying data validates clean; corrupted rows
are caught at the configured rate — the generator closes the loop on the
compile-then-validate pipeline.
"""

import re

import pytest

from jsonschema_spark.operators.validate import validate
from jsonschema_spark.schema import Schema
from jsonschema_spark.sources.synth import _Rand, dataframe_for_schema, sample_pattern

from .conftest import require_testdata

PATTERNS = [
    r"^[A-Z]{3}-\d{3}$",
    r"\d{5}",
    r"^clip-\d{12}$",
    r"^/dev/[^/]+(/[^/]+)*$",
    r"^(/[^/]+)+$",
    r"^[a-z ,.']+$",
    r"^user-[0-9]+$",
    r"^-?(0|[1-9]\d*)$",
    r"^(ext3|ext4|btrfs)$",
    r"^[a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{12}$",
]


@pytest.mark.parametrize("pattern", PATTERNS)
def test_sampled_strings_match_their_pattern(pattern):
    for i in range(50):
        s = sample_pattern(pattern, _Rand(f"t|{pattern}|{i}"))
        assert re.search(pattern, s), (pattern, s)


TEST_SCHEMA = {
    "type": "object",
    "required": ["id", "status", "score", "name", "tags"],
    "properties": {
        "id": {"type": "integer", "minimum": 1, "maximum": 10**9},
        "status": {"enum": ["new", "active", "closed"]},
        "score": {"type": "number", "minimum": 0, "maximum": 100},
        "name": {"type": "string", "pattern": "^user-[0-9]+$"},
        "tags": {"type": "array", "minItems": 1, "maxItems": 4,
                 "items": {"type": "string", "minLength": 1}},
        "note": {"type": "string", "minLength": 1, "maxLength": 40},
    },
    "additionalProperties": False,
}


def test_clean_generation_validates(spark):
    df = dataframe_for_schema(spark, TEST_SCHEMA, 400, seed=7)
    res = validate(df, TEST_SCHEMA)
    totals = res.totals().collect()[0]
    assert totals.rows == 400
    assert totals.failed == 0, res.violations(["id"]).collect()[:5]


def test_generation_deterministic_across_partitioning(spark):
    a = sorted(map(tuple, dataframe_for_schema(spark, TEST_SCHEMA, 100).collect()))
    b = sorted(map(tuple, dataframe_for_schema(spark, TEST_SCHEMA, 100).collect()))
    assert a == b


def test_violation_rate_detected(spark):
    df = dataframe_for_schema(spark, TEST_SCHEMA, 1000, violation_rate=0.25)
    totals = validate(df, TEST_SCHEMA).totals().collect()[0]
    # each corrupted row breaks exactly one constrained property; the
    # validator must catch roughly the planted rate
    assert 0.15 <= totals.failed / totals.rows <= 0.35


def test_reference_fixture_schemas_generate_clean(spark):
    import json
    import os

    examples = os.path.join(require_testdata(), "testdata", "miscellaneous-examples")
    for name in ("person", "complex-object", "regex-pattern"):
        with open(os.path.join(examples, f"{name}.schema.json")) as f:
            doc = json.load(f)
        schema = Schema.from_value(doc)
        df = dataframe_for_schema(spark, schema, 120, seed=3)
        totals = validate(df, schema).totals().collect()[0]
        assert totals.failed == 0, (name, validate(df, schema)
                                    .violations(df.columns[:1]).collect()[:5])
