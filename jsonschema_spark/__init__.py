"""jsonschema_spark — a PySpark-native JSON Schema (draft 2020-12) compile +
constraint-validation engine.

Role model: the public Go library ``mark-hartmann/jsonschema`` (read-only at
/root/reference), which implements the *compile* half of a compile-then-validate
pipeline: the schema document model, ``$ref``/``$id``/``$anchor`` resolution, a
rewriting tree walk, and JSON-pointer validation. This package re-expresses that
compile phase in driver-side Python and adds the *validate* half as a brand-new
Spark-first executor: schemas compile once on the driver into a constraint plan
of PySpark Column expressions, evaluated per-partition by Catalyst/Tungsten with
whole-stage codegen; the only Python in the hot path is one vectorized Arrow
pandas UDF (audio payload decoding).

Layout
------
- ``schema``       — the ``Schema`` document model (ref: schema.go)
- ``jsonptr``      — RFC 6901 pointer validation (ref: jsonptr/ptr.go)
- ``pointer``      — schema-aware reference-pointer validation (ref: ptr.go)
- ``walk``         — rewriting pre-order traversal (ref: walk.go)
- ``identifiers``  — $id/$anchor symbol table (ref: identifiers.go)
- ``resolve``      — $ref resolution + pointer evaluation (ref: resolve.go)
- ``loader``       — external schema loaders (ref: loader.go)
- ``plans``        — driver-side compiler: Schema -> Column-expression plan
- ``operators``    — validation/stat/dedup/similarity operators over DataFrames
- ``functions``    — column-expression helpers + the audio pandas UDF
- ``sources``      — table loaders + deterministic synthetic clips source
- ``session``      — ``job_session``: the SparkSession every job runs on
- ``streaming``    — test-only streaming operators; a ``readStream`` frame
                     validates through ``operators.validate.validate``
"""

from jsonschema_spark.schema import Schema, TRUE, FALSE
from jsonschema_spark.walk import Walk, Skip, SkipAll
from jsonschema_spark.identifiers import Identifiers, compute_identifiers
from jsonschema_spark.resolve import ResolveConfig, resolve_reference

__all__ = [
    "Schema",
    "TRUE",
    "FALSE",
    "Walk",
    "Skip",
    "SkipAll",
    "Identifiers",
    "compute_identifiers",
    "ResolveConfig",
    "resolve_reference",
]

__version__ = "0.1.0"
