"""Newline-delimited JSON ingestion: raw JSONL -> VariantType -> validation.

The reference library's primary real-world job is validating raw JSON
documents (mark-hartmann/jsonschema README: compile a schema, call
``Validate`` on decoded JSON). This module is that workflow at table scale:
a JSONL file (the universal interchange shape for web-crawl / training-data
corpora) is scanned as text, each line parsed to a Spark 4 VARIANT with
``try_parse_json`` — malformed lines survive as NULL variants instead of
failing the scan — and the compiled keyword algebra evaluates the document
schema over the variant column. Scale shape: ``spark.read.text`` splits
large files by line ranges across executors, parse + validation are pure
codegen'd expressions (no Python), and the only shuffle is whatever the
caller's aggregation needs.

Synthesis for tests/oracles follows the clips pattern
(`sources/clips.py:corpus`): a deterministic generator plants violations
as a pure function of the line's doc_id, the file is published once at
``corpus_path(synth_jsonl_lines, n)``, and the DuckDB oracle reads the
SAME file via read_text() and recomputes every check with SQL JSON
functions — engine-independent ground truth, not a copied answer.
"""

from __future__ import annotations

import gzip
import importlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.operators.validate import _explode
from jsonschema_spark.plans.compile import VIOLATIONS_TYPE
from jsonschema_spark.sources.clips import corpus_path, publish

# Document schema the synthesized corpus is validated against. Exercises
# required / type / pattern / minLength / numeric bounds / array keywords
# on DYNAMIC (variant) instances — the ingestion-side counterpart of the
# typed-column algebra.
JSONL_DOC_SCHEMA = {
    "type": "object",
    "properties": {
        "doc": {
            "type": "object",
            "required": ["doc_id", "lang", "text"],
            "properties": {
                "doc_id": {"type": "integer", "minimum": 0},
                "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
                "text": {"type": "string", "minLength": 1},
                "quality": {"type": "number", "minimum": 0, "maximum": 1},
                "tags": {
                    "type": "array",
                    "maxItems": 5,
                    "uniqueItems": True,
                    "items": {"type": "string"},
                },
            },
        }
    },
}

_LANGS = ("en", "de", "fr", "es")
_WORDS = (
    "data", "schema", "spark", "variant", "corpus", "token",
    "filter", "batch", "shard", "stream",
)


def synth_jsonl_lines(n: int) -> list[str]:
    """Deterministic JSONL corpus with planted violations.

    Line ``i`` is a pure function of ``i``; the planted class is
    ``i % 13`` (one violation family per residue, valid otherwise), so
    both the DuckDB oracle and pytest know exact expected outcomes:

    ==========  ==========================  =======================
    i % 13      corruption                  expected keyword
    ==========  ==========================  =======================
    3           ``lang`` key omitted        required
    4           ``lang`` = "EN"             pattern
    5           ``quality`` = 1.5           maximum
    6           ``text`` = ""               minLength
    7           7 tags                      maxItems
    8           ``quality`` = "high"        type
    9           line truncated mid-string   (parse failure)
    10          duplicate tags              uniqueItems
    11          non-string tag element      items
    12          ``lang`` = 42               type
    ==========  ==========================  =======================
    """
    lines = []
    for i in range(n):
        m = i % 13
        if m == 9:
            lines.append('{"doc_id": %d, "lang": "en", "text": "truncated' % i)
            continue
        # JSON fragments per field (text payload is [a-z0-9 ] — no escaping)
        lang = '"%s"' % _LANGS[i % len(_LANGS)]
        text = '"document %d %s"' % (
            i,
            " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(i % 5 + 2)),
        )
        quality = repr((i % 100) / 100)
        tags = '["a%d", "b%d"]' % (i % 4, i % 5)
        if m == 4:
            lang = '"EN"'
        elif m == 5:
            quality = "1.5"
        elif m == 6:
            text = '""'
        elif m == 7:
            tags = '["t1", "t2", "t3", "t4", "t5", "t6", "t7"]'
        elif m == 8:
            quality = '"high"'
        elif m == 10:
            tags = '["x", "x"]'
        elif m == 11:
            tags = '["ok", 7]'
        elif m == 12:
            lang = "42"
        parts = ['"doc_id": %d' % i]
        if m != 3:
            parts.append('"lang": %s' % lang)
        parts.append('"text": %s' % text)
        parts.append('"quality": %s' % quality)
        parts.append('"tags": %s' % tags)
        lines.append("{%s}" % ", ".join(parts))
    return lines


def _jsonl_text(n: int) -> str:
    return "\n".join(synth_jsonl_lines(n)) + "\n"


def _write_jsonl(path: str, n: int) -> None:
    with open(path, "w") as f:
        f.write(_jsonl_text(n))


def materialized_jsonl(n: int) -> str:
    return publish(corpus_path(synth_jsonl_lines, n), lambda tmp: _write_jsonl(tmp, n))


def read_jsonl(
    spark: SparkSession, path: str, doc_col: str = "doc", raw_col: str = "raw"
) -> DataFrame:
    """Scan a JSONL file/directory as (raw line, parsed VARIANT).

    ``try_parse_json`` keeps malformed lines as NULL variants with the raw
    text retained for triage — ingestion never fails the job, it routes
    bad lines to the violation report (fail-loud, not fail-open)."""
    return spark.read.text(path).select(
        F.col("value").alias(raw_col),
        F.try_parse_json(F.col("value")).alias(doc_col),
    )


def doc_id_col(doc_col: str = "doc", raw_col: str = "raw") -> Column:
    """Best-effort document id: variant extraction for parsed lines, a
    regexp over the raw text for malformed ones (ids remain attributable
    even when the JSON is truncated mid-line)."""
    return F.coalesce(
        F.try_variant_get(F.col(doc_col), "$.doc_id", "long"),
        F.regexp_extract(F.col(raw_col), '"doc_id": (\\d+)', 1).cast("long"),
    )


def violation_rows(df: DataFrame, schema: dict) -> DataFrame:
    """(doc_id, keyword_path, keyword) violations incl. parse failures,
    from a (raw, doc) frame produced by ``read_jsonl``, in one pass.

    The keyword algebra is vacuous on NULL instances by design (absent ==
    nothing to check), so a line that is not valid JSON gets its own
    ``/parse`` entry, concatenated onto the row's violations array before
    the explode — otherwise a corrupt shard would validate as clean. No
    second scan of the input is unioned in."""
    # looked up on the module at call time, so a wrapper installed on
    # operators.validate.validate (perfbench's traced run) sees the call
    V = importlib.import_module("jsonschema_spark.operators.validate")
    frame = df.select(doc_id_col().alias("doc_id"), "doc", "raw")
    unparsed = F.col("doc").isNull() & (F.length(F.trim(F.col("raw"))) > 0)
    parse = F.struct(
        F.lit("/parse").alias("keyword_path"),
        F.lit("parse").alias("keyword"),
        F.lit("raw").alias("column"),
        F.lit("line is not valid JSON").alias("message"),
    )
    entries = F.concat(
        F.col("_violations"),
        F.when(unparsed, F.array(parse)).otherwise(F.array().cast(VIOLATIONS_TYPE)),
    )
    return _explode(V.validate(frame, schema).annotated, ["doc_id"], entries).select(
        "doc_id",
        F.col("_v.keyword_path").alias("keyword_path"),
        F.col("_v.keyword").alias("keyword"),
    )


def jsonl_gz(n: int) -> str:
    """Gzip twin of the JSONL corpus — SAME lines, compressed — as a
    directory holding one ``docs.jsonl.gz``. Spark's text source
    decompresses .gz transparently (one task per file — gz is not
    splittable; shard large corpora into many .gz files). The oracle keeps
    reading the UNCOMPRESSED twin: the certification is exactly that
    decompress->parse->validate lands on the same output. gzip mtime is
    pinned to 0 so the artifact is bit-identical across sessions."""

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "docs.jsonl.gz"), "wb") as f:
            # filename="" — GzipFile would otherwise embed the file name
            # in the FNAME header
            with gzip.GzipFile(filename="", fileobj=f, mode="wb", mtime=0) as gz:
                gz.write(_jsonl_text(n).encode())

    return publish(corpus_path(jsonl_gz, n), write)
