"""Benchmark decontamination: flag / drop training documents whose text
overlaps an evaluation benchmark by shared word n-grams.

The standard LLM-training hygiene step (GPT-3 appendix C, PaLM, Llama et
al.): a benchmark n-gram appearing verbatim in a training document marks
the document contaminated.  Reference parity note: the reference engine
(mark-hartmann/jsonschema) has no corpus operators at all — this belongs to
the training-data-pipeline surface layered on top of the validation engine.

Spark shape (scale-first):
  * Per-document distinct n-gram sets reuse ``dedup.word_shingles_from_tokens`` — a
    codegen'd slice/array_join composition, no Python.
  * The benchmark gram set is DISTINCT-ed once.  Benchmarks are tiny next
    to the corpus (10^4–10^6 grams vs 10^12 docs), so the left join against
    it is AQE-broadcast in practice — the corpus is never shuffled for the
    probe; the only shuffle is the per-doc groupBy count (partial-agg
    combine, key = doc id).
  * No forced ``F.broadcast``: if someone feeds a benchmark bigger than the
    threshold, AQE falls back to a shuffle join instead of OOMing the
    driver (the curate-funnel lesson from round 1).

Every output column is reproducible in DuckDB SQL (list_transform +
range + array_to_string grams), so the contract query hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from jsonschema_spark.functions.grid import grid_round

from .dedup import word_shingles_from_tokens
from .text import tokens


def benchmark_grams(
    bench: DataFrame, n: int = 5, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams over the whole benchmark — one column ``_g``.

    One explode + one distinct; the result is the (small) probe side of
    every contamination join.  Callers running many reports against the
    same benchmark should ``.persist()`` the result.
    """
    return (
        bench.select(tokens(F.col(text_col)).alias("_t"))
        .select(F.explode(word_shingles_from_tokens(F.col("_t"), n)).alias("_g"))
        .distinct()
    )


def contamination_report(
    df: DataFrame,
    bench: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Returns (id_col, total_ngrams, contaminated_ngrams, contamination):
      total_ngrams         distinct word n-grams in the document
      contaminated_ngrams  of those, how many appear anywhere in the benchmark
      contamination        contaminated / total (0.0 for gram-less docs)

    Exact (no sketches): a single explode of the corpus gram sets, a
    left join against the distinct benchmark grams (AQE broadcasts the
    benchmark side), then one partial-aggregated groupBy per document.
    The corpus itself is never shuffled before the final count.
    """
    grams = benchmark_grams(bench, n, bench_text_col).withColumn("_hit", F.lit(1))
    # token array materialized in its own projection: the slice lambda
    # inside the shingle transform re-evaluates its array input per element
    # under interpreted HOF evaluation, so feeding it raw text re-runs
    # split(normalize(text)) once per shingle — O(tokens^2) per document
    # (measured 4x on this operator at sf0.1)
    ex = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).select(
        F.col(id_col),
        F.explode_outer(word_shingles_from_tokens(F.col("_t"), n)).alias("_g"),
    )
    joined = ex.join(grams, "_g", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("_g").alias("total_ngrams"),
            F.count("_hit").alias("contaminated_ngrams"),
        )
        .withColumn(
            "contamination",
            grid_round(
                F.col("contaminated_ngrams")
                / F.greatest(F.col("total_ngrams"), F.lit(1)).cast("double"),
                6,
            ),
        )
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop documents with >= ``min_hits`` benchmark n-grams.

    The flagged-id set can be arbitrarily large (a poisoned corpus), so the
    anti-join is left to AQE — no broadcast hint.
    """
    flagged = (
        contamination_report(df, bench, n, text_col, id_col, bench_text_col)
        .filter(F.col("contaminated_ngrams") >= min_hits)
        .select(id_col)
    )
    return df.join(flagged, id_col, "left_anti")
