"""Text analysis for training-data pipelines: tokenization stats, quality
scoring, language-ID heuristic, document fingerprinting.

All pure Column expressions (JVM-side, codegen'd) — no Python in the path.
Every function returns columns designed to be reproducible in ANSI SQL so
the DuckDB oracle can cross-check them exactly (doubles rounded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from jsonschema_spark.functions.grid import grid_round

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")

# marker words per language for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def normalize(col: Column) -> Column:
    """Canonical text form: lowercase, collapsed whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalize(col), " ")


def token_count(col: Column) -> Column:
    n = F.size(tokens(col))
    return F.when(F.length(normalize(col)) == 0, F.lit(0)).otherwise(n)


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish count: splits on whitespace AND letter/digit boundaries —
    a cheap, deterministic proxy for BPE token counts used for budgeting."""
    pieces = F.split(normalize(col), "(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])| ")
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    stripped = F.length(F.regexp_replace(col, "[\\p{Punct}]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        grid_round((total - stripped) / total.cast("double"), 6)
    )


def stopword_ratio(col: Column) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(grid_round(sw / n.cast("double"), 6))


def mean_token_length(col: Column) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n <= 0, F.lit(0.0)).otherwise(grid_round(total / n.cast("double"), 6))


def quality_score(col: Column) -> Column:
    """[0,1] heuristic combining length, stopword presence and punctuation —
    the standard cheap pre-filter shape for web-scale corpus cleaning."""
    n = token_count(col)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(col)
    sw_score = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    p = punct_ratio(col)
    punct_score = F.when(p <= 0.2, F.lit(1.0)).otherwise(F.lit(0.3))
    return grid_round(0.5 * len_score + 0.3 * sw_score + 0.2 * punct_score, 6)


def digit_ratio(col: Column) -> Column:
    total = F.length(col)
    stripped = F.length(F.regexp_replace(col, "[0-9]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        grid_round((total - stripped) / total.cast("double"), 6)
    )


def unique_token_ratio(col: Column) -> Column:
    toks = tokens(col)
    n = token_count(col)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        grid_round(F.size(F.array_distinct(toks)) / n.cast("double"), 6)
    )


# Linear quality model (the fastText/LR-style filter used by GPT-3/CCNet
# pipelines, with driver-provided weights instead of a shipped binary —
# plug trained weights in, the plan shape is identical). The score is the
# RAW MARGIN w.x + bias, not a sigmoid: exp() is not correctly rounded
# cross-engine, while the feature ratios (counts, divides) and the fixed
# left-to-right multiply-add chain are — so the DuckDB oracle reproduces
# every double bit-for-bit. Feature order is the dict order below.
QUALITY_WEIGHTS_DEFAULT: dict[str, float] = {
    "bias": -1.0,
    "len_sat": 1.6,          # saturating length: least(tokens/50, 1)
    "stopword_ratio": 1.2,   # natural prose has stopwords
    "unique_ratio": 0.6,     # repetitive spam has few distinct tokens
    "punct_ratio": -1.8,     # markup/boilerplate is punctuation-heavy
    "digit_ratio": -2.2,     # serial dumps / tables are digit-heavy
}


def model_features(col: Column) -> dict[str, Column]:
    """The model's feature vector, each component oracle-replicable."""
    n = token_count(col)
    return {
        "len_sat": F.least(n / F.lit(50.0), F.lit(1.0)),
        "stopword_ratio": stopword_ratio(col),
        "unique_ratio": unique_token_ratio(col),
        "punct_ratio": punct_ratio(col),
        "digit_ratio": digit_ratio(col),
    }


def model_quality_score(col: Column, weights: dict[str, float] | None = None) -> Column:
    """Raw linear margin, rounded to 9 places (both engines round SQL-style
    half-away, so downstream threshold comparisons agree exactly)."""
    return _margin(model_features(col), weights)


def _margin(feats: dict[str, Column], weights: dict[str, float] | None) -> Column:
    w = weights or QUALITY_WEIGHTS_DEFAULT
    score = F.lit(float(w["bias"]))
    for name, fcol in feats.items():
        score = score + F.lit(float(w[name])) * fcol
    return grid_round(score, 9)


def model_quality_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Per-doc model scoring: (id, features..., score, keep). TWO stacked
    projections (features, then margin over the feature ATTRIBUTES) so the
    O(tokens) feature expressions — interpreted HOFs with no subexpression
    cache — are evaluated once each, not re-expanded into the score (the
    project-collapsing gotcha in CLAUDE.md); zero shuffles either way."""
    c = F.col(text_col)
    feats = model_features(c)
    base = df.select(
        F.col(id_col), *[fc.alias(name) for name, fc in feats.items()]
    )
    score = _margin({name: F.col(name) for name in feats}, weights)
    return base.select(
        "*",
        score.alias("score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize(col))


def lang_id(col: Column) -> Column:
    """Marker-word language heuristic; 'und' when nothing matches.

    Deterministic argmax with fixed tie-break order (en,es,de,fr).
    """
    toks = tokens(col)

    def _score(markers):
        # single-arg lambda: PySpark HOFs treat a second parameter as the
        # element-index column, so capture markers via closure instead
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: _score(markers) for lang, markers in LANG_MARKERS.items()}
    best_score = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties via later-applied when()
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best_score), F.lit(lang)).otherwise(out)
    return out


def corpus_summary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-language corpus rollup: (lang_pred, docs, total_tokens,
    total_subwords, avg_quality) — the budget/reporting aggregate a
    training-data pipeline runs after profiling. One partial+final hash
    aggregate over the profile projection."""
    prof = text_profile(df, text_col, id_col)
    return (
        prof.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("token_count").cast("long").alias("total_tokens"),
            F.sum("subword_count").cast("long").alias("total_subwords"),
            grid_round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang_pred")
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("token_count"),
        bpe_ish_token_count(c).alias("subword_count"),
        mean_token_length(c).alias("mean_token_len"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
        lang_id(c).alias("lang_pred"),
    )


def _ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as joined strings (empty array when
    the doc has fewer than n tokens — guarded explicitly because
    F.sequence(1, 0) would generate a DESCENDING sequence, not empty)."""
    return F.when(
        F.size(toks) < F.lit(n), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def dup_ngram_fraction(col: Column, n: int) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier one
    (1 - distinct/total): the Gopher-style within-document repetition
    signal. Pure per-row expressions — no shuffle, embarrassingly
    parallel at any scale."""
    grams = _ngrams(tokens(col), n)
    total = F.size(grams)
    return F.when(total == 0, F.lit(0.0)).otherwise(
        grid_round(1.0 - F.size(F.array_distinct(grams)) / total.cast("double"), 6)
    )


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals used by training-data quality
    filters (Gopher-style repetition rules):

    - ``dup_2gram_frac`` / ``dup_3gram_frac`` — fraction of n-gram
      occurrences that repeat within the doc (per-row expressions).
    - ``top_token_frac`` — share of the single most frequent token.
    - ``top_2gram_frac`` — share of the most frequent word bigram.

    Scale shape: the n-gram fractions never shuffle; the top-frequency
    signals explode to (doc, term) and aggregate twice on doc-keyed data
    — both linear, no self-joins. Crossing Gopher-ish thresholds (e.g.
    dup_3gram_frac > 0.3 or top_token_frac > 0.2) marks a doc
    ``repetitive`` for the curation gate."""
    c = F.col(text_col)
    base = df.select(
        F.col(id_col),
        tokens(c).alias("_toks"),
        dup_ngram_fraction(c, 2).alias("dup_2gram_frac"),
        dup_ngram_fraction(c, 3).alias("dup_3gram_frac"),
    )

    def _top_frac(term_col: Column, name: str) -> DataFrame:
        exploded = base.select(id_col, F.explode(term_col).alias("_t"))
        per_term = exploded.groupBy(id_col, "_t").agg(
            F.count(F.lit(1)).alias("_c")
        )
        return per_term.groupBy(id_col).agg(
            grid_round(F.max("_c") / F.sum("_c").cast("double"), 6).alias(name)
        )

    top_tok = _top_frac(F.col("_toks"), "top_token_frac")
    top_2g = _top_frac(_ngrams(F.col("_toks"), 2), "top_2gram_frac")
    return (
        base.drop("_toks")
        .join(top_tok, id_col, "left")
        .join(top_2g, id_col, "left")
        .select(
            id_col,
            "dup_2gram_frac",
            "dup_3gram_frac",
            F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
            F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
        )
    )


def top_vocab(
    df: DataFrame, size: int = 4096, text_col: str = "text"
) -> DataFrame:
    """The ``size`` most frequent normalized tokens in the corpus —
    (token, freq), ties broken by token ascending so the vocabulary is
    deterministic across engines and re-runs.

    Shape: one explode + one groupBy(token) count (fixed-width-ish shuffle
    key, partial agg map-side), then orderBy+limit, which Spark executes
    as TakeOrdered (per-partition top-k merged on the driver — no global
    sort shuffle)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(size)
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-fit analysis: per document, how much of the token stream a
    fixed vocabulary covers — (id_col, n_tokens, oov_tokens, oov_ratio).

    ``vocab`` is a DataFrame with a ``token`` column (e.g. ``top_vocab``
    output, or a real tokenizer's vocab loaded as a table). The corpus is
    exploded once and left-joined against the vocab — small next to the
    corpus, so AQE broadcasts it (never forced: a pathological vocab must
    not OOM the driver) — then one partial-aggregated groupBy per doc.
    Token multiplicity counts: a repeated OOV word is that many OOV
    occurrences, which is what a token-budget owner cares about."""
    marked = vocab.select(F.col("token").alias("_tok"), F.lit(1).alias("_in"))
    ex = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).select(
        F.col(id_col), F.explode_outer(F.col("_t")).alias("_tok")
    )
    joined = ex.join(marked, "_tok", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("_tok").alias("n_tokens"),
            (F.count("_tok") - F.count("_in")).alias("oov_tokens"),
        )
        .withColumn(
            "oov_ratio",
            grid_round(
                F.col("oov_tokens")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                6,
            ),
        )
    )
