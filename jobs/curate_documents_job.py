"""spark-submit entry point: training-data curation pipeline over documents.

Composes the engine's operators into the standard pretraining-corpus flow —
schema validation -> quality gating -> exact dedup -> MinHash near-dedup —
and emits the curated corpus plus a JSON funnel report. Every stage is
DataFrame-native (SURVEY §2C + training-data operators): one scan feeds the
validation + profile projection, dedup removals are aggregates/anti-joins
(no windows over the full table), and the near-dup pair set rides a
broadcast anti-join back onto the corpus.

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/curate_documents_job.py \\
        --input <documents-parquet> --output /curated/docs \\
        --quality-min 0.5 --min-tokens 5 --jaccard-threshold 0.6

Sandbox smoke:

    python jobs/curate_documents_job.py \\
        --input /root/testdata/sf0.001/documents.parquet \\
        --output /tmp/curated_docs --master 'local[8]'

Two near-dedup survivor policies (deterministic, selectable):

- ``pairs`` (default): for every verified near-dup pair (id_a < id_b) the
  larger id is dropped — single-pass, no iteration. Docs that are only
  TRANSITIVELY related (a~b, b~c, but a,c never paired) can both survive.
- ``clusters``: resolve the transitive closure with
  ``dedup.connected_components`` (large-star/small-star, O(log^2 n)
  rounds) and keep exactly the min-id doc of every duplicate cluster —
  the strict one-survivor-per-group guarantee, at the cost of the
  iterative contraction.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.operators import dedup, text as text_ops  # noqa: E402
from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402

# The corpus contract: what a row must look like to enter curation at all.
DOCUMENTS_JSON_SCHEMA = {
    "$id": "https://example.com/documents.schema.json",
    "type": "object",
    "required": ["doc_id", "text", "lang", "source"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": ["en", "es", "de", "fr", "zh", "und"]},
        "source": {"type": "string", "pattern": "^src\\d+$"},
        "n_chars": {"type": "integer", "minimum": 0},
    },
}


def curate(
    docs,
    quality_min: float = 0.5,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.6,
    schema: dict | None = None,
    output: str | None = None,
    near_dedup_policy: str = "pairs",
    near_dup_method: str = "minhash",
    boilerplate_min_doc_freq: int | None = None,
    mix_budget: int | None = None,
    mix_alpha: float = 0.5,
    mix_strata: str = "source",
    model_threshold: float | None = None,
    extract_html: bool = False,
    encoding_gate: bool = False,
    span_dedup_min_doc_freq: int | None = None,
    span_n: int = 8,
    span_max_dup_fraction: float | None = None,
):
    """Run the funnel; returns (curated DataFrame, stats dict).

    The input is scanned once into an annotated+profiled frame that is
    persisted — every later stage (counts, gates, dedup joins) reuses it.
    With ``output`` set, the curated corpus is written (parquet) BEFORE the
    cache is released, so the write reuses the persisted funnel instead of
    recomputing validate + profile + both dedup joins from scratch.
    """
    schema = schema or DOCUMENTS_JSON_SCHEMA
    if extract_html:
        # raw-crawl ingestion: markup -> text BEFORE validation, so the
        # schema's minLength/quality gates judge the extracted text
        from jsonschema_spark.operators.webtext import extract_html_text

        docs = docs.withColumn("text", extract_html_text("text"))
    ann = validate(docs, schema).annotated
    # profile columns are pure projections of `text` — computed in-line on
    # the annotated frame (a doc_id join would drop NULL ids and
    # cross-multiply duplicate ids, corrupting every funnel count)
    c = F.col("text")
    profile_cols = [
        text_ops.token_count(c).alias("token_count"),
        text_ops.quality_score(c).alias("quality"),
        text_ops.fingerprint(c).alias("fingerprint"),
        text_ops.lang_id(c).alias("lang_pred"),
    ]
    if model_threshold is not None:
        # linear-model gate (fastText/LR-shaped margin): computed in the
        # same single-scan projection as the heuristic profile
        profile_cols.append(text_ops.model_quality_score(c).alias("model_score"))
    if encoding_gate:
        # encoding health (mojibake / U+FFFD / control bytes) in the same
        # single-scan projection; gated FIRST — a double-decoded document's
        # quality features are meaningless
        from jsonschema_spark.operators.webtext import (
            encoding_gates,
            encoding_profile,
        )

        profile_cols.append(
            encoding_gates(encoding_profile(c))["encoding_ok"].alias("_encok")
        )
    profiled = ann.select("*", *profile_cols).persist()

    enc = F.col("_encok") if encoding_gate else F.lit(True)
    heuristic_gate = (F.col("quality") >= quality_min) & (
        F.col("token_count") >= min_tokens
    )
    gate = heuristic_gate
    if model_threshold is not None:
        gate = gate & (F.col("model_score") >= model_threshold)
    # one aggregate materializes the cache AND yields the first funnel
    # counts (instead of separate count() jobs over the cached frame)
    funnel = profiled.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("_valid").cast("long")).alias("n_valid"),
        F.sum((F.col("_valid") & enc).cast("long")).alias("n_enc"),
        F.sum((F.col("_valid") & enc & heuristic_gate).cast("long")).alias("n_heur"),
        F.sum((F.col("_valid") & enc & gate).cast("long")).alias("n_gated"),
    ).collect()[0]
    n_input = funnel["n_input"]
    n_invalid = n_input - funnel["n_valid"]
    n_encoding_rejected = funnel["n_valid"] - funnel["n_enc"]
    n_low_quality = funnel["n_enc"] - funnel["n_heur"]
    n_model_rejected = funnel["n_heur"] - funnel["n_gated"]
    gated = profiled.filter(F.col("_valid") & enc & gate)

    # optional block-level boilerplate removal BEFORE exact dedup: stripping
    # shared chrome makes near-identical docs exactly equal, so the cheap
    # fingerprint stage catches what would otherwise need MinHash. The
    # cleaned text replaces `text`; the fingerprint is recomputed; docs
    # that fall under min_tokens after cleaning are re-gated out.
    n_boiler_blocks = 0
    n_boiler_gated = 0
    if boilerplate_min_doc_freq:
        from jsonschema_spark.operators import boilerplate

        bp = boilerplate.remove_common_blocks(
            gated.select("doc_id", "text"),
            block_tokens=16,
            min_doc_freq=boilerplate_min_doc_freq,
        ).persist()
        n_boiler_blocks = bp.agg(F.sum("n_removed")).collect()[0][0] or 0
        cleaned = gated.drop("text", "fingerprint", "token_count").join(
            bp.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
        )
        regated = cleaned.select(
            "*",
            text_ops.token_count(F.col("text")).alias("token_count"),
            text_ops.fingerprint(F.col("text")).alias("fingerprint"),
        ).filter(F.col("token_count") >= min_tokens)
        n_after = regated.count()
        n_boiler_gated = (n_input - n_invalid - n_encoding_rejected
                          - n_low_quality - n_model_rejected - n_after)
        gated = regated

    # optional cross-document repeated-SPAN trim (Lee et al. 2107.06499
    # style) BEFORE exact dedup: removing shared runs at arbitrary offsets
    # (quoted chains, lyrics, license text mid-document) makes near-
    # identical docs exactly equal for the cheap fingerprint stage, same
    # rationale as the block-aligned boilerplate pass above but offset-free.
    n_span_tokens_trimmed = 0
    n_span_gated = 0
    sp = None
    if span_dedup_min_doc_freq:
        from jsonschema_spark.operators import spandedup

        sp = spandedup.repeated_span_report(
            gated.select("doc_id", "text"),
            n=span_n,
            min_doc_freq=span_dedup_min_doc_freq,
            keep_first=True,
        ).persist()
        n_span_tokens_trimmed = int(
            sp.agg(F.sum("dup_tokens")).collect()[0][0] or 0
        )
        keepable = sp
        if span_max_dup_fraction is not None:
            # mostly-duplicated docs are dropped whole: trimming a 95 %-
            # boilerplate doc leaves junk (the Lee et al. disposition)
            keepable = sp.filter(F.col("dup_fraction") <= span_max_dup_fraction)
        cleaned = gated.drop("text", "fingerprint", "token_count").join(
            keepable.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
        )
        regated = cleaned.select(
            "*",
            text_ops.token_count(F.col("text")).alias("token_count"),
            text_ops.fingerprint(F.col("text")).alias("fingerprint"),
        ).filter(F.col("token_count") >= min_tokens)
        n_after = regated.count()
        n_span_gated = (n_input - n_invalid - n_encoding_rejected
                        - n_low_quality - n_model_rejected - n_boiler_gated
                        - n_after)
        gated = regated

    # exact dedup: one survivor per content fingerprint (min doc_id), as an
    # aggregate + semi-join — no global window, shuffle keyed by fingerprint
    survivors = (
        gated.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    )
    exact = gated.join(survivors, ["fingerprint", "doc_id"], "left_semi")
    pool = (n_input - n_invalid - n_encoding_rejected - n_low_quality
            - n_model_rejected - n_boiler_gated - n_span_gated)
    n_exact_removed = pool - exact.count()

    # near-dedup pair generation: MinHash LSH (sub-quadratic scale default,
    # candidates verified by exact Jaccard) or the exact shingle inverted
    # index ('jaccard' — full recall, for audits / smaller corpora)
    if near_dup_method == "minhash":
        pairs = dedup.minhash_lsh_pairs(
            exact.select("doc_id", "text"), threshold=jaccard_threshold
        )
    elif near_dup_method == "jaccard":
        pairs = dedup.jaccard_pairs(
            exact.select("doc_id", "text"), threshold=jaccard_threshold
        )
    else:
        raise ValueError(f"unknown near_dup_method: {near_dup_method!r}")
    # No explicit broadcast hint: drop_ids is O(near-duplicate docs), which
    # at web scale can be billions of ids — far beyond broadcast limits. AQE
    # broadcasts when the runtime size is small and shuffles otherwise.
    if near_dedup_policy == "clusters":
        comp = dedup.connected_components(pairs)
        drop_ids = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
    elif near_dedup_policy == "pairs":
        drop_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    else:
        raise ValueError(f"unknown near_dedup_policy: {near_dedup_policy!r}")
    curated = exact.join(drop_ids, "doc_id", "left_anti")
    n_near_removed = pool - n_exact_removed - curated.count()

    # optional temperature mixing as the final stage: rebalance the CLEAN,
    # DEDUPED corpus (mixing before dedup would let duplicate mass distort
    # the per-stratum allocation)
    n_mix_removed = 0
    if mix_budget:
        from jsonschema_spark.operators.sampling import mixture_sample

        mixed = mixture_sample(
            curated,
            "doc_id",
            mix_strata,
            mix_budget,
            weight_col="token_count",
            alpha=mix_alpha,
        )
        n_mix_removed = pool - n_exact_removed - n_near_removed - mixed.count()
        curated = mixed

    by_lang = {
        r["lang_pred"]: r["cnt"]
        for r in curated.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    out_cols = [col for col in curated.columns if not col.startswith("_")]
    curated = curated.select(*out_cols)
    if output:
        curated.write.mode("overwrite").parquet(output)
    # all counts (and the optional output write) are materialized; release
    # the cache. Callers that iterate over the returned plan further should
    # persist the result themselves.
    profiled.unpersist()
    if boilerplate_min_doc_freq:
        bp.unpersist()
    if sp is not None:
        sp.unpersist()
    stats = {
        "input_rows": n_input,
        "schema_invalid": n_invalid,
        "encoding_rejected": n_encoding_rejected,
        "low_quality": n_low_quality,
        "model_rejected": n_model_rejected,
        "boilerplate_blocks_removed": int(n_boiler_blocks),
        "boilerplate_regated": n_boiler_gated,
        "span_tokens_trimmed": n_span_tokens_trimmed,
        "span_regated": n_span_gated,
        "exact_dups_removed": n_exact_removed,
        "near_dups_removed": n_near_removed,
        "mixture_removed": n_mix_removed,
        "output_rows": pool - n_exact_removed - n_near_removed - n_mix_removed,
        "by_lang_pred": by_lang,
    }
    return curated, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", help="curated corpus output dir (parquet)")
    p.add_argument("--schema", help="path to a JSON schema document "
                                    "(default: built-in documents schema)")
    p.add_argument("--quality-min", type=float, default=0.5)
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--jaccard-threshold", type=float, default=0.6)
    p.add_argument("--near-dup-method", choices=("minhash", "jaccard"),
                   default="minhash",
                   help="'minhash': LSH candidates + exact verify (scale "
                        "default); 'jaccard': exact inverted index")
    p.add_argument("--near-dedup-policy", choices=("pairs", "clusters"),
                   default="pairs",
                   help="'pairs': drop the larger id of each verified pair "
                        "(single-pass); 'clusters': connected-components "
                        "transitive closure, one survivor per cluster")
    p.add_argument("--boilerplate-min-doc-freq", type=int, default=None,
                   help="enable block-level boilerplate removal before "
                        "exact dedup: drop 16-token blocks occurring in "
                        ">= N distinct docs (off by default)")
    p.add_argument("--mix-budget", type=int, default=None,
                   help="enable temperature mixing as the final stage: "
                        "token-mass budget for the alpha-sampled output")
    p.add_argument("--mix-alpha", type=float, default=0.5)
    p.add_argument("--mix-strata", default="source")
    p.add_argument("--model-threshold", type=float, default=None,
                   help="enable the linear quality-model gate: drop docs "
                        "whose model margin is below this value (off by "
                        "default; 0.0 is the model's natural boundary)")
    p.add_argument("--extract-html", action="store_true",
                   help="treat text as raw markup: strip script/style/"
                        "tags and decode entities BEFORE validation "
                        "(operators/webtext.extract_html_text)")
    p.add_argument("--encoding-gate", action="store_true",
                   help="drop docs with mojibake / U+FFFD / control-byte "
                        "encoding damage (operators/webtext)")
    p.add_argument("--span-dedup-min-doc-freq", type=int, default=None,
                   help="enable cross-document repeated-SPAN trimming "
                        "before exact dedup: word n-gram runs occurring in "
                        ">= N distinct docs are removed at every offset, "
                        "min-id owner keeps its copy (off by default)")
    p.add_argument("--span-n", type=int, default=8,
                   help="span-dedup word n-gram width (default 8)")
    p.add_argument("--span-max-dup-fraction", type=float, default=None,
                   help="with span dedup: DROP docs whose duplicated-token "
                        "fraction exceeds this instead of trimming them")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-curate-documents", args.master) as spark:
        docs = spark.read.parquet(args.input)
        schema = None
        if args.schema:
            with open(args.schema) as f:
                schema = json.load(f)

        _curated, stats = curate(
            docs,
            quality_min=args.quality_min,
            min_tokens=args.min_tokens,
            jaccard_threshold=args.jaccard_threshold,
            schema=schema,
            output=args.output,
            near_dedup_policy=args.near_dedup_policy,
            near_dup_method=args.near_dup_method,
            boilerplate_min_doc_freq=args.boilerplate_min_doc_freq,
            mix_budget=args.mix_budget,
            mix_alpha=args.mix_alpha,
            mix_strata=args.mix_strata,
            model_threshold=args.model_threshold,
            extract_html=args.extract_html,
            encoding_gate=args.encoding_gate,
            span_dedup_min_doc_freq=args.span_dedup_min_doc_freq,
            span_n=args.span_n,
            span_max_dup_fraction=args.span_max_dup_fraction,
        )
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
