"""Benchmark harness: a row times registered contract queries
(``__spark_entry__.queries()``) at bench size over $SPARK_GRAFT_SF_DIR
(default: the sf0.1 tables, see ``SF_DIR``) on local[$SPARK_GRAFT_CPUS]
(default: the cores this process may run on).

Prints ONE JSON line:
  {"metric": "total_runtime", "value": <sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "clips_per_sec": ..., "cpus": ...}

A row is ``ROWS[name] = (contract_query, n)`` (or a tuple of queries, timed
as their sum): each builder runs as
``queries()[q](spark, SF_DIR[, n])`` — ``n`` is the bench-tier corpus size
(``None`` keeps the oracle tier's size, e.g. every TPC-H/events query,
which scales with ``SF_DIR`` instead) — and the result is drained into the
``noop`` sink, which evaluates every output column (``count()`` would let
column pruning skip the UDFs). The bench therefore times exactly the
pipelines the DuckDB oracles certify. ``BESPOKE`` holds the rows whose
production path (operator, hash family, query shape) no contract query
builds on the same input.

``clips_per_sec`` is the north-star metric: full clips validation (schema
compile + column-expression checks + vectorized audio decode/SNR) over
$SPARK_GRAFT_CLIPS (default 20000) materialized clips.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Pin per-worker math libraries to one thread BEFORE Spark forks Python
# workers: N workers x M BLAS/OpenMP threads oversubscribes the box and
# inverts scaling (measured 5x slowdown at local[32] without this).
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jsonschema_spark.operators import dedup, similarity, stats
from jsonschema_spark.sources.tables import load_table

from __spark_entry__ import queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
CLIPS_N = int(os.environ.get("SPARK_GRAFT_CLIPS", "20000"))
PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
# driver heap: 30% of physical memory (the clips scan needs a few GB for
# Arrow batches of ~40 KB payloads; the rest stays with the Python workers)
HEAP_GB = max(1, int(0.3 * os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30))

# bench row -> (contract query or tuple of them, bench-tier corpus size or
# None). A tuple times the sum of its queries: the stages one row covers.
# Sizes keep each row's share of the total: n is the number of clips the
# row's earlier hand-written pipeline processed (e.g. clips_pitch ran on a
# quarter of the 10k quality corpus, so n = 2500). Where the contract
# corpus costs over 1.5x more per clip than the one that pipeline read
# (real FLAC against PCM, ...), n is scaled down by that ratio, measured
# at local[4] (clips_segment_decoded: 10000 * 1.5 s / 26 s ~ 600).
ROWS = {
    "clips_validate": ("clips_validate_totals", CLIPS_N),
    "clips_uniqueness": ("clips_uniqueness", CLIPS_N),
    "validate_orders": ("validate_orders_summary", None),
    "uniqueness_lineitem": ("uniqueness_lineitem", None),
    "referential": ("referential_lineitem_orders", None),
    "drift_ks": ("drift_ks_binned_events", None),
    "drift_ks_exact": ("drift_ks_events", None),
    "drift_chi2": ("drift_chi_square_events", None),
    "drift_report": ("drift_report_events", None),
    "text_profile": ("text_profile_documents", None),
    "span_dedup": ("span_dedup_documents", None),
    "validate_part_logic": ("validate_part_logic", None),
    "corpus_summary": ("corpus_summary_documents", None),
    "embedding_lsh": ("dedup_embedding_lsh", None),
    "validate_jsonl": ("validate_jsonl_docs", 50_000),
    "audio_dedup": ("dedup_audio_clips", 10_000),
    "audio_quality": ("clips_audio_quality", 10_000),
    "clips_loudness": ("clips_loudness_r128", 1_600),
    "clips_pitch": ("clips_pitch_screen", 2_500),
    "clips_stereo": ("clips_stereo_screen", 6_000),
    "clips_tonality": ("clips_tonality_screen", 6_000),
    "clips_snr": ("clips_snr_screen", 5_000),
    "clips_dropouts": ("clips_dropout_screen", 5_000),
    "clips_fbank": ("clips_fbank_cmvn", 5_000),
    "clips_train_tensors": ("clips_train_tensors", 5_000),
    "clips_mp3_walk": ("clips_mp3_headers", 10_000),
    "clips_ogg_walk": ("clips_ogg_walk", 10_000),
    "clips_opus_packets": ("clips_opus_packets", 10_000),
    "images_jpeg_progressive": ("images_jpeg_progressive", 1_800),
    "clips_segments": ("clips_segments", 10_000),
    "clips_segment_decoded": ("clips_segment_decoded", 600),
    "validate_segments": ("validate_segments", 800),
    "infer_schema": ("infer_constraints_orders", None),
    "reconcile": ("reconcile_orders_lineitem", None),
    "sample_token_budget": ("sample_documents_token_budget", None),
    "clips_normalize": (("clips_trim_silence", "clips_gain_normalize"), 10_000),
    "hygiene_suite": (("decontaminate_documents", "pii_documents",
                       "boilerplate_documents"), None),
    "chunk_pack": (("chunk_documents", "pack_plan_documents"), None),
    "mixture_sample": ("mixture_sample_documents", None),
    "clips_augment": (("clips_time_mask", "clips_speed_perturb"), 10_000),
    "fd_report": ("fd_report_lineitem", None),
    "sequence_profile": ("sequence_report_events", None),
    "sessionize": ("sessionize_events", None),
    "asof_attribution": ("asof_attribution_events", None),
    "join_guard": (("join_explosion_events", "join_hot_keys_events"), None),
    "model_eval": (("model_auc_documents", "model_ece_documents"), None),
    "clips_vorbis_decode": ("clips_vorbis_decode", 1_280),
    "clips_aac_adts": ("clips_aac_adts", 10_000),
    "clips_tags": ("clips_tags", 10_000),
    "videos_h264_nals": ("videos_h264_nals", 4_000),
    "videos_mp4_structure": ("videos_mp4_structure", 4_000),
    "videos_webm_structure": ("videos_webm_structure", 4_000),
    "clips_mp3_sideinfo": ("clips_mp3_sideinfo", 10_000),
    "clips_bandwidth": ("clips_bandwidth", 10_000),
    "clips_transcode": ("clips_transcode_flac", 1_000),
    "suggest": ("suite_suggest_orders", None),
}


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _column_stats_lineitem(spark: SparkSession) -> None:
    _drain(stats.column_stats(load_table(spark, SF_DIR, "lineitem")))


def _curate_documents(spark: SparkSession) -> None:
    from jobs.curate_documents_job import curate

    curate(load_table(spark, SF_DIR, "documents"), quality_min=0.3,
           min_tokens=5, jaccard_threshold=0.6)


def _minhash_pairs(spark: SparkSession):
    return dedup.minhash_lsh_pairs(load_table(spark, SF_DIR, "documents"),
                                   threshold=0.5)


def _dedup_minhash(spark: SparkSession) -> None:
    _drain(_minhash_pairs(spark))


def _dedup_components(spark: SparkSession) -> None:
    _drain(dedup.connected_components(_minhash_pairs(spark)))


def _quantiles(spark: SparkSession) -> None:
    li = load_table(spark, SF_DIR, "lineitem")
    _drain(stats.column_quantiles(li, "l_extendedprice"))


def _topk_queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")


def _cosine_topk(spark: SparkSession) -> None:
    emb = load_table(spark, SF_DIR, "embeddings")
    _drain(similarity.cosine_topk(emb, _topk_queries(emb), k=10))


def _pq_adc(spark: SparkSession) -> None:
    emb = load_table(spark, SF_DIR, "embeddings")
    books = similarity.pq_seed_codebooks(emb, m=8, k_per_space=16)
    _drain(similarity.pq_topk(emb, _topk_queries(emb), books, k=10))


# rows whose production path no contract query builds on the same input
BESPOKE = {
    # the contract query profiles two orders columns; this is all 16 of lineitem
    "column_stats_lineitem": _column_stats_lineitem,
    # a whole job funnel (validate -> gates -> exact + MinHash dedup), not one query
    "curate_documents": _curate_documents,
    # production xxhash64 MinHash; the contract query certifies the md5_60 family
    "dedup_minhash": _dedup_minhash,
    # components over MinHash pairs; the contract query uses exact Jaccard pairs
    "dedup_components": _dedup_components,
    # the production sketch; the contract query certifies exact percentiles
    "quantiles": _quantiles,
    # production top-k (8 queries, k=10); the contract queries run 3 at k=5
    "cosine_topk": _cosine_topk,
    "pq_adc": _pq_adc,
}

R1_SUBSET = [
    "clips_uniqueness", "clips_validate", "column_stats_lineitem",
    "corpus_summary", "cosine_topk", "curate_documents",
    "dedup_minhash", "drift_chi2", "drift_ks", "embedding_lsh",
    "quantiles", "referential", "text_profile",
    "uniqueness_lineitem", "validate_orders", "validate_part_logic",
]


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("jsonschema-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", f"{HEAP_GB}g")
        # keep the default arrow batch (10000): measured ~1.8x faster than
        # 2048 on the payload-heavy audio UDF stage (fewer Arrow flushes)
        #
        # Payload-scan GC discipline (measured 10-20x on clips_validate):
        # 42KB binary payloads x big batches create G1 HUMONGOUS allocations
        # (>= half a heap region) whose allocation storms stall the whole
        # JVM for seconds. Two levers: (a) reader batch 128 rows keeps scan
        # buffers ~5MB — under the humongous threshold; (b) 32m G1 regions
        # raise that threshold for the remaining Arrow batch buffers. On a
        # cluster, set the same flag via spark.executor.extraJavaOptions.
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .config("spark.executor.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .getOrCreate()
    )


def main():
    # --quick: the r1-subset only (the stable cross-round yardstick);
    # emits the same one-line JSON with "quick": true
    quick = "--quick" in sys.argv[1:]
    names = R1_SUBSET if quick else [*ROWS, *BESPOKE]
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warm-up outside the timed region
    spark.range(1000).selectExpr("sum(id)").collect()
    reg = queries()

    def build(name):
        qs, n = ROWS[name]
        args = (spark, SF_DIR) if n is None else (spark, SF_DIR, n)
        return [reg[q](*args) for q in ((qs,) if isinstance(qs, str) else qs)]

    # untimed setup: building each row's DataFrames materializes its
    # corpora; draining each once warms the Python workers and the JIT, so
    # a single timed pass (SPARK_GRAFT_PASSES=1) is not a cold one
    for name in names:
        if name in ROWS:
            for df in build(name):
                _drain(df)

    # keep the per-row minimum over the passes: the sandbox VM shows heavy
    # run-to-run CPU-steal variance and the min is the honest capability
    timings: dict[str, float] = {}
    for _pass in range(PASSES):
        for name in names:
            t0 = time.perf_counter()
            if name in ROWS:
                for df in build(name):
                    _drain(df)
            else:
                BESPOKE[name](spark)
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "clips_per_sec": round(CLIPS_N / timings["clips_validate"], 1),
        "clips_n": CLIPS_N,
        "cpus": CPUS,
        # the 16 rows benchmarked since round 1, as their own subtotal
        "r1_subset_total": round(sum(timings[q] for q in R1_SUBSET), 3),
        "passes": PASSES,
    }
    if quick:
        out["quick"] = True
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
