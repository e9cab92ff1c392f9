"""spark-submit entry point: audio-clip curation funnel over the PRIMARY
modality (the clips table from BASELINE.json input_hint).

Composes the engine's operators into the standard speech-corpus cleaning
flow — schema validation (incl. the vectorized decode/SNR content check)
-> per-row invariant gate (SNR >= 30 dB AND transcript equality) ->
duplicate-id resolution -> exact payload dedup -> funnel report. One scan
feeds the annotated frame (persisted); every later stage is an aggregate
or semi/anti-join keyed by a hash — no windows over the full table, no
forced broadcasts (AQE picks strategies from runtime sizes).

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/curate_clips_job.py --input <clips-parquet> --output /curated

Sandbox smoke:

    python jobs/curate_clips_job.py --synthesize 3000 \\
        --output /tmp/curated_clips --master 'local[8]'

Dedup policy (deterministic): for duplicate clip_ids the row with the
smallest payload md5 survives; for duplicate payloads (identical audio
under different ids) the smallest clip_id survives — single-pass greedy,
the same stance as curate_documents_job.
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

from jsonschema_spark.functions.audio import audio_snr_ok, transcript_ok  # noqa: E402
from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.plans.compile import CompileOptions  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402
from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, synth_clips  # noqa: E402


def curate_clips(
    clips,
    schema: dict | None = None,
    snr_threshold_db: float | None = 30.0,
    output: str | None = None,
    near_dedup: bool = False,
    fp_threshold: float = 0.97,
    quality_gate: bool = False,
    max_silence_frac: float = 0.2,
    max_clipping_frac: float = 0.005,
    min_rms_dbfs: float = -45.0,
    bandwidth_gate: bool = False,
    upsample_frac: float = 1.0 / 32.0,
    crowd_frac: float = 0.45,
    tonality_gate: bool = False,
    artifact_gate: bool = False,
    snr_est_gate: bool = False,
    min_snr_est_db: float = 15.0,
    trim: bool = False,
    resample_sr: int | None = None,
    target_rms: float | None = None,
    target_lufs: float | None = None,
    transcode: bool = False,
    lpc_order: int = 0,
):
    """Run the funnel; returns (curated DataFrame, stats dict).

    Stage order matters for attribution: a row failing BOTH schema and the
    invariant counts as schema_invalid (the cheaper gate runs first in the
    report algebra, mirroring how an operator pipeline would short-circuit).

    ``snr_threshold_db=None`` skips the decode/SNR reference invariant —
    the right setting for corpora with no synthetic ground truth (the
    schema checks and dedup ladder still run). ``quality_gate=True`` adds
    the reference-free audio quality gate (silence fraction / clipping /
    loudness floor — functions/audio.quality_gates): unlike the SNR
    invariant it needs no ground truth, so it applies to real corpora;
    the signal struct is computed in one Arrow hop inside the SAME
    persisted projection as the other annotations, and the gate filter
    sits ABOVE the persist barrier (filtering on a UDF output below a
    persist duplicates the UDF). ``tonality_gate`` / ``artifact_gate``
    / ``snr_est_gate`` add the content-hygiene screens (spectral
    tonality, dropout/click, reference-free SNR —
    functions/tonality.py, dropouts.py, snrest.py): each is its own
    Arrow hop in the SAME persisted projection with its own
    funnel-attribution stage, in chain order tonality -> artifacts ->
    snr (a clip failing several stages is attributed to the FIRST);
    like the quality gate they need no ground truth, so they apply to
    real corpora. ``near_dedup=True`` appends
    audio-fingerprint near-duplicate removal (re-encodes / gain-adjusted
    copies of the same recording under different ids): pairs from the
    spectral-fingerprint LSH, transitive clusters via connected
    components, min clip_id per cluster survives — the same survivor
    stance as the exact stages. ``trim=True`` / ``resample_sr`` add
    output NORMALIZATION after all gates and dedup (they rewrite payload
    bytes, so they must not run before the SNR invariant or the
    byte-identity dedup): silence trimming + integer-factor decimation
    (operators/trim.py), with bytes_in/bytes_out attribution in the
    report — the byte-reduction stage that shrinks every downstream
    consumer of the curated corpus. ``transcode=True`` re-encodes the
    FINAL payloads as REAL FLAC (operators/trim.transcode_to_flac,
    lossless) — the archival stage runs last so the storage format wraps
    whatever samples the normalization chain produced.
    """
    schema = schema or CLIPS_JSON_SCHEMA
    opts = CompileOptions(
        content_checks={"audio/*": lambda col: audio_snr_ok(snr_threshold_db)}
        if snr_threshold_db is not None
        else {}
    )
    ann = (
        validate(clips, schema, opts)
        .annotated.withColumn("_tok", transcript_ok())
        .withColumn("_pfp", F.md5(F.col("bytes")))
    )
    if quality_gate:
        from jsonschema_spark.functions.audio import audio_quality, quality_gates

        ann = ann.withColumn(
            "_qpass",
            quality_gates(
                audio_quality("bytes", "sr_hz"),
                max_silence_frac=max_silence_frac,
                max_clipping_frac=max_clipping_frac,
                min_rms_dbfs=min_rms_dbfs,
            )["pass"],
        )
    else:
        ann = ann.withColumn("_qpass", F.lit(True))
    if bandwidth_gate:
        # content-vs-metadata consistency (upsampled-telephony /
        # mislabeled-rate detection): its own Arrow hop in the same
        # persisted projection; the filter sits ABOVE the barrier
        from jsonschema_spark.functions.audio import (
            audio_bandwidth,
            bandwidth_gates,
        )

        ann = ann.withColumn(
            "_bwok",
            bandwidth_gates(
                audio_bandwidth("bytes", "sr_hz"),
                "sr_hz",
                upsample_frac=upsample_frac,
                crowd_frac=crowd_frac,
            )["bandwidth_ok"],
        )
    else:
        ann = ann.withColumn("_bwok", F.lit(True))
    if tonality_gate:
        from jsonschema_spark.functions.tonality import (
            audio_tonality,
            tonality_gates,
        )

        ann = ann.withColumn(
            "_tonok",
            tonality_gates(audio_tonality("bytes", "sr_hz"))["spectral_ok"],
        )
    else:
        ann = ann.withColumn("_tonok", F.lit(True))
    if artifact_gate:
        from jsonschema_spark.functions.dropouts import (
            artifact_gates,
            audio_artifacts,
        )

        ann = ann.withColumn(
            "_artok",
            artifact_gates(audio_artifacts("bytes", "sr_hz"))["artifact_ok"],
        )
    else:
        ann = ann.withColumn("_artok", F.lit(True))
    if snr_est_gate:
        from jsonschema_spark.functions.snrest import (
            audio_snr_est,
            snr_gates,
        )

        ann = ann.withColumn(
            "_snrok",
            snr_gates(
                audio_snr_est("bytes", "sr_hz"),
                min_snr_db=min_snr_est_db,
            )["snr_ok"],
        )
    else:
        ann = ann.withColumn("_snrok", F.lit(True))
    ann = ann.persist()

    pre_quality = F.col("_valid") & F.col("_tok")
    qgate = pre_quality & F.col("_qpass")
    g_bw = qgate & F.col("_bwok")
    g_ton = g_bw & F.col("_tonok")
    g_art = g_ton & F.col("_artok")
    gate = g_art & F.col("_snrok")
    funnel = ann.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("_valid").cast("long")).alias("n_valid"),
        F.sum(pre_quality.cast("long")).alias("n_pre_quality"),
        F.sum(qgate.cast("long")).alias("n_qgated"),
        F.sum(g_bw.cast("long")).alias("n_bwgated"),
        F.sum(g_ton.cast("long")).alias("n_tongated"),
        F.sum(g_art.cast("long")).alias("n_artgated"),
        F.sum(gate.cast("long")).alias("n_gated"),
    ).collect()[0]
    n_input = funnel["n_input"]
    n_invalid = n_input - funnel["n_valid"]
    n_invariant = funnel["n_valid"] - funnel["n_pre_quality"]
    n_quality = funnel["n_pre_quality"] - funnel["n_qgated"]
    n_bandwidth = funnel["n_qgated"] - funnel["n_bwgated"]
    n_tonality = funnel["n_bwgated"] - funnel["n_tongated"]
    n_artifacts = funnel["n_tongated"] - funnel["n_artgated"]
    n_snr_est = funnel["n_artgated"] - funnel["n_gated"]
    gated = ann.filter(gate)

    # duplicate clip_ids: smallest payload-md5 survives (deterministic,
    # aggregate + semi-join — no window over the table); bit-identical
    # repeats of the surviving (id, payload) pair collapse via a keyed
    # dropDuplicates (hash aggregation, same shuffle key)
    id_survivors = gated.groupBy("clip_id").agg(F.min("_pfp").alias("_pfp"))
    unique_ids = gated.join(id_survivors, ["clip_id", "_pfp"], "left_semi").dropDuplicates(
        ["clip_id"]
    )
    n_after_ids = unique_ids.count()
    n_dup_ids = funnel["n_gated"] - n_after_ids

    # exact payload dedup across ids: smallest clip_id survives
    payload_survivors = unique_ids.groupBy("_pfp").agg(
        F.min("clip_id").alias("clip_id")
    )
    curated = unique_ids.join(payload_survivors, ["_pfp", "clip_id"], "left_semi")
    n_after_payload = curated.count()
    n_dup_payload = n_after_ids - n_after_payload

    n_near_dups = 0
    if near_dedup:
        from jsonschema_spark.operators.dedup import (
            audio_near_dup_pairs,
            connected_components,
        )

        pairs = audio_near_dup_pairs(curated, threshold=fp_threshold)
        comp = connected_components(pairs)
        drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("clip_id")
        )
        # no forced broadcast: the drop set is O(duplicate clips) — AQE
        # picks broadcast vs shuffle from the runtime size
        curated = curated.join(drop, "clip_id", "left_anti")
        n_after_near = curated.count()
        n_near_dups = n_after_payload - n_after_near
        n_after_payload = n_after_near

    # Output normalization LAST: the SNR invariant and the dedup ladder
    # must see original payload bytes (trimming would break the reference
    # comparison and split pad-variant fingerprints inconsistently); the
    # curated corpus is then rewritten smaller — at 100 TB a 20% silence
    # fraction is 20 TB every downstream stage would otherwise carry.
    norm_stats = {}
    norm = None
    if (trim or resample_sr or target_rms is not None
            or target_lufs is not None or transcode):
        from jsonschema_spark.operators.trim import (
            normalize_loudness,
            normalize_to_lufs,
            resample_pcm,
            transcode_to_flac,
            trim_silence,
        )

        added: list[str] = []
        norm = curated
        if trim:
            norm = trim_silence(norm)
            added += ["n_samples", "start_sample", "end_sample", "trimmed",
                      "trim_lead_ms", "trim_tail_ms"]
        if resample_sr:
            norm = resample_pcm(norm, resample_sr)
            added += ["resampled", "n_out"]
        if target_rms is not None:
            norm = normalize_loudness(norm, target_rms=target_rms)
            added += ["normalized", "gain"]
        if target_lufs is not None:
            # BS.1770-gated perceptual normalization (mutually sensible
            # with --target-rms only as a deliberate two-stage chain)
            norm = normalize_to_lufs(norm, target_lufs=target_lufs)
            if "normalized" in added:  # rms stage already claimed names
                norm = (norm.withColumnRenamed("normalized", "normalized_lufs")
                        .withColumnRenamed("gain", "gain_lufs"))
                added += ["normalized_lufs", "gain_lufs", "lufs_in"]
            else:
                added += ["normalized", "gain", "lufs_in"]
        if transcode:
            if "n_out" in norm.columns:  # resample already claimed the name
                norm = norm.withColumnRenamed("n_out", "n_out_resample")
                added[added.index("n_out")] = "n_out_resample"
            norm = transcode_to_flac(norm, lpc_max_order=lpc_order)
            added += ["transcoded", "n_out"]
        norm = norm.persist()
        bytes_in = curated.agg(F.sum(F.length("bytes"))).collect()[0][0] or 0
        agg = norm.agg(
            F.sum(F.length("bytes")).alias("bytes_out"),
            *([F.sum(F.col("trimmed").cast("long")).alias("n_trimmed")]
              if trim else []),
            *([F.sum(F.col("resampled").cast("long")).alias("n_resampled")]
              if resample_sr else []),
            *([F.sum(F.col("normalized").cast("long")).alias("n_normalized")]
              if target_rms is not None else []),
            *([F.sum(F.col(
                "normalized_lufs" if target_rms is not None else "normalized"
              ).cast("long")).alias("n_lufs_normalized")]
              if target_lufs is not None else []),
            *([F.sum(F.col("transcoded").cast("long")).alias("n_transcoded")]
              if transcode else []),
        ).collect()[0]
        norm_stats = {
            "bytes_in": int(bytes_in),
            "bytes_out": int(agg["bytes_out"] or 0),
            **({"rows_trimmed": int(agg["n_trimmed"] or 0)} if trim else {}),
            **({"rows_resampled": int(agg["n_resampled"] or 0)}
               if resample_sr else {}),
            **({"rows_normalized": int(agg["n_normalized"] or 0)}
               if target_rms is not None else {}),
            **({"rows_lufs_normalized": int(agg["n_lufs_normalized"] or 0)}
               if target_lufs is not None else {}),
            **({"rows_transcoded": int(agg["n_transcoded"] or 0)}
               if transcode else {}),
        }
        curated = norm.drop(*added)

    by_codec = {
        r["codec"]: r["cnt"]
        for r in curated.groupBy("codec").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    out_cols = [c for c in curated.columns if not c.startswith("_")]
    curated = curated.select(*out_cols)
    if output:
        curated.write.mode("overwrite").parquet(output)
    ann.unpersist()
    if norm is not None:
        norm.unpersist()
    stats = {
        "input_rows": n_input,
        "schema_invalid": n_invalid,
        "invariant_failed": n_invariant,
        "quality_rejected": n_quality,
        "bandwidth_rejected": n_bandwidth,
        "tonality_rejected": n_tonality,
        "artifact_rejected": n_artifacts,
        "snr_est_rejected": n_snr_est,
        "duplicate_ids_removed": n_dup_ids,
        "duplicate_payloads_removed": n_dup_payload,
        "near_duplicates_removed": n_near_dups,
        "output_rows": n_after_payload,
        "by_codec": by_codec,
        **norm_stats,
    }
    return curated, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--synthesize", type=int, help="generate N synthetic clips instead")
    p.add_argument("--output", help="curated corpus output dir (parquet)")
    p.add_argument("--snr-db", type=float, default=30.0)
    p.add_argument("--no-snr", action="store_true",
                   help="skip the decode/SNR reference invariant (corpora "
                        "without synthetic ground truth)")
    p.add_argument("--near-dedup", action="store_true",
                   help="append audio-fingerprint near-duplicate removal")
    p.add_argument("--fp-threshold", type=float, default=0.97,
                   help="fingerprint cosine threshold for near-dedup")
    p.add_argument("--quality-gate", action="store_true",
                   help="drop clips failing the reference-free audio "
                        "quality gates (silence / clipping / loudness)")
    p.add_argument("--max-silence", type=float, default=0.2,
                   help="max fraction of silent 20ms frames")
    p.add_argument("--max-clipping", type=float, default=0.005,
                   help="max fraction of full-scale samples")
    p.add_argument("--min-rms", type=float, default=-45.0,
                   help="loudness floor in dBFS")
    p.add_argument("--bandwidth-gate", action="store_true",
                   help="drop clips whose zero-crossing content band is "
                        "inconsistent with the claimed sample rate "
                        "(upsampled / mislabeled-rate detection)")
    p.add_argument("--upsample-frac", type=float, default=1.0 / 32.0,
                   help="flag when est content freq < sr * this")
    p.add_argument("--crowd-frac", type=float, default=0.45,
                   help="flag when est content freq > sr * this")
    p.add_argument("--tonality-gate", action="store_true",
                   help="drop clips failing the spectral screen (test "
                        "tones / DTMF / sweeps / static — "
                        "functions/tonality.py)")
    p.add_argument("--artifact-gate", action="store_true",
                   help="drop clips carrying packet-loss dropouts or "
                        "click impulses (functions/dropouts.py)")
    p.add_argument("--snr-est-gate", action="store_true",
                   help="drop clips under the reference-free SNR floor "
                        "(percentile-energy method — functions/snrest.py)")
    p.add_argument("--min-snr-est", type=float, default=15.0,
                   help="reference-free SNR floor in dB")
    p.add_argument("--trim-silence", action="store_true",
                   help="trim leading/trailing silence from PCM payloads "
                        "on output (energy VAD; operators/trim.py)")
    p.add_argument("--resample", type=int, metavar="SR",
                   help="normalize sample rate by integer-factor "
                        "decimation on output (containers transcoded)")
    p.add_argument("--target-lufs", type=float, metavar="LUFS",
                   help="normalize integrated program loudness to this "
                        "BS.1770-gated LUFS target (e.g. -23; clips whose "
                        "loudness cannot be measured pass through)")
    p.add_argument("--target-rms", type=float, metavar="LIN",
                   help="normalize loudness to this linear full-scale RMS "
                        "on output (0.1 = -20 dBFS)")
    p.add_argument("--lpc-order", type=int, default=0,
                   help="FLAC transcode: trial quantized LPC predictors "
                        "up to this order (0 = fixed-only)")
    p.add_argument("--transcode-flac", action="store_true",
                   help="re-encode the final curated payloads as REAL "
                        "FLAC (lossless archival normalization; runs "
                        "after trim/resample/loudness)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("--input or --synthesize required")

    with job_session("jsonschema-spark-curate-clips", args.master) as spark:
        clips = (
            spark.read.parquet(args.input)
            if args.input
            else synth_clips(spark, args.synthesize)
        )
        # underscore-prefixed columns are pipeline metadata (planted-violation
        # ledgers, bucket keys) — not part of the closed-world document
        meta_cols = [c for c in clips.columns if c.startswith("_")]
        if meta_cols:
            clips = clips.drop(*meta_cols)
        _curated, stats = curate_clips(
            clips,
            snr_threshold_db=None if args.no_snr else args.snr_db,
            output=args.output,
            near_dedup=args.near_dedup,
            fp_threshold=args.fp_threshold,
            quality_gate=args.quality_gate,
            max_silence_frac=args.max_silence,
            max_clipping_frac=args.max_clipping,
            min_rms_dbfs=args.min_rms,
            bandwidth_gate=args.bandwidth_gate,
            upsample_frac=args.upsample_frac,
            crowd_frac=args.crowd_frac,
            tonality_gate=args.tonality_gate,
            artifact_gate=args.artifact_gate,
            snr_est_gate=args.snr_est_gate,
            min_snr_est_db=args.min_snr_est,
            trim=args.trim_silence,
            resample_sr=args.resample,
            target_rms=args.target_rms,
            target_lufs=args.target_lufs,
            transcode=args.transcode_flac,
            lpc_order=args.lpc_order,
        )
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
