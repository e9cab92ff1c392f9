"""spark-submit entry point: training-feature extraction.

The production last-mile: take a clips corpus (parquet, or WebDataset
tar shards — the format training corpora actually ship in), optionally
drop transport-damaged / synthetic-signal / low-SNR clips (the
reference-free hygiene screens), extract quantized log-mel features
(functions/fbank.py: per-clip per-bin fixed-point partials in ONE
Arrow hop), and write:

  --features   parquet of (clip_id, sum_q, sumsq_q, n_frames,
               n_samples) — the per-clip feature partials
  --cmvn       parquet of (bin, n_frames, mean_logmel, std_logmel) —
               the corpus CMVN stats, computed by the EXACT int64
               aggregation (bit-identical on any partitioning)

plus ONE JSON report line (input/gated/decoded counts, total frames).

    spark-submit --py-files jsonschema_spark.zip \\
        jobs/extract_features_job.py --shards '/corpus/shards/*.tar' \\
        --gate --features /out/feats --cmvn /out/cmvn

Sandbox smoke:

    python jobs/extract_features_job.py --synthesize 400 \\
        --features /tmp/feats --cmvn /tmp/cmvn --master 'local[8]'

Scale shape: payloads cross the Arrow boundary once for the gates (if
enabled) and once for the features; the only shuffle is the skinny
O(clips x 40) long-row CMVN aggregation.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from jsonschema_spark.session import job_session


def extract_features(
    clips,
    gate: bool = False,
    min_snr_est_db: float | None = None,
    features: str | None = None,
    cmvn: str | None = None,
    matrix: str | None = None,
    deltas: bool = False,
    specaugment: str | None = None,
    tensor_shards: str | None = None,
    labels: bool = False,
):
    """Run the extraction; returns (features DF, cmvn DF, stats).

    ``matrix`` additionally writes the per-clip training tensors
    (clip_id, mat_q, n_frames, n_samples); tensor and partials come
    from ONE decode+FFT Arrow hop (audio_fbank_full) so requesting
    both never decodes twice. ``deltas`` appends the int64
    delta/delta-delta numerator arrays (pure Column algebra over the
    materialized matrix — no extra Python); ``specaugment`` appends a
    masked ``aug_q`` drawn deterministically from (seed, clip_id),
    mask provenance columns included. ``tensor_shards`` packs the
    tensors (mat + CMVN-normalized x, plus any extras) into WebDataset
    npy tar shards — the consumer-side training format. ``labels``
    additionally encodes transcripts through the char-CTC vocabulary
    (blank 0 reserved, OOV dropped and counted) so the shards carry
    complete (features, labels) training pairs."""
    from jsonschema_spark.functions.fbank import audio_fbank_stats

    n_input = clips.count()
    n_gated = 0
    if gate or min_snr_est_db is not None:
        from jsonschema_spark.functions.dropouts import (
            artifact_gates,
            audio_artifacts,
        )
        from jsonschema_spark.functions.tonality import (
            audio_tonality,
            tonality_gates,
        )

        ok = F.lit(True)
        if gate:
            ok = (
                ok
                & tonality_gates(
                    audio_tonality("bytes", "sr_hz")
                )["spectral_ok"]
                & artifact_gates(
                    audio_artifacts("bytes", "sr_hz")
                )["artifact_ok"]
            )
        if min_snr_est_db is not None:
            from jsonschema_spark.functions.snrest import (
                audio_snr_est,
                snr_gates,
            )

            ok = ok & snr_gates(
                audio_snr_est("bytes", "sr_hz"),
                min_snr_db=min_snr_est_db,
            )["snr_ok"]
        ann = clips.withColumn("_ok", ok).persist()
        kept = ann.filter(F.col("_ok")).drop("_ok")
        n_kept = kept.count()
        n_gated = n_input - n_kept
        clips = kept
    shard_manifest = None
    if matrix or tensor_shards:
        # ONE Arrow hop for tensor + partials, persisted: tensors and
        # the CMVN path both read it, and a second reference would
        # re-plan (and re-decode) the whole upstream otherwise.
        # With extras requested, the one-hop vectorized kernel beats
        # the JVM derive-from-stored algebra ~13x (the interpreted
        # HOF element walk becomes a numpy matrix op); without them,
        # audio_fbank_full avoids shipping unused arrays over Arrow.
        tensor_cols = ["mat_q"]
        if deltas:
            tensor_cols += ["delta_q", "ddelta_q"]
        if specaugment is not None:
            tensor_cols += ["aug_q"]
        if deltas or specaugment is not None or tensor_shards:
            from jsonschema_spark.functions.fbank import (
                audio_train_tensors,
            )

            s = audio_train_tensors(
                "clip_id", "bytes", "sr_hz", seed=specaugment or ""
            )
            if tensor_shards:
                tensor_cols = tensor_cols + ["x"]
        else:
            from jsonschema_spark.functions.fbank import (
                audio_fbank_full,
            )

            s = audio_fbank_full("bytes", "sr_hz")
        keep_meta = (
            ["transcript"] if "transcript" in clips.columns else []
        )
        full = clips.select("clip_id", *keep_meta, s.alias("s")).select(
            "clip_id",
            *keep_meta,
            *[F.col(f"s.{c}").alias(c) for c in tensor_cols],
            F.col("s.sum_q").alias("sum_q"),
            F.col("s.sumsq_q").alias("sumsq_q"),
            F.col("s.n_frames").alias("n_frames"),
            F.col("s.n_samples").alias("n_samples"),
        ).persist()
        label_cols = []
        if labels:
            from jsonschema_spark.operators.labels import encode_labels

            full = encode_labels(full)
            label_cols = ["label_ids", "label_len", "oov_count"]
        if matrix:
            full.select(
                "clip_id",
                *[c for c in tensor_cols if c != "x"],
                *label_cols,
                "n_frames",
                "n_samples",
            ).write.mode("overwrite").parquet(matrix)
        if tensor_shards:
            from jsonschema_spark.sources.shards import (
                write_tensor_shards,
            )

            members = {"mat_q": "mat", "x": "x"}
            if deltas:
                members["delta_q"] = "delta"
                members["ddelta_q"] = "ddelta"
            if specaugment is not None:
                members["aug_q"] = "aug"
            shard_manifest = write_tensor_shards(
                full,
                tensor_shards,
                tensor_cols=members,
                vector_cols=(
                    {"label_ids": "labels"} if labels else None
                ),
            ).collect()
        feats = full.select(
            "clip_id", "sum_q", "sumsq_q", "n_frames", "n_samples"
        )
    else:
        feats = clips.select(
            "clip_id", audio_fbank_stats("bytes", "sr_hz").alias("s")
        ).select(
            "clip_id",
            F.col("s.sum_q").alias("sum_q"),
            F.col("s.sumsq_q").alias("sumsq_q"),
            F.col("s.n_frames").alias("n_frames"),
            F.col("s.n_samples").alias("n_samples"),
        ).persist()
    if features:
        feats.write.mode("overwrite").parquet(features)
    # CMVN from the WRITTEN partials (no second decode pass): the same
    # exact int64 arithmetic as functions/fbank.cmvn_stats
    from jsonschema_spark.functions.fbank import FBANK_Q

    z = feats.select(
        F.posexplode(F.arrays_zip("sum_q", "sumsq_q")).alias("bin", "z"),
        F.col("n_frames").alias("nf"),
    )
    agg = z.groupBy("bin").agg(
        F.sum("nf").alias("n_frames"),
        F.sum("z.sum_q").alias("tot_q"),
        F.sum("z.sumsq_q").alias("tot_sq"),
    )
    n = agg["n_frames"].cast("double")
    mean = agg["tot_q"].cast("double") / F.lit(float(FBANK_Q)) / n
    ex2 = (
        agg["tot_sq"].cast("double")
        / F.lit(float(FBANK_Q * FBANK_Q))
        / n
    )
    var = ex2 - mean * mean
    cm = agg.select(
        "bin",
        "n_frames",
        mean.alias("mean_logmel"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_logmel"),
    )
    if cmvn:
        cm.write.mode("overwrite").parquet(cmvn)
    summary = feats.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.col("n_frames") > 0).cast("long")).alias("decoded"),
        F.sum("n_frames").alias("frames"),
    ).collect()[0]
    stats = {
        "input_rows": n_input,
        "gated_rows": n_gated,
        "feature_rows": summary["rows"],
        "decoded_rows": int(summary["decoded"] or 0),
        "total_frames": int(summary["frames"] or 0),
    }
    if shard_manifest is not None:
        stats["tensor_shards"] = len(shard_manifest)
        stats["shard_samples"] = int(
            sum(m["n_samples"] for m in shard_manifest)
        )
        stats["shard_bytes"] = int(
            sum(m["bytes"] for m in shard_manifest)
        )
    # every output is materialized by now — release the payload-bearing
    # caches instead of pinning them for the caller's lifetime (ADVICE
    # r2). Callers re-using the returned `feats` pay a recompute, which
    # is the right trade against holding 42KB-payload partitions in
    # executor memory.
    if gate or min_snr_est_db is not None:
        ann.unpersist()
    if matrix or tensor_shards:
        full.unpersist()
    return feats, cm, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--shards", help="WebDataset tar shard glob")
    p.add_argument("--synthesize", type=int,
                   help="generate N synthetic clips instead")
    p.add_argument("--features", help="feature-partials parquet output")
    p.add_argument("--cmvn", help="corpus CMVN parquet output")
    p.add_argument("--matrix", help="per-clip feature-tensor parquet output")
    p.add_argument("--deltas", action="store_true",
                   help="append delta/delta-delta arrays to --matrix")
    p.add_argument("--specaugment", default=None, metavar="SEED",
                   help="append a SpecAugment-masked aug_q to --matrix "
                        "(deterministic per (SEED, clip_id))")
    p.add_argument("--tensor-shards", default=None, metavar="DIR",
                   help="pack tensors (mat + normalized x + extras) "
                        "into WebDataset npy tar shards")
    p.add_argument("--labels", action="store_true",
                   help="encode transcripts as char-CTC label ids "
                        "(blank 0 reserved) into --matrix/--tensor-shards")
    p.add_argument("--gate", action="store_true",
                   help="drop tonality/artifact-violating clips first")
    p.add_argument("--min-snr-est", type=float, default=None,
                   help="also drop clips under this reference-free SNR")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not (args.input or args.shards or args.synthesize):
        p.error("--input, --shards or --synthesize required")

    with job_session("jsonschema-spark-features", args.master) as spark:
        if args.shards:
            from jsonschema_spark.sources.shards import read_tar_shards

            clips = read_tar_shards(spark, args.shards)
        elif args.input:
            clips = spark.read.parquet(args.input)
        else:
            from jsonschema_spark.sources.clips import synth_fbank_clips

            clips = synth_fbank_clips(spark, args.synthesize)
        meta = [c for c in clips.columns if c.startswith("_")]
        if meta:
            clips = clips.drop(*meta)
        if (
            args.deltas or args.specaugment is not None or args.labels
        ) and not (args.matrix or args.tensor_shards):
            p.error("--deltas/--specaugment/--labels require --matrix or "
                    "--tensor-shards")
        _f, _c, stats = extract_features(
            clips,
            gate=args.gate,
            min_snr_est_db=args.min_snr_est,
            features=args.features,
            cmvn=args.cmvn,
            matrix=args.matrix,
            deltas=args.deltas,
            specaugment=args.specaugment,
            tensor_shards=args.tensor_shards,
            labels=args.labels,
        )
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
