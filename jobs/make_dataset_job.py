"""spark-submit entry point: build a complete training dataset.

The capstone composition — raw clips in, a ready-to-train WebDataset
out, every stage an operator this engine already pins with oracles:

  1. hygiene gates        tonality + artifact screens, optional
                          reference-free SNR floor (one Arrow hop)
  2. leakage-safe splits  train/valid/test by md5_60 over the payload
                          CONTENT fingerprint — byte-identical clips
                          can never straddle splits (run the curation
                          funnel first for near-dup-safe grouping)
  3. tensors + labels     log-mel matrix, CMVN-normalized x (+ deltas
                          / SpecAugment on request) and char-CTC label
                          ids, one decode pass (audio_train_tensors)
  4. per-split npy shards reproducible tars + a random-access member
                          index parquet per split
  5. train-only CMVN      corpus stats reduced from the TRAIN split
                          alone (using valid/test frames would leak)

    spark-submit --py-files jsonschema_spark.zip \\
        jobs/make_dataset_job.py --input /corpus/clips \\
        --output /datasets/v1 --gate --labels --deltas

Sandbox smoke:

    python jobs/make_dataset_job.py --synthesize 200 \\
        --output /tmp/ds --master 'local[8]'

Scale shape: payloads cross Arrow once for gates (if enabled) and once
for tensors; splits and label encoding are codegen'd expressions; the
only shuffles are the skinny CMVN aggregation and the split
repartition before the shard write.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import functions as F

from jsonschema_spark.session import job_session

DEFAULT_FRACTIONS = {"train": 0.9, "valid": 0.05, "test": 0.05}


def make_dataset(
    clips,
    out_dir: str,
    fractions: dict | None = None,
    seed: str = "ds1",
    gate: bool = False,
    min_snr_est_db: float | None = None,
    deltas: bool = False,
    specaugment: str | None = None,
    labels: bool = True,
) -> dict:
    """Run the build; returns the report dict (also written as
    report.json under ``out_dir``)."""
    from jsonschema_spark.functions.fbank import FBANK_Q, audio_train_tensors
    from jsonschema_spark.operators.sampling import assign_splits
    from jsonschema_spark.sources.shards import (
        tar_member_index,
        write_tensor_shards,
    )

    spark = clips.sparkSession
    fractions = dict(fractions or DEFAULT_FRACTIONS)
    report: dict = {"fractions": fractions, "seed": seed}
    n_input = clips.count()
    report["input_rows"] = n_input

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
                & tonality_gates(audio_tonality("bytes", "sr_hz"))[
                    "spectral_ok"
                ]
                & artifact_gates(audio_artifacts("bytes", "sr_hz"))[
                    "artifact_ok"
                ]
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
        clips = ann.filter(F.col("_ok")).drop("_ok")
        n_kept = clips.count()
        report["gated_rows"] = n_input - n_kept

    # content-fingerprint grouping: byte-identical clips share a split.
    # md5 over the BINARY directly — hex() first would materialize a
    # string 2x the payload per row just for an internal group key,
    # aggravating the documented G1 humongous-allocation issue (no
    # cross-engine oracle depends on this key's spelling).
    grouped = clips.withColumn("_grp", F.md5("bytes"))
    split = assign_splits(
        grouped, "clip_id", fractions, group_col="_grp", seed=seed
    ).drop("_grp")

    tens = split.select(
        "clip_id",
        "transcript",
        "split",
        audio_train_tensors(
            "clip_id", "bytes", "sr_hz", seed=specaugment or ""
        ).alias("s"),
    ).select(
        "clip_id",
        "transcript",
        "split",
        F.col("s.mat_q").alias("mat_q"),
        F.col("s.x").alias("x"),
        *(
            [
                F.col("s.delta_q").alias("delta_q"),
                F.col("s.ddelta_q").alias("ddelta_q"),
            ]
            if deltas
            else []
        ),
        *([F.col("s.aug_q").alias("aug_q")] if specaugment else []),
        F.col("s.sum_q").alias("sum_q"),
        F.col("s.sumsq_q").alias("sumsq_q"),
        F.col("s.n_frames").alias("n_frames"),
        F.col("s.n_samples").alias("n_samples"),
    )
    if labels:
        from jsonschema_spark.operators.labels import encode_labels

        tens = encode_labels(tens)
    tens = tens.persist()
    tens.count()  # materialize the tensor cache ONCE, then release the
    # gated payload cache — keeping `ann` pinned through the per-split
    # shard writes + CMVN would hold payload-bearing partitions in
    # memory for the rest of the job (ADVICE r2)
    if gate or min_snr_est_db is not None:
        ann.unpersist()

    members = {"mat_q": "mat", "x": "x"}
    if deltas:
        members.update({"delta_q": "delta", "ddelta_q": "ddelta"})
    if specaugment:
        members["aug_q"] = "aug"
    os.makedirs(out_dir, exist_ok=True)
    splits_report: dict = {}
    for name in fractions:
        sub = tens.filter(F.col("split") == name)
        sdir = os.path.join(out_dir, name)
        manifest = write_tensor_shards(
            sub,
            sdir,
            tensor_cols=members,
            vector_cols={"label_ids": "labels"} if labels else None,
        ).collect()
        idx = tar_member_index(spark, os.path.join(sdir, "*.tar"))
        idx.write.mode("overwrite").parquet(
            os.path.join(sdir, "_index")
        )
        agg = sub.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_frames").alias("frames"),
            *(
                [F.sum("oov_count").alias("oov")]
                if labels
                else [F.lit(None).alias("oov")]
            ),
        ).collect()[0]
        splits_report[name] = {
            "rows": agg["rows"],
            "frames": int(agg["frames"] or 0),
            "oov_chars": int(agg["oov"] or 0) if labels else None,
            "shards": len(manifest),
            "shard_samples": int(sum(m["n_samples"] for m in manifest)),
            "shard_bytes": int(sum(m["bytes"] for m in manifest)),
        }
    report["splits"] = splits_report

    # train-only corpus CMVN (valid/test frames in the stats would leak)
    train = tens.filter(F.col("split") == "train")
    z = train.select(
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
        agg["tot_sq"].cast("double") / F.lit(float(FBANK_Q * FBANK_Q)) / n
    )
    var = ex2 - mean * mean
    agg.select(
        "bin",
        "n_frames",
        mean.alias("mean_logmel"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_logmel"),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "cmvn_train"))

    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    tens.unpersist()
    return report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--shards", help="WebDataset clip tar glob")
    p.add_argument("--synthesize", type=int)
    p.add_argument("--output", required=True)
    p.add_argument("--fractions", default=None,
                   help='e.g. "train:0.8,valid:0.1,test:0.1"')
    p.add_argument("--seed", default="ds1")
    p.add_argument("--gate", action="store_true")
    p.add_argument("--min-snr-est", type=float, default=None)
    p.add_argument("--deltas", action="store_true")
    p.add_argument("--specaugment", default=None, metavar="SEED")
    p.add_argument("--no-labels", action="store_true")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not (args.input or args.shards or args.synthesize):
        p.error("--input, --shards or --synthesize required")
    fractions = None
    if args.fractions:
        fractions = {}
        for part in args.fractions.split(","):
            k, _, v = part.partition(":")
            fractions[k.strip()] = float(v)

    with job_session("jsonschema-spark-dataset", args.master) as spark:
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
        report = make_dataset(
            clips,
            args.output,
            fractions=fractions,
            seed=args.seed,
            gate=args.gate,
            min_snr_est_db=args.min_snr_est,
            deltas=args.deltas,
            specaugment=args.specaugment,
            labels=not args.no_labels,
        )
        print(json.dumps(report))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
