"""spark-submit entry point: audio augmentation / corpus-expansion funnel.

Composes the payload-rewriting operators into the standard ASR
training-prep flow over an already-curated clips table:

  1. channel normalization   — stereo WAV -> mono ((l+r)>>1, exact)
  2. time masking            — zero md5-derived spans (ZERO Python:
                               codegen'd hash arithmetic + binary surgery)
  3. noise overlay           — mix a deterministically selected bank clip
                               at reduced gain (AQE-sized join + one
                               Arrow hop)
  4. speed-set expansion     — emit the normalized corpus PLUS one copy
                               per rational factor (Kaldi-style 3-way
                               speed perturbation: --speed-set 9/10,11/10
                               triples the corpus), ids suffixed #sp<f>

Every stage is deterministic (spans/pairings derive from md5(clip_id)),
so re-running the job regenerates identical bytes — the property that
makes augmented corpora resumable and auditable.

Plan shape: stages 1-3 chain in ONE pass over the input (per-row maps +
one small-bank join, no windows, no forced broadcasts). The expansion
stage re-reads the NORMALIZED corpus from its parquet output — the
production shape: normalize once, expand from the materialized table,
so k speed factors cost k scans of normalized bytes, never k reruns of
the decode/mask/mix chain. Without --output the normalized frame is
persisted instead (smoke-scale only; at corpus scale always write).

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/augment_clips_job.py --input <clips-parquet> \\
        --output /augmented --downmix --time-masks 2 \\
        --speed-set 9/10,11/10

Sandbox smoke:

    python jobs/augment_clips_job.py --synthesize 1200 \\
        --output /tmp/augmented --time-masks 2 --speed-set 11/10 \\
        --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from fractions import Fraction

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.session import job_session  # noqa: E402


def _parse_speed_set(text: str) -> list[tuple[int, int]]:
    """'9/10,11/10' -> [(9, 10), (11, 10)] (validated, normalized)."""
    out = []
    for part in text.split(","):
        frac = Fraction(part.strip())
        if frac <= 0:
            raise ValueError(f"speed factor must be positive: {part!r}")
        out.append((frac.numerator, frac.denominator))
    return out


def augment_clips(
    clips: DataFrame,
    downmix: bool = False,
    n_time_masks: int = 0,
    mask_ms: int = 100,
    noise: DataFrame | None = None,
    mix_gain: float = 0.25,
    mix_snr_lin: float | None = None,
    speed_set: list[tuple[int, int]] | None = None,
    output: str | None = None,
) -> tuple[DataFrame, dict]:
    """Run the funnel; returns (augmented DataFrame, stats dict).

    ``noise`` is the overlay bank; it needs an integer index column
    ``_row_idx`` in [0, count) — absent, one is built by row_number over
    clip_id (a global sort, fine for the SMALL banks this is meant for).
    ``speed_set`` factors each add a full corpus copy with clip_id
    suffixed ``#sp<num>/<den>``; the unperturbed corpus is always kept.
    """
    spark = clips.sparkSession
    bytes_in, n_input = tuple(
        clips.agg(
            F.sum(F.length("bytes")), F.count(F.lit(1))
        ).collect()[0]
    )
    stats: dict = {"input_rows": int(n_input), "bytes_in": int(bytes_in or 0)}

    cur = clips
    if downmix:
        from jsonschema_spark.operators.trim import downmix_mono

        cur = (
            downmix_mono(cur)
            .withColumnRenamed("downmixed", "_aug_downmixed")
            .drop("n_out")
        )
    if n_time_masks > 0:
        from jsonschema_spark.operators.augment import time_mask

        cur = time_mask(cur, n_masks=n_time_masks, mask_ms=mask_ms)
        cur = cur.withColumnRenamed("masked", "_aug_masked").drop(
            *[f"mask{k}_start" for k in range(n_time_masks)]
        )
    if noise is not None:
        from jsonschema_spark.operators.augment import mix_overlay

        if "_row_idx" not in noise.columns:
            from pyspark.sql import Window

            noise = noise.withColumn(
                "_row_idx",
                F.row_number().over(Window.orderBy("clip_id")) - 1,
            )
        n_noise = noise.count()
        cur = (
            mix_overlay(cur, noise, n_noise=n_noise, gain=mix_gain,
                        snr_lin=mix_snr_lin)
            .withColumnRenamed("mixed", "_aug_mixed")
            .drop("noise_idx", "n_out",
                  *(["mix_gain"] if mix_snr_lin is not None else []))
        )

    flag_cols = [c for c in cur.columns if c.startswith("_aug_")]
    if output:
        # normalize once, expand from the materialized table (see module
        # docstring) — the write IS the single execution of stages 1-3
        norm_path = os.path.join(output, "normalized")
        cur.write.mode("overwrite").parquet(norm_path)
        norm = spark.read.parquet(norm_path)
    else:
        norm = cur.persist()

    agg = norm.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("bytes")).alias("b"),
        *[F.sum(F.col(c).cast("long")).alias(c) for c in flag_cols],
    ).collect()[0]
    stats["normalized_rows"] = int(agg["n"])
    stats["normalized_bytes"] = int(agg["b"] or 0)
    if downmix:
        stats["rows_downmixed"] = int(agg["_aug_downmixed"] or 0)
    if n_time_masks > 0:
        stats["rows_masked"] = int(agg["_aug_masked"] or 0)
    if noise is not None:
        stats["rows_mixed"] = int(agg["_aug_mixed"] or 0)

    base = norm.drop(*flag_cols)
    out = base
    if speed_set:
        from jsonschema_spark.operators.augment import speed_perturb

        stats["speed_factors"] = [f"{n}/{d}" for n, d in speed_set]
        for num, den in speed_set:
            sp = speed_perturb(base, num, den).withColumn(
                "clip_id",
                F.concat(F.col("clip_id"), F.lit(f"#sp{num}/{den}")),
            )
            out = out.unionByName(sp.drop("perturbed", "n_out"))

    if output:
        final_path = os.path.join(output, "augmented")
        out.write.mode("overwrite").parquet(final_path)
        out = spark.read.parquet(final_path)

    n_out, b_out = tuple(
        out.agg(F.count(F.lit(1)), F.sum(F.length("bytes"))).collect()[0]
    )
    stats["output_rows"] = int(n_out)
    stats["bytes_out"] = int(b_out or 0)
    if not output:
        norm.unpersist()
    return out, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--synthesize", type=int,
                   help="generate N synthetic clips instead")
    p.add_argument("--output", help="output dir (normalized/ + augmented/)")
    p.add_argument("--downmix", action="store_true",
                   help="downmix stereo WAV payloads to mono")
    p.add_argument("--time-masks", type=int, default=0, metavar="K",
                   help="zero K deterministic spans per clip")
    p.add_argument("--mask-ms", type=int, default=100)
    p.add_argument("--mix-noise", metavar="PATH",
                   help="noise-bank parquet for overlay mixing "
                        "('self' = the input corpus)")
    p.add_argument("--mix-gain", type=float, default=0.25)
    p.add_argument("--mix-snr", type=float, default=None, metavar="R",
                   help="SNR-targeted mixing: linear rms(sig)/rms(noise) "
                        "ratio (overrides --mix-gain)")
    p.add_argument("--speed-set", metavar="FRACS",
                   help="comma-separated rational factors, e.g. 9/10,11/10"
                        " — each adds a full corpus copy")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("--input or --synthesize required")

    with job_session("jsonschema-spark-augment", args.master) as spark:
        if args.input:
            clips = spark.read.parquet(args.input)
        else:
            from jsonschema_spark.sources.clips import synth_clips

            clips = synth_clips(spark, args.synthesize)
        meta_cols = [c for c in clips.columns if c.startswith("_")]
        if meta_cols:
            clips = clips.drop(*meta_cols)

        noise = None
        if args.mix_noise:
            noise = (
                clips if args.mix_noise == "self"
                else spark.read.parquet(args.mix_noise)
            )

        _out, stats = augment_clips(
            clips,
            downmix=args.downmix,
            n_time_masks=args.time_masks,
            mask_ms=args.mask_ms,
            noise=noise,
            mix_gain=args.mix_gain,
            mix_snr_lin=args.mix_snr,
            speed_set=_parse_speed_set(args.speed_set) if args.speed_set else None,
            output=args.output,
        )
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
