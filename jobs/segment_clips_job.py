"""spark-submit entry point: segment a clips table into fixed training
windows (the batch-formation fan-out ASR/audio-LM pipelines run before
packing).

Routing (operators/segments.segment_auto): raw ``pcm_s16le`` rows are
byte-sliced entirely JVM-side (zero Python — payloads never cross the
Arrow boundary); container rows (WAV depths, G.711, IMA/MS ADPCM, real
FLAC) are decoded ONCE per clip inside one Arrow hop and fanned out with
a JVM ``posexplode``. Undecodable clips surface as one loud NULL-segment
row each and are counted + excluded from the output table (quarantine
them upstream with the validation family).

Plan shape: two predicate-disjoint scans (the codec filter pushes into
the parquet scan — a corpus PARTITIONED BY codec prunes each branch to
its own files), zero shuffle in either branch, one persist barrier so
the write and the report share the decode work. At 100 TB this job
reads the corpus once and writes sample-exact PCM16 windows.

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/segment_clips_job.py --input <clips-parquet> \\
        --output /segments --segment-ms 250 --min-tail-ms 50

Sandbox smoke:

    python jobs/segment_clips_job.py --synthesize 600 \\
        --output /tmp/segments --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.session import job_session  # noqa: E402


def segment_table(
    clips: DataFrame,
    segment_ms: int = 250,
    min_tail_ms: int = 0,
    output: str | None = None,
    energy: bool = False,
    msq_floor: int = 16,
    partition_by: str | None = None,
) -> tuple[DataFrame, dict]:
    """Segment ``clips`` and report; returns (segments DataFrame, stats).

    Output schema: (clip_id, segment_id, seg_idx, seg_start_sample,
    seg_n_samples, n_samples, sr_hz, codec, seg_bytes, seg_path) —
    undecodable clips' loud NULL rows are counted in the stats and
    dropped from the written table."""
    from jsonschema_spark.operators.segments import (
        segment_auto,
        segment_energy,
    )

    seg = segment_auto(
        clips, segment_ms=segment_ms, min_tail_ms=min_tail_ms
    )
    if energy:
        # integer-exact sumsq/peak + silence gate, one extra Arrow hop
        seg = segment_energy(seg, msq_floor=msq_floor)
    seg = seg.persist()
    agg = seg.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("clip_id").alias("clips"),
        F.coalesce(
            F.sum(F.col("seg_idx").isNotNull().cast("long")), F.lit(0)
        ).alias("segments"),
        F.coalesce(
            F.sum((F.col("n_samples") < 0).cast("long")), F.lit(0)
        ).alias("undecodable"),
        F.coalesce(
            F.sum(
                (
                    F.col("seg_idx").isNull() & (F.col("n_samples") >= 0)
                ).cast("long")
            ),
            F.lit(0),
        ).alias("empty_clips"),
        F.coalesce(F.sum(F.length("seg_bytes")), F.lit(0)).alias(
            "bytes_out"
        ),
        F.coalesce(
            F.sum((F.col("seg_path") == "slice").cast("long")), F.lit(0)
        ).alias("slice_rows"),
        F.coalesce(
            F.sum(
                (
                    F.col("seg_idx").isNotNull()
                    & (
                        F.col("seg_n_samples")
                        < F.col("sr_hz").cast("long") * segment_ms / 1000
                    )
                ).cast("long")
            ),
            F.lit(0),
        ).alias("short_tails"),
        *(
            [
                F.coalesce(
                    F.sum(F.coalesce(F.col("silent"), F.lit(False))
                          .cast("long")),
                    F.lit(0),
                ).alias("silent_segments")
            ]
            if energy
            else []
        ),
    ).collect()[0]
    ok = seg.where(F.col("seg_idx").isNotNull())
    if output:
        w = ok.write.mode("overwrite")
        if partition_by:
            # e.g. codec: downstream codec-routed readers (segment_auto's
            # predicate-disjoint scans) then PRUNE to their own files
            w = w.partitionBy(partition_by)
        w.parquet(output)
    stats = {
        "clips": int(agg["clips"]),
        "segments": int(agg["segments"]),
        "undecodable_clips": int(agg["undecodable"]),
        "empty_clips": int(agg["empty_clips"]),
        "bytes_out": int(agg["bytes_out"]),
        "slice_segments": int(agg["slice_rows"]),
        "decode_segments": int(agg["segments"]) - int(agg["slice_rows"]),
        "short_tails": int(agg["short_tails"]),
        "segment_ms": int(segment_ms),
        "min_tail_ms": int(min_tail_ms),
    }
    if energy:
        stats["silent_segments"] = int(agg["silent_segments"])
    return ok, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--synthesize", type=int,
                   help="generate N synthetic mixed-codec clips instead")
    p.add_argument("--output", help="segments output dir (parquet)")
    p.add_argument("--segment-ms", type=int, default=250,
                   help="window length (ms, default 250)")
    p.add_argument("--min-tail-ms", type=int, default=0,
                   help="drop final segments shorter than this (ms)")
    p.add_argument("--energy", action="store_true",
                   help="add integer-exact seg_sumsq/seg_peak + silence "
                        "gate columns (one extra Arrow hop)")
    p.add_argument("--msq-floor", type=int, default=16,
                   help="silence gate: mean-square floor (default 16)")
    p.add_argument("--partition-by", default=None,
                   help="partition the output table by this column "
                        "(e.g. codec: codec-routed readers prune files)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("--input or --synthesize required")

    with job_session("jsonschema-spark-segments", args.master) as spark:
        if args.input:
            clips = spark.read.parquet(args.input)
        else:
            from jsonschema_spark.sources.clips import synth_segment_clips

            clips = synth_segment_clips(spark, args.synthesize)
        meta_cols = [c for c in clips.columns if c.startswith("_")]
        if meta_cols:
            clips = clips.drop(*meta_cols)

        segs, stats = segment_table(
            clips,
            segment_ms=args.segment_ms,
            min_tail_ms=args.min_tail_ms,
            output=args.output,
            energy=args.energy,
            msq_floor=args.msq_floor,
            partition_by=args.partition_by,
        )
        print(json.dumps(stats))
        segs.unpersist()
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
