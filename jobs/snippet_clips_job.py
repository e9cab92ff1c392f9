"""spark-submit entry point: training-window (snippet) extraction.

Pulls one fixed window out of every clip — the batch-formation primitive
ASR training uses (fixed-length crops) — WITHOUT decoding whole clips
where the container allows a seek (functions/audio.window_pcm_batch):

  - REAL FLAC payloads seek via the SEEKTABLE (decode_flac_range parses
    only the frames covering the window: O(window), not O(clip));
  - RIFF/WAVE PCM16 and raw PCM are byte slices (zero decode);
  - other codecs decode fully, then slice (correct, not seeked).

The window is ``--off-ms`` (absolute) or ``--off-frac`` (fraction of
each clip's duration, default 0.4) with length ``--win-ms`` (default
250). Windows clamp at the clip end; rows that cannot be decoded are
counted and dropped (quarantine them with the validation family).

Plan shape: ONE scan, ONE Arrow hop, zero shuffle; output rows carry
raw mono pcm_s16le snippets sized win_ms — at 100 TB this job reads the
corpus once and writes only the windows (a 250 ms window of a 10 s clip
is a 40x byte reduction even before codec savings).

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/snippet_clips_job.py --input <clips-parquet> \\
        --output /snippets --off-frac 0.4 --win-ms 250

Sandbox smoke:

    python jobs/snippet_clips_job.py --synthesize 800 \\
        --output /tmp/snippets --master 'local[8]'
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


def snippet_clips(
    clips: DataFrame,
    off_ms: int | None = None,
    off_frac: float = 0.4,
    win_ms: int = 250,
    output: str | None = None,
) -> tuple[DataFrame, dict]:
    """Extract one window per clip; returns (snippets DataFrame, stats).

    Output schema: (clip_id, bytes=raw mono pcm_s16le window, sr_hz,
    snip_ms, n_out, transcript passthrough when present). ``off_ms``
    fixes an absolute offset; otherwise the offset is
    floor(dur_ms * off_frac) per clip."""
    from jsonschema_spark.functions.audio import window_pcm

    if off_ms is not None:
        off_col = F.lit(int(off_ms)).cast("bigint")
    else:
        # integer-exact: floor(dur * frac) via a rational with 10^6 base
        num = int(round(off_frac * 1_000_000))
        off_col = F.expr(
            f"CAST(dur_ms AS BIGINT) * {num} div 1000000"
        )
    w = clips.withColumn(
        "_w", window_pcm("bytes", "sr_hz", off_col, F.lit(int(win_ms)))
    )
    keep = [c for c in ("clip_id", "sr_hz", "transcript") if c in clips.columns]
    snips = w.select(
        *keep,
        F.col("_w.out_bytes").alias("bytes"),
        F.col("_w.n_out").alias("n_out"),
        (F.col("_w.n_out") * 1000 / F.col("sr_hz")).cast("int").alias(
            "snip_ms"
        ),
    )
    ok = snips.where(F.col("n_out") >= 0).persist()
    expected = F.expr(f"CAST(sr_hz AS BIGINT) * {int(win_ms)} div 1000")
    agg = ok.agg(
        F.count(F.lit(1)).alias("extracted"),
        F.coalesce(F.sum(F.length("bytes")), F.lit(0)).alias("bytes_out"),
        F.coalesce(
            F.sum((F.col("n_out") < expected).cast("long")), F.lit(0)
        ).alias("short_windows"),
    ).collect()[0]
    n_input = clips.count()
    stats = {
        "input_rows": int(n_input),
        "extracted": int(agg["extracted"]),
        "decode_failed": int(n_input - agg["extracted"]),
        "bytes_out": int(agg["bytes_out"]),
        "short_windows": int(agg["short_windows"]),
        "win_ms": int(win_ms),
        **({"off_ms": int(off_ms)} if off_ms is not None
           else {"off_frac": off_frac}),
    }
    if output:
        ok.write.mode("overwrite").parquet(output)
    result = ok
    return result, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips parquet path")
    p.add_argument("--synthesize", type=int,
                   help="generate N synthetic clips instead")
    p.add_argument("--output", help="snippets output dir (parquet)")
    p.add_argument("--off-ms", type=int, default=None,
                   help="absolute window offset (ms)")
    p.add_argument("--off-frac", type=float, default=0.4,
                   help="window offset as a fraction of each clip's "
                        "duration (default 0.4)")
    p.add_argument("--win-ms", type=int, default=250,
                   help="window length (ms, default 250)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("--input or --synthesize required")

    with job_session("jsonschema-spark-snippets", args.master) as spark:
        if args.input:
            clips = spark.read.parquet(args.input)
        else:
            from jsonschema_spark.sources.clips import synth_clips

            clips = synth_clips(spark, args.synthesize)
        meta_cols = [c for c in clips.columns if c.startswith("_")]
        if meta_cols:
            clips = clips.drop(*meta_cols)

        snips, stats = snippet_clips(
            clips,
            off_ms=args.off_ms,
            off_frac=args.off_frac,
            win_ms=args.win_ms,
            output=args.output,
        )
        print(json.dumps(stats))
        snips.unpersist()
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
