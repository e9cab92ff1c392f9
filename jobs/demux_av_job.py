"""spark-submit entry point: demux an A/V corpus (Motion-JPEG AVI with
interleaved PCM audio) into an AUDIO clips table + a sampled FRAMES
table — the front door that turns crawled video into inputs for the
engine's audio-validation chain and image/frame tooling.

Per payload, in ONE Arrow hop each:
- audio: '01wb' chunks concatenated byte-exact (functions/avi.
  avi_audio_pcm) with WAVEFORMATEX metadata -> rows shaped like the
  clips schema (clip_id, bytes=pcm_s16le, sr_hz, dur_ms, codec) that
  every downstream audio operator accepts unchanged;
- frames: every Nth frame JPEG-decoded to its Y-plane sum/mean (the
  same sampling primitive as the videos_mjpeg_frames contract query);
- integrity: the structural walk's verdict per file (torn tails,
  declared-count mismatches, index corruption) — demux NEVER silently
  drops a broken file; it lands in the report.

Plan shape: one binary scan feeding three mapInPandas projections with
a persist barrier; zero shuffles (the write inherits scan
partitioning). At 100 TB this job reads the video corpus once.

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/demux_av_job.py --input <videos-parquet> \\
        --audio /out/audio --frames /out/frames --every-n 5

Sandbox smoke:

    python jobs/demux_av_job.py --synthesize 200 \\
        --audio /tmp/av_audio --frames /tmp/av_frames --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.session import job_session  # noqa: E402


def demux_table(
    videos: DataFrame,
    audio_out: str | None = None,
    frames_out: str | None = None,
    every_n: int = 2,
) -> dict:
    """Demux ``videos`` (video_id, bytes, ...); write the audio and
    frame tables; return the report dict."""
    from typing import Iterator

    import pandas as pd

    from jsonschema_spark.functions.avi import (
        avi_audio_meta,
        avi_audio_pcm,
        avi_frame_chunks,
        decode_avi_frame,
        parse_avi_mjpeg,
    )

    src = videos.select("video_id", "bytes").persist()

    def audio_kernel(bs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
        for b in bs:
            out = {k: [] for k in cols}
            for vid, raw in zip(b["video_id"].tolist(), b["bytes"].tolist()):
                data = bytes(raw)
                meta = avi_audio_meta(data)
                if meta is None or not meta["pcm"]:
                    continue
                pcm = avi_audio_pcm(data)
                if not pcm:
                    continue
                sr = meta["sample_rate"]
                out["clip_id"].append(f"{vid}:audio")
                out["bytes"].append(pcm)
                out["sr_hz"].append(sr)
                out["dur_ms"].append(len(pcm) // 2 * 1000 // sr)
                out["codec"].append("pcm_s16le")
            yield pd.DataFrame(out, columns=cols)

    def frames_kernel(bs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("video_id", "frame_index", "frame_ysum", "decode_ok")
        for b in bs:
            out = {k: [] for k in cols}
            for vid, raw in zip(b["video_id"].tolist(), b["bytes"].tolist()):
                data = bytes(raw)
                n = len(avi_frame_chunks(data))
                p = parse_avi_mjpeg(data)
                declared = p["declared_frames"] if p["ok"] else n
                for k in range(0, max(int(declared or 0), n), every_n):
                    out["video_id"].append(vid)
                    out["frame_index"].append(k)
                    if k < n:
                        # a chunk complete at container level can still
                        # carry a corrupt JPEG payload — that is data to
                        # classify (decode_ok=False), not a job failure
                        try:
                            px = decode_avi_frame(data, k)
                            out["frame_ysum"].append(
                                int(px.astype("int64").sum())
                            )
                            out["decode_ok"].append(True)
                        except Exception:
                            out["frame_ysum"].append(None)
                            out["decode_ok"].append(False)
                    else:
                        out["frame_ysum"].append(None)
                        out["decode_ok"].append(False)
            yield pd.DataFrame(out, columns=cols)

    def integ_kernel(bs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("ok", "has_audio", "index_ok")
        for b in bs:
            out = {k: [] for k in cols}
            for raw in b["bytes"].tolist():
                data = bytes(raw)
                p = parse_avi_mjpeg(data)
                out["ok"].append(bool(p["ok"]))
                out["has_audio"].append(avi_audio_meta(data) is not None)
                out["index_ok"].append(
                    p["index_ok"] if p["index_ok"] is not None else False
                )
            yield pd.DataFrame(out, columns=cols)

    audio = src.mapInPandas(
        audio_kernel,
        "clip_id string, bytes binary, sr_hz int, dur_ms long, "
        "codec string",
    )
    frames = src.mapInPandas(
        frames_kernel,
        "video_id string, frame_index int, frame_ysum long, "
        "decode_ok boolean",
    )
    if audio_out:
        audio.write.mode("overwrite").parquet(audio_out)
    if frames_out:
        frames.write.mode("overwrite").parquet(frames_out)
    integ = src.mapInPandas(
        integ_kernel, "ok boolean, has_audio boolean, index_ok boolean"
    ).agg(
        F.count(F.lit(1)).alias("videos"),
        F.sum(F.col("ok").cast("long")).alias("ok_videos"),
        F.sum(F.col("has_audio").cast("long")).alias("with_audio"),
        F.sum((~F.col("index_ok")).cast("long")).alias("bad_index"),
    ).collect()[0]
    a = (
        (spark_read(audio_out) if audio_out else audio)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.length("bytes")), F.lit(0)).alias("bytes"),
        )
        .collect()[0]
    )
    fstats = (
        (spark_read(frames_out) if frames_out else frames)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum((~F.col("decode_ok")).cast("long")), F.lit(0)
            ).alias("failed"),
        )
        .collect()[0]
    )
    src.unpersist()
    return {
        "videos": int(integ["videos"]),
        "ok_videos": int(integ["ok_videos"] or 0),
        "videos_with_audio": int(integ["with_audio"] or 0),
        "bad_index_videos": int(integ["bad_index"] or 0),
        "audio_clips": int(a["rows"]),
        "audio_bytes": int(a["bytes"]),
        "sampled_frames": int(fstats["rows"]),
        "failed_frames": int(fstats["failed"]),
        "every_n": int(every_n),
    }


def spark_read(path: str) -> DataFrame:
    return SparkSession.getActiveSession().read.parquet(path)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="videos parquet path (video_id, bytes)")
    p.add_argument("--synthesize", type=int,
                   help="generate N synthetic A/V files instead")
    p.add_argument("--audio", help="audio clips output dir (parquet)")
    p.add_argument("--frames", help="sampled frames output dir (parquet)")
    p.add_argument("--every-n", type=int, default=2,
                   help="sample every Nth frame (default 2)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("--input or --synthesize required")

    with job_session("jsonschema-spark-av-demux", args.master) as spark:
        if args.input:
            videos = spark.read.parquet(args.input)
        else:
            from jsonschema_spark.sources.videos import synth_av_videos

            videos = synth_av_videos(spark, args.synthesize)

        report = demux_table(
            videos,
            audio_out=args.audio,
            frames_out=args.frames,
            every_n=args.every_n,
        )
        print(json.dumps(report))
        return 0


if __name__ == "__main__":
    sys.exit(main())
