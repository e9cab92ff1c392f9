"""Deterministic ledger video corpus (REAL Y4M / YUV4MPEG2 payloads) for
the video frame-sampling contract query.

Every row is a genuine YUV4MPEG2 stream (the uncompressed interchange
format ffmpeg/mjpegtools speak — functions/multimodal.encode_y4m), tiny
8x8 frames so the DuckDB oracle can re-slice the SAME parquet bytes and
recompute every sampled frame's mean luma from hex arithmetic alone:

  header        fixed 39 bytes ("YUV4MPEG2 W8 H8 F25:1 Ip A1:1 C420jpeg\\n")
  frame block   102 bytes = 6 ("FRAME\\n") + 64 (Y) + 32 (U+V @ 4:2:0)
  Y pixel p of frame f of row i = (i*7 + f*13 + p*3) % 256

Planted defect (_row_idx % 11 == 4): the stream is TRUNCATED 10 bytes
mid-final-frame while the ``n_frames`` metadata still claims the full
count — the torn-upload signature. Complete frames = n_frames - 1 for
those rows, so the expected ``decode_ok`` of every sampled index is pure
ledger arithmetic.

Each corpus here is published once through ``sources.clips.corpus``,
keyed by the package source and its parameters (no version to bump).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from jsonschema_spark.functions.multimodal import encode_y4m
from jsonschema_spark.sources.clips import _hash, ledger_table

VID_W = VID_H = 8
Y4M_HEADER_LEN = 39
Y4M_FRAME_LEN = 6 + VID_W * VID_H + 2 * ((VID_H // 2) * (VID_W // 2))  # 102
TRUNC_MOD = 11
TRUNC_CLS = 4
TRUNC_BYTES = 10

VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("_row_idx", T.LongType(), False),
    ]
)


def video_n_frames(i: int) -> int:
    return 4 + (i % 7)


def video_frames(i: int) -> np.ndarray:
    """(n_frames, 8, 8) uint8 luma stack for ledger row i."""
    n = video_n_frames(i)
    f = np.arange(n, dtype=np.int64)[:, None]
    p = np.arange(VID_W * VID_H, dtype=np.int64)[None, :]
    y = (i * 7 + f * 13 + p * 3) % 256
    return y.astype(np.uint8).reshape(n, VID_H, VID_W)


def _row(i: int) -> tuple:
    raw = encode_y4m(video_frames(i))
    if i % TRUNC_MOD == TRUNC_CLS:
        raw = raw[:-TRUNC_BYTES]
    return (
        f"vid-{i:06d}",
        bytearray(raw),
        VID_W,
        VID_H,
        video_n_frames(i),
        i,
    )


def synth_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    """Deterministic Y4M video table with the planted truncation ledger."""
    return ledger_table(spark, n, VIDEOS_SCHEMA, _row, partitions)


# --- Motion-JPEG AVI ledger corpus -------------------------------------------
# REAL compressed video (functions/avi.py: RIFF/AVI container around
# our own baseline-JPEG frames — closes the "compressed video
# loud-rejects" gap with an actual decoder). Classes (i % 9):
#   6 -> torn mid-final-frame (complete frames = n-1)
#   7 -> dwTotalFrames over-declared by 2 (count_mismatch; sampling
#        past the end must fail loudly per frame)
#   8 -> idx1 first offset corrupted (index_ok=False; frames fine)
#   else valid. The per-frame ledger (_ysums) holds decoded Y sums
# computed at synth by the SAME decoder — certifying encode -> store
# -> walk -> JPEG decode end to end; oracle reads the ledger.
MJPEG_CLS_MOD = 9
MJPEG_TORN_CLS = 6
MJPEG_OVER_CLS = 7
MJPEG_IDX_CLS = 8
MJPEG_W = MJPEG_H = 16

MJPEG_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ysums", T.ArrayType(T.LongType()), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_err", T.StringType(), True),
        T.StructField("_actual", T.IntegerType(), True),
        T.StructField("_idx_ok", T.BooleanType(), True),
    ]
)


def mjpeg_frames(i: int) -> np.ndarray:
    """(n, 16, 16) uint8 luma stack for ledger row i (smooth texture +
    per-frame drift so JPEG has realistic spectra)."""
    n = 3 + (i % 6)
    f = np.arange(n, dtype=np.int64)[:, None, None]
    yy = np.arange(MJPEG_H, dtype=np.int64)[None, :, None]
    xx = np.arange(MJPEG_W, dtype=np.int64)[None, None, :]
    y = (i * 31 + f * 17 + yy * 9 + xx * 5 + (yy * xx) % 7) % 256
    return y.astype(np.uint8)


def _mjpeg_row(i: int) -> tuple:
    from jsonschema_spark.functions.avi import (
        avi_frame_chunks,
        decode_avi_frame,
        encode_avi_mjpeg,
        parse_avi_mjpeg,
    )

    frames = mjpeg_frames(i)
    n = frames.shape[0]
    cls = i % MJPEG_CLS_MOD
    declared = n + 2 if cls == MJPEG_OVER_CLS else None
    raw = encode_avi_mjpeg(
        frames, declared_frames=declared,
        corrupt_index=(cls == MJPEG_IDX_CLS),
    )
    if cls == MJPEG_TORN_CLS:
        # cut into the middle of the LAST frame chunk (verified below)
        chunks = avi_frame_chunks(raw)
        off, ln = chunks[-1]
        raw = raw[: off + ln // 2]
    got = parse_avi_mjpeg(raw)
    complete = avi_frame_chunks(raw)
    ysums = [
        int(decode_avi_frame(raw, k).astype(np.int64).sum())
        for k in range(len(complete))
    ]
    # synth-time verification: the walker's verdict matches the class
    if cls == MJPEG_TORN_CLS:
        assert got["error"] == "truncated" and len(complete) == n - 1, i
    elif cls == MJPEG_OVER_CLS:
        assert got["error"] == "count_mismatch", i
    elif cls == MJPEG_IDX_CLS:
        assert got["ok"] and got["index_ok"] is False, i
    else:
        assert got["ok"] and got["index_ok"] is True, i
    return (
        f"mjv-{i:06d}", bytearray(raw), MJPEG_W, MJPEG_H, n, i,
        ysums, got["ok"], got["error"], got["actual_frames"],
        got["index_ok"],
    )


def synth_mjpeg_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, MJPEG_VIDEOS_SCHEMA, _mjpeg_row, partitions)


# --- A/V (MJPEG video + interleaved PCM audio) ledger corpus -----------------
# The multimodal demux story: audio arrives INSIDE the video container
# ('01wb' chunks) and must reach the audio-validation chain byte-exact.
# Classes (i % 5): 3 -> torn tail (leading audio chunks survive and
# their md5 is the post-tear ledger truth), 4 -> video-only (no audio
# stream at all), else valid at a cycling sample rate. Ledger truth
# for audio is computed AT SYNTH by the same demux (then pinned by
# independent arithmetic in tests).
AV_CLS_MOD = 5
AV_TORN_CLS = 3
AV_SILENT_CLS = 4

AV_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_has_audio", T.BooleanType(), False),
        T.StructField("_sr", T.IntegerType(), True),
        T.StructField("_n_audio_bytes", T.LongType(), False),
        T.StructField("_audio_md5", T.StringType(), True),
    ]
)

_AV_RATES = (16000, 8000, 22050)


def av_pcm(i: int, n_samples: int) -> np.ndarray:
    """Deterministic int16 signal for ledger row i (avalanche-hashed
    per-index — the Weyl-sawtooth trap does not matter for byte-exact
    demux checks, but stay consistent with the corpus conventions)."""
    idx = np.arange(n_samples, dtype=np.uint64)
    z = idx * np.uint64(0x9E3779B97F4A7C15) + np.uint64(_hash(i))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return ((z % np.uint64(60001)).astype(np.int64) - 30000).astype(
        np.int16
    )


def _av_row(i: int) -> tuple:
    import hashlib

    from jsonschema_spark.functions.avi import (
        avi_frame_chunks,
        avi_audio_pcm,
        encode_avi_mjpeg,
        encode_avi_mjpeg_av,
    )

    frames = mjpeg_frames(i)
    n = frames.shape[0]
    cls = i % AV_CLS_MOD
    if cls == AV_SILENT_CLS:
        raw = encode_avi_mjpeg(frames)
        return (f"avv-{i:06d}", bytearray(raw), n, i, False, None, 0,
                None)
    sr = _AV_RATES[i % len(_AV_RATES)]
    pcm = av_pcm(i, sr * n // 25)  # n frames at 25 fps
    raw = encode_avi_mjpeg_av(frames, pcm, sr)
    if cls == AV_TORN_CLS:
        chunks = avi_frame_chunks(raw)
        off, ln = chunks[-1]
        raw = raw[: off + ln // 2]
    audio = avi_audio_pcm(raw)
    return (
        f"avv-{i:06d}", bytearray(raw), n, i, True, sr, len(audio),
        hashlib.md5(audio).hexdigest(),
    )


def synth_av_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, AV_VIDEOS_SCHEMA, _av_row, partitions)


# --- H.264 Annex B ledger corpus (VERDICT r3 item 7) -------------------------
# Structural-walk certification for the web's dominant video codec: NAL
# discipline, SPS/PPS parse, slice-header frame counting. Six VALID
# classes exercise profiles/crop/multi-slice/POC-1/EPB-heavy payloads;
# six planted-failure classes cover the NAL error taxonomy with exact
# error@index strings. Ledger truth is generator arithmetic — the
# walker never runs at synth time.
H264_CLASS_MOD = 12

H264_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_err", T.StringType(), True),
        T.StructField("_n_nals", T.IntegerType(), True),
        T.StructField("_n_frames", T.IntegerType(), True),
        T.StructField("_n_idr", T.IntegerType(), True),
        T.StructField("_n_slices", T.IntegerType(), True),
        T.StructField("_profile", T.IntegerType(), True),
        T.StructField("_level", T.IntegerType(), True),
        T.StructField("_w", T.IntegerType(), True),
        T.StructField("_h", T.IntegerType(), True),
    ]
)


def _h264_row(i: int) -> tuple:
    from jsonschema_spark.functions.h264 import (
        NAL_PPS,
        NAL_SPS,
        _nal,
        build_pps,
        build_slice_nal,
        build_sps,
        encode_h264_stream,
    )

    cls = i % H264_CLASS_MOD
    k = 4 + (_hash(i) >> 8) % 9  # 4..12 frames
    vid = f"h264-{i:06d}"
    led = None
    if cls == 0:      # baseline, single-slice frames
        raw = encode_h264_stream(k, idr_period=6, seed=i)
        led = (k + 2, k, -(-k // 6), k, 66, 30, 64, 48)
    elif cls == 1:    # High profile + frame cropping (non-16-multiple dims)
        raw = encode_h264_stream(
            k, profile_idc=100, width_mbs=5, height_mbs=4,
            crop_right=3, crop_bottom=2, seed=i,
        )
        led = (k + 2, k, -(-k // 8), k, 100, 30, 74, 60)
    elif cls == 2:    # multi-slice frames: count pictures, not slices
        raw = encode_h264_stream(k, slices_per_frame=3, seed=i)
        led = (3 * k + 2, k, -(-k // 8), 3 * k, 66, 30, 64, 48)
    elif cls == 3:    # pic_order_cnt_type 1 SPS branch
        raw = encode_h264_stream(k, poc_type=1, seed=i)
        led = (k + 2, k, -(-k // 8), k, 66, 30, 64, 48)
    elif cls == 4:    # EPB-heavy payloads (long runs forcing 00 00 03)
        raw = encode_h264_stream(k, payload_bytes=260, seed=i)
        led = (k + 2, k, -(-k // 8), k, 66, 30, 64, 48)
    elif cls == 5:    # level/size variant (level 41, bigger mb grid)
        raw = encode_h264_stream(k, width_mbs=8, height_mbs=6, seed=i)
        led = (k + 2, k, -(-k // 8), k, 66, 30, 128, 96)
    elif cls == 6:    # torn mid-SPS: the truncation class
        full = _nal(NAL_SPS, build_sps())
        raw = full[:7] + encode_h264_stream(k, seed=i)[len(full):]
        led = None
        err = "truncated@0"
    elif cls == 7:    # forbidden bit set on the first slice NAL
        head = _nal(NAL_SPS, build_sps()) + _nal(NAL_PPS, build_pps())
        sl = build_slice_nal(True, 0, seed=i)
        flipped = sl[:4] + bytes((sl[4] | 0x80,)) + sl[5:]
        raw = head + flipped
        err = "forbidden_bit@2"
    elif cls == 8:    # slice before PPS
        raw = (
            _nal(NAL_SPS, build_sps())
            + build_slice_nal(True, 0, seed=i)
            + _nal(NAL_PPS, build_pps())
        )
        err = "slice_before_pps@1"
    elif cls == 9:    # reserved NAL type planted mid-stream
        good = encode_h264_stream(3, seed=i)
        raw = good + _nal(17, b"\x55\xaa")
        err = "reserved_nal@5"
    elif cls == 10:   # §7.4.1.1 violation: raw 00 00 02 in a payload
        head = _nal(NAL_SPS, build_sps()) + _nal(NAL_PPS, build_pps())
        raw = head + b"\x00\x00\x00\x01\x65" + b"\x22\x00\x00\x02\x11"
        err = "epb_violation@2"
    else:             # stream opens with a non-IDR picture
        raw = (
            _nal(NAL_SPS, build_sps())
            + _nal(NAL_PPS, build_pps())
            + build_slice_nal(False, 0, seed=i)
        )
        err = "no_idr_start@2"
    if led is None:
        out = (False, err, None, None, None, None, None, None, None, None)
    else:
        out = (True, None) + led
    return (vid, bytearray(raw), i) + out


def synth_h264_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, H264_VIDEOS_SCHEMA, _h264_row, partitions)


# --- ISO-BMFF / MP4 ledger corpus (round 4) ----------------------------------
# Box-discipline + sample-table certification for the container that
# carries most real-web video. Five VALID classes (video-only baseline,
# A/V with 'sowt' PCM, High profile, higher fps, High+audio) + five
# planted failures (torn tail, stts/stsz count disagreement, corrupt
# avcC profile, missing ftyp, chunk offset outside mdat). Ledger truth
# is generator arithmetic.
MP4_CLASS_MOD = 10

MP4_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_err", T.StringType(), True),
        T.StructField("_brand", T.StringType(), True),
        T.StructField("_n_tracks", T.IntegerType(), True),
        T.StructField("_vcodec", T.StringType(), True),
        T.StructField("_w", T.IntegerType(), True),
        T.StructField("_h", T.IntegerType(), True),
        T.StructField("_vsamp", T.IntegerType(), True),
        T.StructField("_profile", T.IntegerType(), True),
        T.StructField("_acodec", T.StringType(), True),
        T.StructField("_sr", T.IntegerType(), True),
        T.StructField("_ch", T.IntegerType(), True),
        T.StructField("_asamp", T.IntegerType(), True),
        T.StructField("_dur", T.LongType(), True),
        T.StructField("_consistent", T.BooleanType(), True),
    ]
)


def _mp4_row(i: int) -> tuple:
    import struct as _st

    from jsonschema_spark.functions.mp4 import encode_mp4_h264

    cls = i % MP4_CLASS_MOD
    k = 6 + (_hash(i) >> 9) % 10  # 6..15 frames
    vid = f"mp4-{i:06d}"
    base_cls = cls if cls < 5 else (cls - 5)
    cfg = [
        dict(),
        dict(audio_samples=2000 + (i % 5) * 400),
        dict(profile_idc=100, width_mbs=6, height_mbs=4),
        dict(fps=30),
        dict(profile_idc=100, audio_samples=1600, audio_sr=8000),
    ][base_cls]
    raw = encode_mp4_h264(k, seed=i, **cfg)
    fps = cfg.get("fps", 25)
    w = 16 * cfg.get("width_mbs", 4)
    h = 16 * cfg.get("height_mbs", 3)
    asamp = cfg.get("audio_samples")
    led = ("isom", 2 if asamp else 1, "avc1", w, h, k,
           cfg.get("profile_idc", 66),
           "sowt" if asamp else None,
           cfg.get("audio_sr", 16000) if asamp else None,
           1 if asamp else None, asamp,
           k * 1000 // fps, True)
    err = None
    if cls == 5:      # torn tail
        raw = raw[:-11]
        err = "truncated"
    elif cls == 6:    # stts total != stsz count (consistency gate)
        j = raw.index(b"stts")
        b = bytearray(raw)
        cnt = _st.unpack(">I", raw[j + 12 : j + 16])[0]
        b[j + 12 : j + 16] = _st.pack(">I", cnt + 1)
        raw = bytes(b)
        led = led[:-1] + (False,)
    elif cls == 7:    # avcC profile disagrees with its embedded SPS
        a = raw.index(b"avcC")
        b = bytearray(raw)
        b[a + 5] = 244
        raw = bytes(b)
        err = "avcc_sps_mismatch"
    elif cls == 8:    # ftyp stripped
        p = raw.index(b"ftyp") - 4
        (sz,) = _st.unpack(">I", raw[p : p + 4])
        raw = raw[p + sz :]
        err = "missing_ftyp"
    elif cls == 9:    # first chunk offset beyond the file
        kk = raw.index(b"stco")
        b = bytearray(raw)
        b[kk + 12 : kk + 16] = _st.pack(">I", len(raw) + 64)
        raw = bytes(b)
        led = led[:-1] + (False,)
    if err is not None:
        out = (False, err) + (None,) * 13
    else:
        out = (True, None) + led
    return (vid, bytearray(raw), i) + out


def synth_mp4_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, MP4_VIDEOS_SCHEMA, _mp4_row, partitions)


# --- WebM / Matroska (EBML) ledger corpus (round 4) --------------------------
# EBML element discipline + track/cluster certification for the second
# dominant web video container. Five VALID classes (VP9-only, VP9+Opus,
# VP8+Vorbis matroska, AVC-in-mkv, multi-cluster long) + five planted
# failures (torn element, non-EBML magic, unknown DocType, stray
# SimpleBlock track, duplicate track numbers). Ledger truth is
# generator arithmetic.
WEBM_CLASS_MOD = 16

WEBM_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_err", T.StringType(), True),
        T.StructField("_doctype", T.StringType(), True),
        T.StructField("_n_tracks", T.IntegerType(), True),
        T.StructField("_vcodec", T.StringType(), True),
        T.StructField("_w", T.IntegerType(), True),
        T.StructField("_h", T.IntegerType(), True),
        T.StructField("_acodec", T.StringType(), True),
        T.StructField("_sr", T.IntegerType(), True),
        T.StructField("_ch", T.IntegerType(), True),
        T.StructField("_n_clusters", T.IntegerType(), True),
        T.StructField("_vblocks", T.IntegerType(), True),
        T.StructField("_ablocks", T.IntegerType(), True),
        T.StructField("_dur", T.LongType(), True),
        T.StructField("_consistent", T.BooleanType(), True),
    ]
)


def _webm_row(i: int) -> tuple:
    from jsonschema_spark.functions.webm import (
        SIMPLE_BLOCK,
        elem,
        encode_webm,
    )

    cls = i % WEBM_CLASS_MOD
    vb = 8 + (_hash(i) >> 10) % 12
    vid = f"webm-{i:06d}"
    base_cls = cls if cls < 5 else ((cls - 5) if cls < 10 else (cls - 10))
    cfgs = [
        dict(),
        dict(n_audio_blocks=2 * (8 + (_hash(i) >> 10) % 12)),
        dict(n_audio_blocks=10, doctype="matroska",
             video_codec="V_VP8", audio_codec="A_VORBIS", sr=44100,
             channels=2),
        dict(doctype="matroska", video_codec="V_MPEG4/ISO/AVC",
             width=640, height=360),
        dict(n_audio_blocks=30, blocks_per_cluster=4,
             duration_ms=5000),
        # lacing classes (v2): several codec frames per SimpleBlock —
        # Xiph, fixed, and EBML-delta size tables (how real muxers
        # pack Vorbis/Opus audio)
        dict(n_audio_blocks=6, audio_lacing=1,
             audio_frames_per_block=3 + i % 3,
             audio_codec="A_VORBIS"),
        dict(n_audio_blocks=5, audio_lacing=2,
             audio_frames_per_block=2 + i % 4),
        dict(n_audio_blocks=4, audio_lacing=3,
             audio_frames_per_block=3 + i % 4,
             doctype="matroska", audio_codec="A_VORBIS", sr=32000),
    ]
    streamed = cls == 14
    if 10 <= cls < 13:
        cfg = cfgs[5 + (cls - 10)]  # the three lacing modes, valid
    elif cls == 13:
        cfg = cfgs[5]  # Xiph shape; a corrupt laced block is appended
    elif cls == 14:
        # streamed/live-muxer layout (round 5): Segment AND every
        # Cluster carry the all-ones unknown-size VINT — valid, the
        # walker resolves cluster extents by walking children
        cfg = dict(n_audio_blocks=12, blocks_per_cluster=5)
    elif cls == 15:
        # BlockGroup(Block + ReferenceBlock) non-keyframe layout
        # (round 5): counted exactly like SimpleBlocks
        cfg = dict(n_audio_blocks=8, block_groups=True)
    else:
        cfg = cfgs[base_cls]  # 0-4 valid, 5-9 reuse shapes for failures
    raw = encode_webm(vb, seed=i, streamed=streamed, **cfg)
    ab = cfg.get("n_audio_blocks", 0)
    bpc = cfg.get("blocks_per_cluster", 8)
    fpb = cfg.get("audio_frames_per_block", 1)
    n_clusters = -(-(vb + ab) // bpc)
    led = (cfg.get("doctype", "webm"), 2 if ab else 1,
           cfg.get("video_codec", "V_VP9"),
           cfg.get("width", 320), cfg.get("height", 240),
           cfg.get("audio_codec", "A_OPUS") if ab else None,
           cfg.get("sr", 48000) if ab else None,
           cfg.get("channels", 1) if ab else None,
           n_clusters, vb, ab * fpb,
           cfg.get("duration_ms", 2000), True)
    err = None
    if cls == 5:      # torn element
        raw = raw[:-6]
        err = "truncated"
    elif cls == 6:    # not EBML at all
        raw = b"\x00\x01" + raw[2:]
        err = "missing_ebml_header"
    elif cls == 7:    # unknown DocType
        raw = encode_webm(vb, seed=i, doctype="webp")
        err = "bad_doctype"
    elif cls == 8:    # stray SimpleBlock referencing an undeclared track
        stray = elem(SIMPLE_BLOCK, b"\x83\x00\x00\x80" + b"\x55" * 20)
        # splice into the LAST cluster: rebuild with an extra block via
        # a direct append inside the final cluster is intricate — wrap
        # a fresh single-block cluster instead (still inside Segment)
        from jsonschema_spark.functions.webm import (
            CLUSTER,
            TIMESTAMP,
            _uint_body,
        )

        extra = elem(CLUSTER, elem(TIMESTAMP, _uint_body(9000)) + stray)
        # appending a cluster changes the Segment size — re-encode the
        # Segment element around (old body + extra)
        from jsonschema_spark.functions.webm import SEGMENT, walk_ebml

        top = list(walk_ebml(raw, 0, len(raw)))
        s = next(t for t in top if t[0] == SEGMENT)
        seg_body = raw[s[1] : s[2]] + extra
        hdr_end = top[0][2]
        raw = raw[:hdr_end] + elem(SEGMENT, seg_body)
        led = led[:8] + (n_clusters + 1,) + led[9:-1] + (False,)
    elif cls == 13:   # lacing size table overruns the block body
        # append a corrupt laced block: declares 3 frames whose Xiph
        # sizes exceed the remaining bytes
        from jsonschema_spark.functions.webm import (
            CLUSTER,
            SEGMENT,
            TIMESTAMP,
            _uint_body,
            walk_ebml,
        )

        bad = elem(SIMPLE_BLOCK,
                   b"\x82\x00\x00\x82\x02\xf0\xf0" + b"\x11" * 10)
        extra = elem(CLUSTER, elem(TIMESTAMP, _uint_body(9500)) + bad)
        top = list(walk_ebml(raw, 0, len(raw)))
        seg = next(t for t in top if t[0] == SEGMENT)
        raw = raw[: top[0][2]] + elem(
            SEGMENT, raw[seg[1] : seg[2]] + extra
        )
        err = "bad_lacing"
    elif cls == 9:    # duplicate track numbers
        from jsonschema_spark.functions.webm import (
            TRACK_NUMBER,
        )

        raw = encode_webm(vb, n_audio_blocks=6, seed=i)
        # rewrite the audio TrackEntry's number (2) to 1: TrackNumber
        # elements are 0xD7 0x81 <n> — patch the SECOND occurrence
        pat = bytes((0xD7, 0x81, 2))
        k = raw.index(pat)
        raw = raw[:k] + bytes((0xD7, 0x81, 1)) + raw[k + 3 :]
        err = "duplicate_track_numbers"
    if err is not None:
        out = (False, err) + (None,) * 13
    else:
        out = (True, None) + led
    return (vid, bytearray(raw), i) + out


def synth_webm_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, WEBM_VIDEOS_SCHEMA, _webm_row, partitions)


# --- fragmented-MP4 (DASH/CMAF) ledger corpus (round 4) ----------------------
FMP4_CLASS_MOD = 6

FMP4_VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_err", T.StringType(), True),
        T.StructField("_fragmented", T.BooleanType(), True),
        T.StructField("_n_frags", T.IntegerType(), True),
        T.StructField("_samples", T.IntegerType(), True),
        T.StructField("_seq_ok", T.BooleanType(), True),
        T.StructField("_tracks_ok", T.BooleanType(), True),
    ]
)


def _fmp4_row(i: int) -> tuple:
    from jsonschema_spark.functions.mp4 import (
        encode_mp4_fragmented,
        encode_mp4_h264,
    )

    cls = i % FMP4_CLASS_MOD
    nf = 2 + (_hash(i) >> 11) % 5
    spf = 6 + i % 5
    vid = f"fmp4-{i:06d}"
    if cls == 0:      # small CMAF-style segment chain
        raw = encode_mp4_fragmented(nf, spf, seed=i)
        led = (True, None, True, nf, nf * spf, True, True)
    elif cls == 1:    # longer chain, bigger frames
        raw = encode_mp4_fragmented(nf + 4, spf, width_mbs=6,
                                    height_mbs=4, seed=i)
        led = (True, None, True, nf + 4, (nf + 4) * spf, True, True)
    elif cls == 2:    # plain progressive MP4: fragmented = False
        raw = encode_mp4_h264(5 + i % 4, seed=i)
        led = (True, None, False, 0, 0, True, True)
    elif cls == 3:    # mfhd sequence break
        raw = encode_mp4_fragmented(max(nf, 3), spf, seed=i,
                                    break_seq=True)
        led = (True, None, True, max(nf, 3), max(nf, 3) * spf, False,
               True)
    elif cls == 4:    # traf referencing an undeclared track
        raw = encode_mp4_fragmented(nf, spf, seed=i, stray_track=True)
        led = (True, None, True, nf, nf * spf, True, False)
    else:             # torn mid-fragment
        raw = encode_mp4_fragmented(nf, spf, seed=i)[:-13]
        led = (False, "truncated", None, None, None, None, None)
    return (vid, bytearray(raw), i) + led


def synth_fmp4_videos(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    return ledger_table(spark, n, FMP4_VIDEOS_SCHEMA, _fmp4_row, partitions)


