"""Unified audio-container dispatch: one sniff, every format the engine
knows — metadata-vs-payload consistency over a HETEROGENEOUS crawl.

A real ingest table mixes containers: decodable formats (RIFF/WAVE,
FLAC, AIFF/AIFF-C, Sun AU), structurally-validatable compressed formats
(MPEG audio via the frame-header walk, Ogg via the page walk), and bare
PCM blobs. This profiler sniffs the magic once and routes each payload
to its strongest available check, then normalizes the result so ONE
downstream gate can ask the questions that matter at corpus scale:
does the payload's own header agree with the table's ``sr_hz`` column,
and does its parsed duration agree with ``dur_ms``? Header-vs-column
disagreement is the classic signature of mislabeled uploads and broken
transcode pipelines — undetectable by schema keywords alone.

Routing:
- wav / flac / aiff / au -> full decode (CRC/MD5-verified where the
  format carries them) + header sample rate/channels
- mp3 -> ISO 11172-3/13818-3 frame-header walk (functions/mp3.py)
- ogg -> RFC 3533 page walk + Opus/Vorbis ident (functions/ogg.py)
- adts -> ISO 14496-3 AAC ADTS frame walk (functions/aac.py; sniffed
  BEFORE mp3 — both share the 0xFFF sync, ADTS is layer 00)
- mp4 -> ISO-BMFF box walk (functions/mp4.py); profiled via its audio
  track when one exists, not_audio_container otherwise
- webm -> EBML walk (functions/webm.py); same audio-track stance
- no known magic -> 'raw' little-endian PCM16 (n_samples = len/2; no
  header to disagree with, so metadata gates fall back to the column
  rate for the duration check)

One Arrow hop; the per-payload work is the same vectorized kernels the
per-format operators use.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column

from jsonschema_spark.functions.audio import (
    _AU_MAGIC,
    _f80_decode,
    _parse_wav,
    decode_payload,
)
from jsonschema_spark.functions.mp3 import parse_mp3_stream
from jsonschema_spark.functions.ogg import OGG, parse_ogg_stream

__all__ = [
    "container_sniff",
    "container_profile_batch",
    "audio_container_profile",
    "container_meta_gates",
    "CONTAINER_PROFILE_TYPE",
]

CONTAINER_PROFILE_TYPE = T.StructType(
    [
        T.StructField("container", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("parsed_dur_ms", T.LongType()),
    ]
)


def container_sniff(raw: bytes) -> str:
    if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        return "wav"
    if raw[:4] == b"RIFF":
        # RIFF but NOT an audio form (AVI video, WebP, ...): without
        # this branch the payload would fall through to the bare-PCM16
        # fallback and "decode" container bytes as samples — the
        # mislabeled-upload class the sniffer exists to catch
        return "avi" if raw[8:12] == b"AVI " else "riff_other"
    if raw[:4] == b"fLaC":
        return "flac"
    if raw[:4] == b"FORM" and raw[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    if raw[:4] == _AU_MAGIC:
        return "au"
    if raw[:4] == b"OggS":
        return "ogg"
    if len(raw) >= 8 and raw[4:8] == b"ftyp":
        return "mp4"
    if raw[:4] == b"\x1aE\xdf\xa3":
        return "webm"
    # ADTS before MP3: both start 0xFFF; ADTS has layer bits 00 where
    # MPEG audio layers are 01/10/11
    if len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xF6) == 0xF0:
        return "adts"
    if raw[:3] == b"ID3" or (
        len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xE0) == 0xE0
    ):
        return "mp3"
    return "raw"


def _aiff_comm(raw: bytes) -> tuple[int, int]:
    """(sample_rate, channels) from the COMM chunk (EA IFF 85 walk)."""
    pos, n = 12, len(raw)
    while pos + 8 <= n:
        cid = raw[pos:pos + 4]
        (size,) = struct.unpack(">I", raw[pos + 4:pos + 8])
        if cid == b"COMM" and size >= 18:
            body = raw[pos + 8:pos + 8 + size]
            channels = struct.unpack(">h", body[0:2])[0]
            rate = _f80_decode(body[8:18])
            return rate, channels
        pos += 8 + size + (size & 1)
    raise ValueError("malformed AIFF: missing COMM chunk")


def _profile_one(raw: bytes) -> dict:
    kind = container_sniff(raw)
    out = {
        "container": kind, "ok": False, "error": None, "sample_rate": None,
        "channels": None, "n_samples": None, "parsed_dur_ms": None,
    }
    try:
        if kind == "wav":
            fmt, channels, sr, _bits, _ba, _fact, _data = _parse_wav(raw)
            pcm = decode_payload(raw)  # mono downmix; len == frames
            out.update(ok=True, sample_rate=sr, channels=channels,
                       n_samples=len(pcm),
                       parsed_dur_ms=len(pcm) * 1000 // sr)
        elif kind == "flac":
            from jsonschema_spark.functions.flac import _parse_stream

            if raw[4:5] == b"0":  # legacy synthetic roster container
                pcm = decode_payload(raw)
                out.update(container="flac-synth", ok=True,
                           n_samples=len(pcm))
            else:
                _mb, sr, channels, _bits, total, *_ = _parse_stream(
                    bytes(raw)
                )
                decode_payload(raw)  # CRC/MD5-verified full decode
                out.update(ok=True, sample_rate=sr, channels=channels,
                           n_samples=total,
                           parsed_dur_ms=total * 1000 // sr)
        elif kind == "aiff":
            sr, channels = _aiff_comm(raw)
            pcm = decode_payload(raw)
            out.update(ok=True, sample_rate=sr, channels=channels,
                       n_samples=len(pcm),
                       parsed_dur_ms=len(pcm) * 1000 // sr)
        elif kind == "au":
            sr = int.from_bytes(raw[16:20], "big")
            channels = int.from_bytes(raw[20:24], "big")
            pcm = decode_payload(raw)
            out.update(ok=True, sample_rate=sr, channels=channels,
                       n_samples=len(pcm),
                       parsed_dur_ms=len(pcm) * 1000 // sr)
        elif kind == "mp3":
            r = parse_mp3_stream(raw)
            if not r["ok"]:
                out["error"] = r["error"]
            else:
                out.update(
                    ok=True, sample_rate=r["sr_hz"],
                    channels=1 if r["mode"] == "mono" else 2,
                    parsed_dur_ms=r["parsed_dur_ms"],
                )
        elif kind == "ogg":
            r = parse_ogg_stream(raw)
            if not r["ok"]:
                out["error"] = r["error"]
            else:
                out.update(
                    ok=True, sample_rate=r["sample_rate"],
                    channels=r["channels"],
                    parsed_dur_ms=r["duration_ms"],
                )
        elif kind == "adts":
            from jsonschema_spark.functions.aac import parse_adts_stream

            r = parse_adts_stream(raw)
            if not r["ok"]:
                out["error"] = r["error"]
            else:
                out.update(
                    ok=True, sample_rate=r["sample_rate"],
                    channels=r["channels"],
                    parsed_dur_ms=r["duration_ms"],
                )
        elif kind == "mp4":
            from jsonschema_spark.functions.mp4 import parse_mp4

            r = parse_mp4(raw)
            if not r["ok"]:
                out["error"] = r["error"]
            elif r["audio_codec"] is None:
                out["error"] = "not_audio_container"
            elif not r["sample_rate"]:
                # a sowt entry may declare sample_rate 0 — a divide
                # guard, not a task-killing ZeroDivisionError
                out["error"] = "bad_sample_rate"
            else:
                out.update(
                    ok=True, sample_rate=r["sample_rate"],
                    channels=r["channels"],
                    n_samples=r["audio_samples"],
                    parsed_dur_ms=(
                        r["audio_samples"] * 1000 // r["sample_rate"]
                    ),
                )
        elif kind == "webm":
            from jsonschema_spark.functions.webm import parse_webm

            r = parse_webm(raw)
            if not r["ok"]:
                out["error"] = r["error"]
            elif r["audio_codec"] is None:
                out["error"] = "not_audio_container"
            else:
                # EBML carries no per-track sample count; duration is
                # the Segment-level declared duration
                out.update(
                    ok=True, sample_rate=r["sample_rate"],
                    channels=r["channels"],
                    parsed_dur_ms=r["duration_ms"],
                )
        elif kind in ("avi", "riff_other"):
            # a video/other RIFF payload in an AUDIO column is never ok
            # here — route it loudly to the violation report (the A/V
            # demux path, functions/avi.avi_audio_pcm, is the supported
            # way to get audio OUT of an AVI)
            out["error"] = "not_audio_container"
        else:  # bare LE-PCM16 blob: no header to disagree with
            out.update(ok=len(raw) % 2 == 0, n_samples=len(raw) // 2)
            if len(raw) % 2:
                out["error"] = "odd_pcm_length"
    except (ValueError, TypeError, struct.error, IndexError,
            OverflowError, ZeroDivisionError) as e:
        # the broadened tuple is the backstop for walker escapes the
        # per-format guards miss (r4 ADVICE: empty mvhd body IndexError,
        # infinite EBML float OverflowError, zero-rate ZeroDivisionError)
        # — a malformed payload must become an error ROW, never a dead
        # Spark task
        out["ok"] = False
        out["error"] = f"decode_failed: {e}"
    return out


def container_profile_batch(payloads: pd.Series) -> pd.DataFrame:
    """Mixed-container batch profile. Ogg payloads (and NULL rows, which
    come back as ``null_payload``) go through the batched Ogg walker, so
    every Ogg page of the Arrow batch is CRC-verified in one kernel call
    (ogg.verified_pages); every other container profiles per clip."""
    datas = [None if p is None else bytes(p) for p in payloads]
    walked = [
        i for i, d in enumerate(datas)
        if d is None or container_sniff(d) == "ogg"
    ]
    ogg_rows = dict(zip(walked, OGG.rows([datas[i] for i in walked])))
    rows = []
    for i, d in enumerate(datas):
        if i not in ogg_rows:
            rows.append(_profile_one(d))
            continue
        r = ogg_rows[i]
        out = {"container": None if d is None else "ogg", "ok": False,
               "error": r["error"], "sample_rate": None, "channels": None,
               "n_samples": None, "parsed_dur_ms": None}
        if r["ok"]:
            out.update(ok=True, sample_rate=r["sample_rate"],
                       channels=r["channels"],
                       parsed_dur_ms=r["duration_ms"])
        rows.append(out)
    return pd.DataFrame(
        rows, columns=[f.name for f in CONTAINER_PROFILE_TYPE]
    )


@F.pandas_udf(CONTAINER_PROFILE_TYPE)
def _container_profile_udf(p: pd.Series) -> pd.DataFrame:
    return container_profile_batch(p)


def audio_container_profile(payload: Column | str = "bytes") -> Column:
    """struct(container, ok, error, sample_rate, channels, n_samples,
    parsed_dur_ms) — the unified sniff-and-route profile, one Arrow
    hop. Persist the projected struct before deriving multiple gate
    columns (Catalyst project collapsing re-runs the UDF otherwise)."""
    return _container_profile_udf(
        F.col(payload) if isinstance(payload, str) else payload
    )


def container_meta_gates(
    p: Column,
    sr_hz: Column | str = "sr_hz",
    dur_ms: Column | str = "dur_ms",
    tol_ms: int = 50,
) -> Column:
    """struct(rate_ok, dur_ok, meta_ok) over an
    ``audio_container_profile`` struct — pure Column expressions,
    NULL-safe (structural failure fails every gate loudly; formats with
    no header rate — bare PCM — fall back to the COLUMN rate for the
    duration check, and their rate gate passes vacuously)."""
    sr = (F.col(sr_hz) if isinstance(sr_hz, str) else sr_hz).cast("long")
    dur = (F.col(dur_ms) if isinstance(dur_ms, str) else dur_ms).cast("long")
    ok = F.coalesce(p["ok"], F.lit(False))
    rate_ok = ok & F.coalesce(
        p["sample_rate"].isNull() | (p["sample_rate"].cast("long") == sr),
        F.lit(False),
    )
    parsed = F.coalesce(
        p["parsed_dur_ms"],
        # bare PCM: derive duration from the column rate
        F.floor(p["n_samples"] * F.lit(1000) / sr).cast("long"),
    )
    dur_ok = ok & F.coalesce(
        F.abs(parsed - dur) <= F.lit(tol_ms), F.lit(False)
    )
    return F.struct(
        rate_ok.alias("rate_ok"),
        dur_ok.alias("dur_ok"),
        (rate_ok & dur_ok).alias("meta_ok"),
    )


# --- codec-column vs payload-container agreement ---------------------------
# The codec COLUMN is metadata someone typed; the payload's magic bytes
# are ground truth. A lying label is the misrouted-upload signature:
# the segmentation router PRUNES by codec, archival transcode picks a
# target by codec, and a "flac" that is really an mp3 silently lands in
# the wrong branch. Acceptable containers per (lowercased) codec label —
# single source of truth shared by the Spark gate and ledger synthesis:
CODEC_ACCEPT: dict[str, tuple[str, ...]] = {
    # bare PCM labels legitimately arrive as WAV or headerless blobs
    "pcm_s16le": ("wav", "raw"),
    "wav": ("wav",),
    "wave": ("wav",),
    "pcm_u8": ("wav",),
    "pcm_s24le": ("wav",),
    # G.711 lives in both WAV (format 6/7) and Sun AU containers
    "g711_ulaw": ("wav", "au"),
    "g711_alaw": ("wav", "au"),
    "ulaw": ("wav", "au"),
    "alaw": ("wav", "au"),
    "adpcm_ima_wav": ("wav",),
    "adpcm_ms": ("wav",),
    # the legacy synthetic roster container also sniffs as FLAC family
    "flac": ("flac", "flac-synth"),
    "aiff": ("aiff",),
    "aifc": ("aiff",),
    "au": ("au",),
    "snd": ("au",),
    "mp3": ("mp3",),
    "mp2": ("mp3",),
    "mp1": ("mp3",),
    "mpeg": ("mp3",),
    "ogg": ("ogg",),
    "opus": ("ogg",),
    "vorbis": ("ogg",),
    "aac": ("adts", "mp4"),
    "adts": ("adts",),
    "mp4": ("mp4",),
    "m4a": ("mp4",),
    "webm": ("webm",),
    "mkv": ("webm",),
    "matroska": ("webm",),
}


def codec_matches_container(label: str | None, container: str | None) -> bool:
    """Python-side truth for the gate (ledger synthesis + tests): does
    the codec label name the container family the payload sniffs as?
    Unknown labels and NULLs certify nothing."""
    if label is None or container is None:
        return False
    return container in CODEC_ACCEPT.get(label.strip().lower(), ())


def codec_match_gate(
    p: Column, codec: Column | str = "codec"
) -> Column:
    """codec_ok — the codec COLUMN agrees with the payload's sniffed
    container (``audio_container_profile`` struct). Pure Column
    expression (a small when-chain over CODEC_ACCEPT), NULL-safe:
    a NULL codec, a NULL container (null payload) or an unknown label
    (e.g. "amr") cannot be certified and gates False."""
    c = F.lower(F.trim(F.col(codec) if isinstance(codec, str) else codec))
    gate = F.lit(False)
    # build the chain in reverse so the first dict entry is outermost
    for label, containers in reversed(CODEC_ACCEPT.items()):
        gate = F.when(c == F.lit(label),
                      p["container"].isin(*containers)).otherwise(gate)
    return F.coalesce(gate, F.lit(False))
