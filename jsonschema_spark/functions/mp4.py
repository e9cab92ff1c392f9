"""ISO-BMFF / MP4 STRUCTURAL validation (ISO/IEC 14496-12, public) —
the container that carries most real-web video (h264-in-mp4), giving
the `videos_*` family the box-level discipline tier beside the h264
Annex B walk:

- Box walk: 32-bit size / type, 64-bit largesize (size==1), to-EOF
  (size==0), exact tiling (a box overrunning its parent or the file is
  a torn upload), bounded recursion through the container boxes.
- ftyp-first discipline, exactly one moov, mdat presence.
- moov parse: mvhd timescale/duration (versions 0 and 1), per-trak
  tkhd (track id, visual dims), mdhd (media timescale/duration), hdlr
  (vide/soun), and the stbl sample tables:
    stsd  sample description — avc1 dims + the avcC decoder config
          whose embedded SPS is parsed by functions/h264.parse_sps
          (profile/level/dims cross-checked against the stsd entry);
          'sowt' 16-bit PCM audio entries (QTFF-style) for A/V files.
    stts  decode-time deltas -> total sample count
    stsz  per-sample sizes
    stsc  sample-to-chunk runs
    stco  chunk offsets (+ co64)
- Consistency gates: stts total == stsz count; every chunk offset in
  file bounds; declared mdat span covers the sample bytes.

No sample DECODE here — the h264 payload tier is the Annex B walk
(frame decode needs libavcodec; documented ceiling). Scale shape: one
Arrow hop per file, no shuffles.

Errors: null_payload (NULL payload), truncated, box_depth,
missing_ftyp, missing_moov, multiple_moov, missing_mdat, missing_mvhd,
missing_stbl, missing_avcc, bad_mvhd, bad_mdhd, bad_stsd (no entry, or
an entry overrunning the stsd body), bad_pcm_bits, bad_avcc,
avcc_sps_mismatch, truncated_stts, truncated_stsz, truncated_stco; the
fragment profile adds moof_without_mvex, moof_without_mdat and
truncated_trun.
"""

from __future__ import annotations

import struct
from typing import Optional

from pyspark.sql import types as T

from jsonschema_spark.functions.walker import Walker

_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"dinf",
    b"udta", b"mvex",
}


def walk_boxes(raw: bytes, pos: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end, header_size) or raise
    ValueError("truncated"/"bad_box")."""
    if depth > 8:
        raise ValueError("box_depth")
    while pos < end:
        if end - pos < 8:
            raise ValueError("truncated")
        (size,) = struct.unpack(">I", raw[pos : pos + 4])
        btype = raw[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if end - pos < 16:
                raise ValueError("truncated")
            (size,) = struct.unpack(">Q", raw[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("truncated")
        yield btype, pos + hdr, pos + size, hdr
        pos += size


def _find_boxes(raw: bytes, pos: int, end: int, depth: int = 0) -> list:
    return list(walk_boxes(raw, pos, end, depth))


def _parse_mvhd(raw: bytes, b0: int, b1: int) -> tuple[int, Optional[int]]:
    if b1 - b0 < 20:  # empty/short body must not escape as IndexError
        raise ValueError("bad_mvhd")
    ver = raw[b0]
    if ver == 1:
        if b1 - b0 < 32:
            raise ValueError("bad_mvhd")
        ts, dur = struct.unpack(">IQ", raw[b0 + 20 : b0 + 32])
        if dur == 0xFFFFFFFFFFFFFFFF:  # unknown-duration sentinel
            dur = None
    else:
        ts, dur = struct.unpack(">II", raw[b0 + 12 : b0 + 20])
        if dur == 0xFFFFFFFF:  # unknown-duration sentinel (live files)
            dur = None
    if ts == 0:
        raise ValueError("bad_mvhd")
    return ts, dur


def _parse_mdhd(raw: bytes, b0: int, b1: int) -> tuple[int, Optional[int]]:
    if b1 - b0 < 20:
        raise ValueError("bad_mdhd")
    ver = raw[b0]
    if ver == 1:
        # v1 layout mirrors mvhd: ver/flags(4) + creation(8) +
        # modification(8) => timescale at b0+20 (ISO 14496-12 §8.4.2;
        # the old b0+16 read the tail of modification_time as the
        # timescale on real version-1 files)
        if b1 - b0 < 32:
            raise ValueError("bad_mdhd")
        ts, dur = struct.unpack(">IQ", raw[b0 + 20 : b0 + 32])
        if dur == 0xFFFFFFFFFFFFFFFF:
            dur = None
    else:
        ts, dur = struct.unpack(">II", raw[b0 + 12 : b0 + 20])
        if dur == 0xFFFFFFFF:
            dur = None
    if ts == 0:
        raise ValueError("bad_mdhd")
    return ts, dur


def parse_avcc(cfg: bytes) -> dict:
    """AVCDecoderConfigurationRecord (ISO 14496-15): version, profile,
    level, and the embedded SPS parsed by the Annex B machinery."""
    from jsonschema_spark.functions.h264 import _ebsp_to_rbsp, parse_sps

    if len(cfg) < 7 or cfg[0] != 1:
        raise ValueError("bad_avcc")
    profile, _compat, level = cfg[1], cfg[2], cfg[3]
    n_sps = cfg[5] & 0x1F
    pos = 6
    sps_info = None
    for _ in range(n_sps):
        if pos + 2 > len(cfg):
            raise ValueError("bad_avcc")
        (ln,) = struct.unpack(">H", cfg[pos : pos + 2])
        pos += 2
        nal = cfg[pos : pos + ln]
        if len(nal) != ln or not nal:
            raise ValueError("bad_avcc")
        pos += ln
        if nal[0] & 0x1F == 7 and sps_info is None:
            rbsp, err = _ebsp_to_rbsp(nal[1:])
            if err:
                raise ValueError("bad_avcc")
            sps_info = parse_sps(rbsp)
    if pos >= len(cfg):
        raise ValueError("bad_avcc")
    n_pps = cfg[pos]
    pos += 1
    for _ in range(n_pps):
        if pos + 2 > len(cfg):
            raise ValueError("bad_avcc")
        (ln,) = struct.unpack(">H", cfg[pos : pos + 2])
        pos += 2 + ln
    if sps_info is None:
        raise ValueError("bad_avcc")
    if sps_info["profile_idc"] != profile or sps_info["level_idc"] != level:
        raise ValueError("avcc_sps_mismatch")
    return {"profile_idc": profile, "level_idc": level,
            "width": sps_info["width"], "height": sps_info["height"]}


def _parse_stbl(raw: bytes, b0: int, b1: int) -> dict:
    out: dict = {"codec": None, "width": None, "height": None,
                 "sr": None, "channels": None,
                 "n_samples_stts": None, "n_samples_stsz": None,
                 "chunk_offsets": [], "sample_bytes": None,
                 "avcc": None}
    for t, s0, s1, _h in walk_boxes(raw, b0, b1, 5):
        if t == b"stsd":
            count = struct.unpack(">I", raw[s0 + 4 : s0 + 8])[0]
            if count < 1:
                raise ValueError("bad_stsd")
            e0 = s0 + 8
            (esize,) = struct.unpack(">I", raw[e0 : e0 + 4])
            if e0 + esize > s1:  # entry overruns the stsd body
                raise ValueError("bad_stsd")
            fmt = raw[e0 + 4 : e0 + 8]
            out["codec"] = fmt.decode("latin1")
            if fmt == b"avc1":
                w, h = struct.unpack(">HH", raw[e0 + 32 : e0 + 36])
                out["width"], out["height"] = w, h
                # trailing sub-boxes after the 78-byte visual entry
                for t2, v0, v1, _ in walk_boxes(raw, e0 + 86, e0 + esize, 6):
                    if t2 == b"avcC":
                        out["avcc"] = parse_avcc(raw[v0:v1])
            elif fmt in (b"sowt", b"twos"):
                ch, bits = struct.unpack(">HH", raw[e0 + 24 : e0 + 28])
                sr_fixed = struct.unpack(">I", raw[e0 + 32 : e0 + 36])[0]
                out["channels"] = ch
                out["sr"] = sr_fixed >> 16
                if bits != 16:
                    raise ValueError("bad_pcm_bits")
        elif t == b"stts":
            n = struct.unpack(">I", raw[s0 + 4 : s0 + 8])[0]
            if s1 - s0 - 8 < 8 * n:
                raise ValueError("truncated_stts")
            total = 0
            for k in range(n):
                cnt, _delta = struct.unpack(
                    ">II", raw[s0 + 8 + 8 * k : s0 + 16 + 8 * k]
                )
                total += cnt
            out["n_samples_stts"] = total
        elif t == b"stsz":
            fixed, n = struct.unpack(">II", raw[s0 + 4 : s0 + 12])
            out["n_samples_stsz"] = n
            if fixed:
                out["sample_bytes"] = fixed * n
            else:
                if s1 - s0 - 12 < 4 * n:
                    raise ValueError("truncated_stsz")
                import numpy as np

                sizes = np.frombuffer(
                    raw[s0 + 12 : s0 + 12 + 4 * n], dtype=">u4"
                )
                out["sample_bytes"] = int(sizes.sum())
        elif t == b"stco":
            n = struct.unpack(">I", raw[s0 + 4 : s0 + 8])[0]
            if s1 - s0 - 8 < 4 * n:
                raise ValueError("truncated_stco")
            out["chunk_offsets"] = [
                struct.unpack(">I", raw[s0 + 8 + 4 * k : s0 + 12 + 4 * k])[0]
                for k in range(n)
            ]
        elif t == b"co64":
            n = struct.unpack(">I", raw[s0 + 4 : s0 + 8])[0]
            out["chunk_offsets"] = [
                struct.unpack(">Q", raw[s0 + 8 + 8 * k : s0 + 16 + 8 * k])[0]
                for k in range(n)
            ]
    return out


MP4 = Walker(
    "video_mp4_profile",
    [
        ("major_brand", T.StringType()),
        ("n_tracks", T.IntegerType()),
        ("video_codec", T.StringType()),
        ("width", T.IntegerType()),
        ("height", T.IntegerType()),
        ("video_samples", T.IntegerType()),
        ("profile_idc", T.IntegerType()),
        ("audio_codec", T.StringType()),
        ("sample_rate", T.IntegerType()),
        ("channels", T.IntegerType()),
        ("audio_samples", T.IntegerType()),
        ("duration_ms", T.LongType()),
        ("tables_consistent", T.BooleanType()),
    ],
    """struct(ok, error, major_brand, n_tracks, video/audio metadata,
    duration_ms, tables_consistent): ISO-BMFF box discipline + sample-
    table cross-checks per file, one Arrow hop.""",
)
MP4_PROFILE_FIELDS = MP4.fields


@MP4.parser
def parse_mp4(raw: bytes) -> dict:
    raw = bytes(raw)
    try:
        top = _find_boxes(raw, 0, len(raw))
    except ValueError as e:
        return MP4.fail(str(e))
    if not top or top[0][0] != b"ftyp":
        return MP4.fail("missing_ftyp")
    brand = raw[top[0][1] : top[0][1] + 4].decode("latin1")
    moovs = [b for b in top if b[0] == b"moov"]
    mdats = [(b[1], b[2]) for b in top if b[0] == b"mdat"]
    if len(moovs) != 1:
        return MP4.fail("missing_moov" if not moovs else "multiple_moov")
    if not mdats:
        return MP4.fail("missing_mdat")
    m0, m1, _ = moovs[0][1], moovs[0][2], moovs[0][3]
    try:
        mv_ts = mv_dur = None
        tracks = []
        for t, b0, b1, _h in walk_boxes(raw, m0, m1, 1):
            if t == b"mvhd":
                mv_ts, mv_dur = _parse_mvhd(raw, b0, b1)
            elif t == b"trak":
                handler = None
                md_ts = md_dur = None
                stbl = None
                for t2, c0, c1, _ in walk_boxes(raw, b0, b1, 2):
                    if t2 == b"mdia":
                        for t3, d0, d1, _ in walk_boxes(raw, c0, c1, 3):
                            if t3 == b"mdhd":
                                md_ts, md_dur = _parse_mdhd(raw, d0, d1)
                            elif t3 == b"hdlr":
                                handler = raw[d0 + 8 : d0 + 12]
                            elif t3 == b"minf":
                                for t4, e0, e1, _ in walk_boxes(
                                    raw, d0, d1, 4
                                ):
                                    if t4 == b"stbl":
                                        stbl = _parse_stbl(raw, e0, e1)
                tracks.append((handler, md_ts, md_dur, stbl))
    except ValueError as e:
        return MP4.fail(str(e))
    if mv_ts is None:
        return MP4.fail("missing_mvhd")
    out = {k: None for k in MP4_PROFILE_FIELDS}
    out["ok"] = True
    out["error"] = None
    out["major_brand"] = brand
    out["n_tracks"] = len(tracks)
    # mv_dur None = the all-ones unknown-duration sentinel (live /
    # still-recording files): report NULL, not an astronomical number
    out["duration_ms"] = None if mv_dur is None else mv_dur * 1000 // mv_ts
    consistent = True
    for handler, md_ts, md_dur, stbl in tracks:
        if stbl is None or handler is None:
            return MP4.fail("missing_stbl")
        if stbl["n_samples_stts"] != stbl["n_samples_stsz"]:
            consistent = False
        for off in stbl["chunk_offsets"]:
            in_mdat = any(s0 <= off < s1 for (s0, s1) in mdats)
            if not in_mdat:
                consistent = False
        if handler == b"vide":
            out["video_codec"] = stbl["codec"]
            out["width"] = stbl["width"]
            out["height"] = stbl["height"]
            out["video_samples"] = stbl["n_samples_stsz"]
            if stbl["avcc"] is not None:
                out["profile_idc"] = stbl["avcc"]["profile_idc"]
                if (
                    stbl["avcc"]["width"] != stbl["width"]
                    or stbl["avcc"]["height"] != stbl["height"]
                ):
                    consistent = False
            elif stbl["codec"] == "avc1":
                return MP4.fail("missing_avcc")
        elif handler == b"soun":
            out["audio_codec"] = stbl["codec"]
            out["sample_rate"] = stbl["sr"]
            out["channels"] = stbl["channels"]
            out["audio_samples"] = stbl["n_samples_stsz"]
    out["tables_consistent"] = consistent
    return out


mp4_profile_batch = MP4.batch
video_mp4_profile = MP4.column


# ---- minimal conforming writer (ledger corpora + tests) ---------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + body)


def _stbl_video(n_samples: int, sizes: list[int], offsets: list[int],
                avcc: bytes, w: int, h: int, delta: int) -> bytes:
    entry = (
        struct.pack(">I", 86 + len(avcc) + 8)[0:4]
        + b"avc1"
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data ref index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame count
        + b"\x00" * 32  # compressor name
        + struct.pack(">H", 0x18)  # depth
        + struct.pack(">h", -1)
        + _box(b"avcC", avcc)
    )
    entry = struct.pack(">I", len(entry)) + entry[4:]
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0,
                 struct.pack(">III", 1, n_samples, delta))
    stsz = _full(b"stsz", 0, 0,
                 struct.pack(">II", 0, n_samples)
                 + b"".join(struct.pack(">I", s) for s in sizes))
    stsc = _full(b"stsc", 0, 0,
                 struct.pack(">IIII", 1, 1, n_samples, 1))
    stco = _full(b"stco", 0, 0,
                 struct.pack(">I", len(offsets))
                 + b"".join(struct.pack(">I", o) for o in offsets))
    return _box(b"stbl", stsd + stts + stsz + stsc + stco)


def _stbl_audio(n_samples: int, sr: int, ch: int, offset: int) -> bytes:
    entry = (
        b"\x00" * 4
        + b"sowt"
        + b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 8
        + struct.pack(">HH", ch, 16)
        + struct.pack(">HH", 0, 0)
        + struct.pack(">I", sr << 16)
    )
    entry = struct.pack(">I", len(entry)) + entry[4:]
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n_samples, 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 2 * ch, n_samples))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_samples, 1))
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, offset))
    return _box(b"stbl", stsd + stts + stsz + stsc + stco)


def _trak(handler: bytes, track_id: int, stbl: bytes, timescale: int,
          duration: int, w: int = 0, h: int = 0) -> bytes:
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">II", 0, 0) + struct.pack(">I", track_id)
        + b"\x00" * 4 + struct.pack(">I", duration) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(b"mdhd", 0, 0,
                 struct.pack(">II", 0, 0)
                 + struct.pack(">II", timescale, duration)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0,
                 b"\x00" * 4 + handler + b"\x00" * 12 + b"jss\x00")
    dinf = _box(b"dinf", _full(b"dref", 0, 0,
                               struct.pack(">I", 1)
                               + _full(b"url ", 0, 1, b"")))
    minf = _box(b"minf", dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def encode_mp4_h264(
    n_frames: int,
    width_mbs: int = 4,
    height_mbs: int = 3,
    profile_idc: int = 66,
    fps: int = 25,
    audio_samples: int = 0,
    audio_sr: int = 16000,
    seed: int = 0,
) -> bytes:
    """Minimal conforming MP4: ftyp + mdat (h264 slice payloads from the
    Annex B writers, length-prefixed per 14496-15) + moov with a full
    video stbl (avc1/avcC embedding the real SPS/PPS) and an optional
    'sowt' PCM audio track."""
    from jsonschema_spark.functions.h264 import (
        build_pps,
        build_slice_nal,
        build_sps,
    )

    sps_nal_annexb = build_sps(profile_idc, 30, width_mbs, height_mbs)
    pps_rbsp = build_pps()
    from jsonschema_spark.functions.h264 import _rbsp_to_ebsp

    sps_nal = bytes((0x67,)) + _rbsp_to_ebsp(sps_nal_annexb)
    pps_nal = bytes((0x68,)) + _rbsp_to_ebsp(pps_rbsp)
    avcc = (
        bytes((1, profile_idc, 0, 30, 0xFF, 0xE1))
        + struct.pack(">H", len(sps_nal)) + sps_nal
        + bytes((1,))
        + struct.pack(">H", len(pps_nal)) + pps_nal
    )
    samples = []
    for f in range(n_frames):
        nal = build_slice_nal(f == 0, f, 0, 30 + (seed + f) % 17, seed + f)
        body = nal[4:]  # strip the Annex B start code
        samples.append(struct.pack(">I", len(body)) + body)
    audio_bytes = b""
    if audio_samples:
        import numpy as np

        pcm = ((np.arange(audio_samples, dtype=np.int64) * 2654435761
                + seed) % 4096 - 2048).astype("<i2")
        audio_bytes = pcm.tobytes()
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
                + b"isomavc1")
    mdat_body = b"".join(samples) + audio_bytes
    mdat = _box(b"mdat", mdat_body)
    mdat_pos = len(ftyp)
    offsets = []
    off = mdat_pos + 8
    for s in samples:
        offsets.append(off)
        off += len(s)
    audio_off = off
    w, h = width_mbs * 16, height_mbs * 16
    stbl_v = _stbl_video(n_frames, [len(s) for s in samples], offsets,
                         avcc, w, h, 1)
    traks = _trak(b"vide", 1, stbl_v, fps, n_frames, w, h)
    if audio_samples:
        stbl_a = _stbl_audio(audio_samples, audio_sr, 1, audio_off)
        traks += _trak(b"soun", 2, stbl_a, audio_sr, audio_samples)
    mvhd = _full(b"mvhd", 0, 0,
                 struct.pack(">II", 0, 0)
                 + struct.pack(">II", fps, n_frames)
                 + struct.pack(">I", 0x00010000)
                 + struct.pack(">H", 0x0100) + b"\x00" * 10
                 + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24
                 + struct.pack(">I", 3))
    moov = _box(b"moov", mvhd + traks)
    return ftyp + mdat + moov


# ---- fragmented MP4 (fMP4 / DASH / CMAF, ISO 14496-12 §8.8) -----------------
# Real crawls carry moof-fragmented streams (DASH segments, CMAF
# chunks): an init portion (ftyp + moov with an mvex/trex) followed by
# movie fragments (moof with mfhd sequence numbers and traf/tfhd/trun
# sample runs) and their mdat boxes. The fragmented profile walks that
# layout, sums trun sample counts per track, and enforces:
# - mvex/trex presence when moof boxes exist (an init segment that
#   never declared fragmenting is a broken mux);
# - mfhd sequence numbers strictly increasing from 1;
# - every traf's tfhd track id declared in moov;
# - each moof followed by the mdat its data-offsets point into.


def _parse_trun(raw: bytes, b0: int, b1: int) -> int:
    flags = struct.unpack(">I", raw[b0 : b0 + 4])[0] & 0xFFFFFF
    count = struct.unpack(">I", raw[b0 + 4 : b0 + 8])[0]
    # per-sample field sizes depend on flags; we only need the count,
    # but validate the box is large enough to HOLD the declared rows
    per = 0
    for bit in (0x100, 0x200, 0x400, 0x800):
        if flags & bit:
            per += 4
    head = 8
    if flags & 0x1:
        head += 4  # data_offset
    if flags & 0x4:
        head += 4  # first_sample_flags
    if b1 - b0 < head + per * count:
        raise ValueError("truncated_trun")
    return count


MP4_FRAG = Walker(
    "video_mp4_fragment_profile",
    [
        ("fragmented", T.BooleanType()),
        ("n_fragments", T.IntegerType()),
        ("frag_samples", T.IntegerType()),
        ("seq_ok", T.BooleanType()),
        ("frag_tracks_ok", T.BooleanType()),
    ],
    """struct(ok, error, fragmented, n_fragments, frag_samples, seq_ok,
    frag_tracks_ok): fMP4/DASH fragment-layer discipline, one Arrow
    hop.""",
)
MP4_FRAG_FIELDS = MP4_FRAG.fields


@MP4_FRAG.parser
def parse_mp4_fragments(raw: bytes) -> dict:
    """Fragment-layer profile (complements :func:`parse_mp4`, which
    reads the moov sample tables — empty in an fMP4 init segment)."""
    raw = bytes(raw)
    try:
        top = _find_boxes(raw, 0, len(raw))
    except ValueError as e:
        return MP4_FRAG.fail(str(e))
    if not top or top[0][0] != b"ftyp":
        return MP4_FRAG.fail("missing_ftyp")
    moovs = [b for b in top if b[0] == b"moov"]
    if len(moovs) != 1:
        return MP4_FRAG.fail("missing_moov" if not moovs else "multiple_moov")
    moofs = [b for b in top if b[0] == b"moof"]
    # declared track ids + mvex presence from moov
    track_ids = set()
    has_mvex = False
    try:
        for t, b0, b1, _h in walk_boxes(raw, moovs[0][1], moovs[0][2], 1):
            if t == b"mvex":
                has_mvex = True
            elif t == b"trak":
                for t2, c0, c1, _ in walk_boxes(raw, b0, b1, 2):
                    if t2 == b"tkhd":
                        track_ids.add(
                            struct.unpack(">I", raw[c0 + 12 : c0 + 16])[0]
                        )
    except ValueError as e:
        return MP4_FRAG.fail(str(e))
    if not moofs:
        return {
            "ok": True, "error": None, "fragmented": False,
            "n_fragments": 0, "frag_samples": 0, "seq_ok": True,
            "frag_tracks_ok": True,
        }
    if not has_mvex:
        return MP4_FRAG.fail("moof_without_mvex")
    seq_ok = True
    tracks_ok = True
    total = 0
    expected_seq = 1
    try:
        for _mt, m0, m1, _h in ((b[0], b[1], b[2], b[3]) for b in moofs):
            for t, b0, b1, _h2 in walk_boxes(raw, m0, m1, 1):
                if t == b"mfhd":
                    seq = struct.unpack(">I", raw[b0 + 4 : b0 + 8])[0]
                    if seq != expected_seq:
                        seq_ok = False
                    expected_seq += 1
                elif t == b"traf":
                    for t2, c0, c1, _ in walk_boxes(raw, b0, b1, 2):
                        if t2 == b"tfhd":
                            tid = struct.unpack(
                                ">I", raw[c0 + 4 : c0 + 8]
                            )[0]
                            if tid not in track_ids:
                                tracks_ok = False
                        elif t2 == b"trun":
                            total += _parse_trun(raw, c0, c1)
    except ValueError as e:
        return MP4_FRAG.fail(str(e))
    # each moof must be directly followed by an mdat sibling
    kinds = [b[0] for b in top]
    for i, k in enumerate(kinds):
        if k == b"moof" and (i + 1 >= len(kinds) or kinds[i + 1] != b"mdat"):
            return MP4_FRAG.fail("moof_without_mdat")
    return {
        "ok": True, "error": None, "fragmented": True,
        "n_fragments": len(moofs), "frag_samples": total,
        "seq_ok": seq_ok, "frag_tracks_ok": tracks_ok,
    }


mp4_fragment_batch = MP4_FRAG.batch
video_mp4_fragment_profile = MP4_FRAG.column


def encode_mp4_fragmented(
    n_fragments: int,
    samples_per_fragment: int = 8,
    width_mbs: int = 4,
    height_mbs: int = 3,
    seed: int = 0,
    break_seq: bool = False,
    stray_track: bool = False,
) -> bytes:
    """Minimal conforming fMP4: init segment (ftyp + moov with EMPTY
    sample tables and an mvex/trex) + n_fragments x (moof + mdat)."""
    from jsonschema_spark.functions.h264 import (
        _rbsp_to_ebsp,
        build_pps,
        build_sps,
    )

    sps_nal = bytes((0x67,)) + _rbsp_to_ebsp(
        build_sps(66, 30, width_mbs, height_mbs)
    )
    pps_nal = bytes((0x68,)) + _rbsp_to_ebsp(build_pps())
    avcc = (
        bytes((1, 66, 0, 30, 0xFF, 0xE1))
        + struct.pack(">H", len(sps_nal)) + sps_nal
        + bytes((1,))
        + struct.pack(">H", len(pps_nal)) + pps_nal
    )
    w, h = width_mbs * 16, height_mbs * 16
    stbl_v = _stbl_video(0, [], [], avcc, w, h, 1)
    trak = _trak(b"vide", 1, stbl_v, 25, 0, w, h)
    trex = _full(b"trex", 0, 0,
                 struct.pack(">IIIII", 1, 1, 1, 100, 0))
    mvex = _box(b"mvex", trex)
    mvhd = _full(b"mvhd", 0, 0,
                 struct.pack(">II", 0, 0) + struct.pack(">II", 25, 0)
                 + struct.pack(">I", 0x00010000)
                 + struct.pack(">H", 0x0100) + b"\x00" * 10
                 + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24 + struct.pack(">I", 2))
    out = [
        _box(b"ftyp", b"iso5" + struct.pack(">I", 512) + b"iso5cmfc"),
        _box(b"moov", mvhd + trak + mvex),
    ]
    for f in range(n_fragments):
        samples = [
            bytes(((j * 31 + seed + f * 7 + k) % 251)
                  for j in range(20 + (seed + k) % 9))
            for k in range(samples_per_fragment)
        ]
        sizes = b"".join(struct.pack(">I", len(s)) for s in samples)
        mfhd = _full(b"mfhd", 0, 0,
                     struct.pack(">I", (f + 2 if break_seq and f == 1
                                        else f + 1)))
        tfhd = _full(b"tfhd", 0, 0x020000,  # default-base-is-moof
                     struct.pack(">I", 3 if stray_track and f == 0 else 1))
        # trun: data_offset + sample sizes present
        trun = _full(b"trun", 0, 0x000201,
                     struct.pack(">I", samples_per_fragment)
                     + struct.pack(">i", 0)  # patched below
                     + sizes)
        traf = _box(b"traf", tfhd + trun)
        moof = _box(b"moof", mfhd + traf)
        # patch trun data_offset: moof start -> first sample byte
        off = len(moof) + 8
        moof = bytearray(moof)
        k = bytes(moof).index(b"trun")
        moof[k + 12 : k + 16] = struct.pack(">i", off)
        out.append(bytes(moof))
        out.append(_box(b"mdat", b"".join(samples)))
    return b"".join(out)
