"""MP3 (MPEG audio) frame-header walk — metadata + integrity validation
WITHOUT a decoder, in pure Python/numpy (zero codec libs).

MP3 is the dominant compressed-audio format in web crawls, and a
validation engine must be able to certify MP3 uploads even where a full
decoder is unavailable: every structural property of the stream lives in
the 32-bit frame headers (ISO/IEC 11172-3 §2.4.1 / 13818-3), which chain
deterministically — frame length is pure arithmetic over (version,
layer, bitrate, sample rate, padding), so a walker that hops header to
header verifies the WHOLE container's integrity, recovers the true
frame count / duration / bitrate profile, and cross-checks the
encoder-declared Xing/Info/VBRI frame counts, all without touching a
single Huffman bit.

What the walker certifies per stream:
- header validity at every hop (sync, version/layer/bitrate/sample-rate
  indices, emphasis) — reserved values fail loudly;
- stream consistency (version/layer/sample rate constant across frames;
  bitrate free to vary = VBR);
- ID3v2 prefix (syncsafe size, footer flag) and ID3v1 trailer skipping;
- exact frame count and arithmetic duration n*spf*1000//sr;
- CRC-16 (poly 0x8005, init 0xFFFF, MSB-first — ISO 11172-3 §2.4.3.1)
  over the last two header bytes + Layer III side info when the
  protection bit is set (Layer I/II allocation-dependent coverage is
  parsed but not verified — documented honestly);
- Xing/Info (after side info) and VBRI (fixed offset 32) frame counts
  vs the walked count.

The synthesizer emits conforming streams (correct frame lengths, CRCs,
Xing/VBRI headers, ID3 wrappers) with deterministic seeded payloads —
MP3 payload bits are opaque to the walker, so a header-true stream with
pseudo-random payload is exactly as hard to walk as a real encode.

Scale shape: one Arrow hop (pandas UDF), a few hundred header reads per
clip, no Python per-sample work; the per-frame loop advances by frame
length, so cost is O(frames), independent of payload size per frame.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pyspark.sql.types as T

from jsonschema_spark.functions.walker import Walker

__all__ = [
    "frame_length",
    "samples_per_frame",
    "build_frame",
    "encode_mp3_stream",
    "parse_mp3_stream",
    "mp3_profile_batch",
    "audio_mp3_profile",
    "MP3_PROFILE_TYPE",
]

# ---- ISO 11172-3 / 13818-3 tables ------------------------------------------
# version ids (header bits 20-19): 0 = MPEG2.5, 1 = reserved, 2 = MPEG2,
# 3 = MPEG1. layer ids (bits 18-17): 0 = reserved, 1 = III, 2 = II, 3 = I.
_VERSION_NAME = {0: "2.5", 2: "2", 3: "1"}

_SR_TABLE = {
    3: (44100, 48000, 32000),   # MPEG1
    2: (22050, 24000, 16000),   # MPEG2
    0: (11025, 12000, 8000),    # MPEG2.5
}

# kbps rows by bitrate index 1..14 (0 = "free format", 15 = invalid)
_BR_V1_L1 = (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
_BR_V1_L2 = (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
_BR_V1_L3 = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_BR_V2_L1 = (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
_BR_V2_L23 = (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)


def _bitrate_row(version_id: int, layer: int) -> tuple[int, ...]:
    if version_id == 3:  # MPEG1
        return {1: _BR_V1_L1, 2: _BR_V1_L2, 3: _BR_V1_L3}[layer]
    return _BR_V2_L1 if layer == 1 else _BR_V2_L23


def samples_per_frame(version_id: int, layer: int) -> int:
    """Per ISO 11172-3 / 13818-3: Layer I 384; Layer II 1152; Layer III
    1152 for MPEG1, 576 for MPEG2/2.5 (LSF halves the granule count)."""
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version_id == 3 else 576


def frame_length(
    version_id: int, layer: int, bitrate_bps: int, sr_hz: int, padding: int
) -> int:
    """Frame size in bytes, the spec's integer arithmetic:
    Layer I: (12*br/sr + pad) * 4 (pad is one 4-byte SLOT);
    Layer II/III: spf/8 * br/sr + pad (pad is one byte) — i.e. 144*br/sr
    for 1152-sample frames, 72*br/sr for MPEG2/2.5 Layer III."""
    if layer == 1:
        return (12 * bitrate_bps // sr_hz + padding) * 4
    spf = samples_per_frame(version_id, layer)
    return spf // 8 * bitrate_bps // sr_hz + padding


def _side_info_len(version_id: int, mono: bool) -> int:
    """Layer III side-info bytes (ISO 11172-3 §2.4.1.7 / 13818-3):
    MPEG1 17 mono / 32 otherwise; MPEG2/2.5 9 mono / 17 otherwise."""
    if version_id == 3:
        return 17 if mono else 32
    return 9 if mono else 17


# ---- CRC-16 (poly 0x8005, init 0xFFFF, MSB-first, no reflect/xor) -----------
def _crc16_table() -> np.ndarray:
    t = np.zeros(256, dtype=np.uint32)
    for b in range(256):
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) if (c & 0x8000) else (c << 1)
            c &= 0xFFFF
        t[b] = c
    return t


_CRC16 = _crc16_table()


def crc16_mpeg(data: bytes, init: int = 0xFFFF) -> int:
    c = init
    for b in data:
        c = ((c << 8) & 0xFFFF) ^ int(_CRC16[((c >> 8) ^ b) & 0xFF])
    return c


# ---- synthesizer ------------------------------------------------------------
_MODE_BITS = {"stereo": 0, "joint": 1, "dual": 2, "mono": 3}
_MODE_NAME = {v: k for k, v in _MODE_BITS.items()}


def build_frame(
    version_id: int,
    layer: int,
    bitrate_kbps: int,
    sr_hz: int,
    mode: str = "mono",
    padding: int = 0,
    protected: bool = False,
    payload_fill: Optional[np.ndarray] = None,
    info_magic: Optional[bytes] = None,
    info_frames: Optional[int] = None,
) -> bytes:
    """One conforming frame. Payload bytes come from ``payload_fill``
    (values < 0x80, so no byte can start a false sync word) or zeros.
    ``info_magic``/``info_frames`` plant a Xing/Info VBR header at the
    spec position (after side info) with the frames-field flag set."""
    sr_row = _SR_TABLE[version_id]
    sr_idx = sr_row.index(sr_hz)
    br_row = _bitrate_row(version_id, layer)
    br_idx = br_row.index(bitrate_kbps) + 1
    layer_bits = {1: 3, 2: 2, 3: 1}[layer]
    h0 = 0xFF
    h1 = 0xE0 | (version_id << 3) | (layer_bits << 1) | (0 if protected else 1)
    h2 = (br_idx << 4) | (sr_idx << 2) | (padding << 1)
    h3 = _MODE_BITS[mode] << 6
    total = frame_length(version_id, layer, bitrate_kbps * 1000, sr_hz, padding)
    frame = bytearray(total)
    frame[0:4] = bytes((h0, h1, h2, h3))
    pos = 4
    side_len = _side_info_len(version_id, mode == "mono") if layer == 3 else 0
    crc_pos = None
    if protected:
        crc_pos = pos
        pos += 2
    side_start = pos
    pos += side_len
    if info_magic is not None:
        if layer != 3:
            raise ValueError("Xing/Info headers live in Layer III frames")
        frame[pos:pos + 4] = info_magic
        frame[pos + 4:pos + 8] = (1).to_bytes(4, "big")  # flags: frames
        frame[pos + 8:pos + 12] = int(info_frames).to_bytes(4, "big")
        pos += 12
    if payload_fill is not None:
        fill = np.asarray(payload_fill, dtype=np.uint8) & 0x7F
        take = min(total - pos, len(fill))
        frame[pos:pos + take] = fill[:take].tobytes()
    if protected:
        if layer == 3:
            covered = bytes(frame[2:4]) + bytes(
                frame[side_start:side_start + side_len]
            )
            crc = crc16_mpeg(covered)
        else:
            # Layer I/II CRC coverage depends on the allocation tables;
            # we emit a placeholder the walker parses but does not verify.
            crc = 0xBEEF
        frame[crc_pos:crc_pos + 2] = crc.to_bytes(2, "big")
    return bytes(frame)


def _id3v2(size: int, seed: int, footer: bool = False) -> bytes:
    """ID3v2.4 shell: 10-byte header, syncsafe size, seeded tag body
    (bytes < 0x80 — also what syncsafe framing guarantees in real tags)."""
    body = (np.arange(size, dtype=np.int64) * 1103515245 + seed) % 128
    ss = bytes(
        ((size >> s) & 0x7F) for s in (21, 14, 7, 0)
    )
    head = b"ID3" + bytes((4, 0, 0x10 if footer else 0)) + ss
    out = head + body.astype(np.uint8).tobytes()
    if footer:
        out += b"3DI" + bytes((4, 0, 0x10)) + ss
    return out


def _id3v1(seed: int) -> bytes:
    body = (np.arange(125, dtype=np.int64) * 2654435761 + seed) % 128
    return b"TAG" + body.astype(np.uint8).tobytes()


def encode_mp3_stream(
    n_frames: int,
    version_id: int = 3,
    layer: int = 3,
    sr_hz: int = 44100,
    mode: str = "stereo",
    bitrates_kbps: Iterable[int] = (128,),
    seed: int = 0,
    protected: bool = False,
    padding_pattern: Optional[Iterable[int]] = None,
    xing: Optional[str] = None,
    xing_frames: Optional[int] = None,
    vbri_frames: Optional[int] = None,
    id3v2_size: Optional[int] = None,
    id3v1: bool = False,
) -> bytes:
    """Deterministic conforming stream: ``n_frames`` audio frames cycling
    ``bitrates_kbps`` (len > 1 = VBR), optional leading Xing/Info or VBRI
    frame (counted in the stream's frame total, per the convention real
    encoders use), optional ID3v2 prefix / ID3v1 trailer."""
    brs = list(bitrates_kbps)
    pads = list(padding_pattern) if padding_pattern is not None else [0]
    rng_state = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)
    chunks: list[bytes] = []
    if id3v2_size is not None:
        chunks.append(_id3v2(id3v2_size, seed))
    total_declared = n_frames + (1 if (xing or vbri_frames is not None) else 0)
    if xing is not None:
        magic = {"xing": b"Xing", "info": b"Info"}[xing]
        chunks.append(
            build_frame(
                version_id, layer, brs[0], sr_hz, mode,
                protected=protected,
                info_magic=magic,
                info_frames=xing_frames if xing_frames is not None
                else total_declared,
            )
        )
    elif vbri_frames is not None:
        first = bytearray(
            build_frame(version_id, layer, brs[0], sr_hz, mode)
        )
        v = b"VBRI" + (1).to_bytes(2, "big") + (0).to_bytes(2, "big")
        v += (0).to_bytes(2, "big") + len(first).to_bytes(4, "big")
        v += int(vbri_frames).to_bytes(4, "big")
        first[4 + 32:4 + 32 + len(v)] = v
        chunks.append(bytes(first))
    for i in range(n_frames):
        br = brs[i % len(brs)]
        pad = pads[i % len(pads)]
        ln = frame_length(version_id, layer, br * 1000, sr_hz, pad)
        rng_state = (
            rng_state * 6364136223846793005 + 1442695040888963407
        ) % (1 << 64)
        fill = (
            (np.arange(ln, dtype=np.int64) * 2654435761) % (1 << 32)
            + (rng_state & 0xFFFFFFFF)
        ).astype(np.uint8)
        chunks.append(
            build_frame(
                version_id, layer, br, sr_hz, mode, pad,
                protected=protected, payload_fill=fill,
            )
        )
    if id3v1:
        chunks.append(_id3v1(seed))
    return b"".join(chunks)


# ---- walker -----------------------------------------------------------------
MP3 = Walker(
    "audio_mp3_profile",
    [
        ("version", T.StringType()),
        ("layer", T.IntegerType()),
        ("sr_hz", T.IntegerType()),
        ("mode", T.StringType()),
        ("n_frames", T.IntegerType()),
        ("parsed_dur_ms", T.IntegerType()),
        ("br_min_kbps", T.IntegerType()),
        ("br_max_kbps", T.IntegerType()),
        ("vbr", T.BooleanType()),
        ("info_frames", T.IntegerType()),
        ("info_ok", T.BooleanType()),
        ("has_id3v2", T.BooleanType()),
        ("crc_frames", T.IntegerType()),
    ],
    """struct(ok, error, version, layer, sr_hz, mode, n_frames,
    parsed_dur_ms, br_min_kbps, br_max_kbps, vbr, info_frames, info_ok,
    has_id3v2, crc_frames) — the frame-header walk, one Arrow hop.""",
)


@MP3.parser
def parse_mp3_stream(raw: bytes) -> dict:
    """Walk every frame header; certify the stream or fail loudly.

    Errors: no_sync, bad_header (reserved version/layer/bitrate-15/
    sr-index-3/emphasis-2), free_bitrate (frame length indeterminable
    without a decoder-grade resync scan — rejected, never guessed),
    inconsistent_stream, truncated, crc_mismatch, sync_lost (mid-stream
    OR tail garbage >= 4 bytes — indistinguishable to a walker),
    trailing_garbage (tail junk too short to hold a header; an ID3v1
    trailer is skipped, never junk)."""
    buf = bytes(raw)
    pos = 0
    has_id3v2 = False
    if buf[:3] == b"ID3":
        if len(buf) < 10:
            return MP3.fail("truncated")
        flags = buf[5]
        if any(b & 0x80 for b in buf[6:10]):
            return MP3.fail("bad_header")
        size = 0
        for b in buf[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size + (10 if flags & 0x10 else 0)
        has_id3v2 = True
        if pos > len(buf):
            return MP3.fail("truncated")
    end = len(buf)
    if end - pos >= 128 and buf[end - 128:end - 125] == b"TAG":
        end -= 128
    stream: Optional[tuple] = None  # (version_id, layer, sr_hz)
    mode_name = None
    n_frames = 0
    br_min = br_max = None
    info_frames = None
    crc_frames = 0
    first = True
    while pos < end:
        if end - pos < 4:
            # a tail too short to even hold a header can only be junk
            # (longer junk is indistinguishable from sync loss and is
            # reported as sync_lost / no_sync below)
            return MP3.fail("truncated" if first else "trailing_garbage")
        h0, h1, h2, h3 = buf[pos:pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            return MP3.fail("no_sync" if first else "sync_lost")
        version_id = (h1 >> 3) & 0x3
        layer_bits = (h1 >> 1) & 0x3
        if version_id == 1 or layer_bits == 0:
            return MP3.fail("bad_header")
        layer = {3: 1, 2: 2, 1: 3}[layer_bits]
        protected = not (h1 & 0x1)
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 0x1
        mode = (h3 >> 6) & 0x3
        emphasis = h3 & 0x3
        if br_idx == 15 or sr_idx == 3 or emphasis == 2:
            return MP3.fail("bad_header")
        if br_idx == 0:
            return MP3.fail("free_bitrate")
        sr_hz = _SR_TABLE[version_id][sr_idx]
        br_kbps = _bitrate_row(version_id, layer)[br_idx - 1]
        if stream is None:
            stream = (version_id, layer, sr_hz)
            mode_name = _MODE_NAME[mode]
        elif stream != (version_id, layer, sr_hz):
            return MP3.fail("inconsistent_stream")
        ln = frame_length(version_id, layer, br_kbps * 1000, sr_hz, padding)
        if pos + ln > end:
            return MP3.fail("truncated")
        if protected:
            if pos + 6 > end:
                return MP3.fail("truncated")
            if layer == 3:
                side_len = _side_info_len(version_id, mode == 3)
                covered = buf[pos + 2:pos + 4] + buf[
                    pos + 6:pos + 6 + side_len
                ]
                if crc16_mpeg(covered) != int.from_bytes(
                    buf[pos + 4:pos + 6], "big"
                ):
                    return MP3.fail("crc_mismatch")
                crc_frames += 1
        if first and layer == 3:
            side_len = _side_info_len(version_id, mode == 3)
            ip = pos + 4 + (2 if protected else 0) + side_len
            magic = buf[ip:ip + 4]
            if magic in (b"Xing", b"Info") and ip + 12 <= pos + ln:
                flags = int.from_bytes(buf[ip + 4:ip + 8], "big")
                if flags & 1:
                    info_frames = int.from_bytes(buf[ip + 8:ip + 12], "big")
            else:
                vp = pos + 4 + 32
                if buf[vp:vp + 4] == b"VBRI" and vp + 18 <= pos + ln:
                    info_frames = int.from_bytes(buf[vp + 14:vp + 18], "big")
        br_min = br_kbps if br_min is None else min(br_min, br_kbps)
        br_max = br_kbps if br_max is None else max(br_max, br_kbps)
        n_frames += 1
        pos += ln
        first = False
    if stream is None:
        return MP3.fail("no_sync")
    version_id, layer, sr_hz = stream
    spf = samples_per_frame(version_id, layer)
    return {
        "ok": True,
        "error": None,
        "version": _VERSION_NAME[version_id],
        "layer": layer,
        "sr_hz": sr_hz,
        "mode": mode_name,
        "n_frames": n_frames,
        "parsed_dur_ms": n_frames * spf * 1000 // sr_hz,
        "br_min_kbps": br_min,
        "br_max_kbps": br_max,
        "vbr": br_min != br_max,
        "info_frames": info_frames,
        "info_ok": None if info_frames is None else info_frames == n_frames,
        "has_id3v2": has_id3v2,
        "crc_frames": crc_frames,
    }


# ---- Spark surface ----------------------------------------------------------
MP3_PROFILE_TYPE = MP3.type
mp3_profile_batch = MP3.batch
audio_mp3_profile = MP3.column
