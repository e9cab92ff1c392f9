"""Ogg container walk (RFC 3533) with Opus (RFC 7845) and Vorbis ident
parsing — page-level integrity + stream metadata WITHOUT an audio
decoder, in pure Python/numpy (zero codec libs).

Ogg is the other dominant compressed-audio container in web crawls
(Opus voice, Vorbis legacy). Every structural property lives in the
page layer: capture pattern, page-sequence continuity, packet lacing,
the per-page CRC-32 (poly 0x04C11DB7, init 0, MSB-first, no final XOR,
computed with the CRC field zeroed), and the codec identification
packet on the BOS page (OpusHead channel count / pre-skip / input rate;
Vorbis ident channels / rate). The walker certifies all of it and
recovers the exact duration from the last granule position (Opus:
48 kHz granules minus pre-skip; Vorbis: granules at the stream rate).

Scale shape: header walking is O(pages) Python; CRC verification — the
only O(bytes) work — runs as a BATCHED numpy kernel that advances one
byte column across ALL pages of an Arrow batch simultaneously (the same
whole-matrix trick the loudness IIR uses), so per-byte Python cost is
amortized over thousands of pages.

Errors (fail loudly, never guess): no_capture, bad_version, truncated,
crc_mismatch, seq_gap, bad_flags (BOS after start / data before BOS /
continuation without a pending packet or vice versa), multiplexed
(multiple serials — single-stream walker by design, documented),
bad_ident (unparseable first packet), trailing_garbage.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

import numpy as np
import pyspark.sql.types as T

from jsonschema_spark.functions.walker import Walker

__all__ = [
    "ogg_crc_pages",
    "build_page",
    "encode_ogg_opus",
    "encode_ogg_vorbis",
    "verified_pages",
    "parse_ogg_stream",
    "ogg_profile_batch",
    "audio_ogg_profile",
    "OGG_PROFILE_TYPE",
]


def _crc_table() -> np.ndarray:
    t = np.zeros(256, dtype=np.uint32)
    for b in range(256):
        c = b << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) if (c & 0x80000000) else (c << 1)
            c &= 0xFFFFFFFF
        t[b] = c
    return t


_OGG_CRC = _crc_table()


# bit-reversal LUT: the bridge between Ogg's UNREFLECTED CRC and
# zlib's reflected C implementation (see ogg_crc_pages)
_BITREV8 = np.array(
    [int(f"{b:08b}"[::-1], 2) for b in range(256)], dtype=np.uint8
)


def _rev32(v: np.ndarray) -> np.ndarray:
    """Vectorized 32-bit bit reversal (uint32 in, uint32 out)."""
    v = ((v >> np.uint32(1)) & np.uint32(0x55555555)) | (
        (v & np.uint32(0x55555555)) << np.uint32(1)
    )
    v = ((v >> np.uint32(2)) & np.uint32(0x33333333)) | (
        (v & np.uint32(0x33333333)) << np.uint32(2)
    )
    v = ((v >> np.uint32(4)) & np.uint32(0x0F0F0F0F)) | (
        (v & np.uint32(0x0F0F0F0F)) << np.uint32(4)
    )
    v = ((v >> np.uint32(8)) & np.uint32(0x00FF00FF)) | (
        (v & np.uint32(0x00FF00FF)) << np.uint32(8)
    )
    return (v >> np.uint32(16)) | (v << np.uint32(16))


def ogg_crc_pages(pages: Sequence[bytes]) -> np.ndarray:
    """CRC-32 of each page (RFC 3533 parameterization: poly 0x04C11DB7,
    init 0, UNREFLECTED, no xorout). Pages must already have their CRC
    field zeroed.

    Round-5 kernel: routed through zlib's C CRC via the reflection
    identity crc_unreflected(P, m) = rev32(crc_reflected(rev(P),
    revbits(m))) — zlib.crc32 implements the reflected polynomial
    0xEDB88320 = rev(0x04C11DB7) with init/xorout 0xFFFFFFFF, so the
    raw reflected update with init 0 is zlib.crc32(m, 0xFFFFFFFF) ^
    0xFFFFFFFF. Per page: one numpy bit-reversal pass + one C crc32
    call. Measured 109x over the previous per-byte-COLUMN matrix
    kernel (whose step count scaled with the LONGEST page, ~0.09 s per
    batch regardless of page count) — bit-identical on random pages
    (pinned by test_ogg_crc_kernel_identity)."""
    import zlib

    n = len(pages)
    if n == 0:
        return np.zeros(0, dtype=np.uint32)
    raws = np.empty(n, dtype=np.uint32)
    for i, p in enumerate(pages):
        rb = _BITREV8[np.frombuffer(p, dtype=np.uint8)].tobytes()
        raws[i] = zlib.crc32(rb, 0xFFFFFFFF) ^ 0xFFFFFFFF
    return _rev32(raws)


def _lacing(packets: Sequence[bytes], open_ended: bool = False) -> bytes:
    """Segment table for ``packets``; ``open_ended`` leaves the LAST
    packet unterminated (its tail lacing value is 255 — it continues on
    the next page)."""
    segs: list[int] = []
    for k, p in enumerate(packets):
        q, r = divmod(len(p), 255)
        segs.extend([255] * q)
        if not (open_ended and k == len(packets) - 1):
            segs.append(r)
        elif r != 0:
            raise ValueError("open-ended packet chunk must be 255-aligned")
    if len(segs) > 255:
        raise ValueError("too many lacing values for one page")
    return bytes(segs)


def build_page(
    serial: int,
    seq: int,
    granule: int,
    packets: Sequence[bytes],
    cont: bool = False,
    bos: bool = False,
    eos: bool = False,
    open_ended: bool = False,
    corrupt_crc: bool = False,
) -> bytes:
    """One conforming Ogg page (CRC written per RFC 3533 §6)."""
    segs = _lacing(packets, open_ended)
    flags = (1 if cont else 0) | (2 if bos else 0) | (4 if eos else 0)
    head = (
        b"OggS"
        + bytes((0, flags))
        + int(granule).to_bytes(8, "little", signed=True)
        + int(serial).to_bytes(4, "little")
        + int(seq).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + bytes((len(segs),))
        + segs
    )
    body = b"".join(packets)
    crc = int(ogg_crc_pages([head + body])[0])
    if corrupt_crc:
        crc ^= 0x00010000
    return head[:22] + crc.to_bytes(4, "little") + head[26:] + body


def _opus_head(channels: int, pre_skip: int, input_sr: int) -> bytes:
    return (
        b"OpusHead"
        + bytes((1, channels))
        + int(pre_skip).to_bytes(2, "little")
        + int(input_sr).to_bytes(4, "little")
        + b"\x00\x00"  # output gain
        + b"\x00"      # mapping family 0
    )


def _vorbis_ident(channels: int, rate: int) -> bytes:
    return (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")
        + bytes((channels,))
        + int(rate).to_bytes(4, "little")
        + (0).to_bytes(4, "little", signed=True) * 3  # bitrates
        + bytes((0xB8,))  # blocksizes 2^8 / 2^11
        + bytes((1,))     # framing bit
    )


def opus_head_packet(
    channels: int = 1, pre_skip: int = 312, input_sr: int = 16000
) -> bytes:
    """Public helper for corpus/tests assembling page sets manually."""
    return _opus_head(channels, pre_skip, input_sr)


def opus_tags_packet() -> bytes:
    return (
        b"OpusTags" + (5).to_bytes(4, "little") + b"jss-1"
        + (0).to_bytes(4, "little")
    )


def _fill(n: int, seed: int) -> bytes:
    v = (np.arange(n, dtype=np.int64) * 1103515245 + seed) % 251
    return v.astype(np.uint8).tobytes()


def encode_ogg_opus(
    n_audio_packets: int,
    channels: int = 1,
    pre_skip: int = 312,
    input_sr: int = 16000,
    serial: int = 0x1234,
    packet_bytes: int = 400,
    packets_per_page: int = 3,
    samples_per_packet: int = 960,  # 20 ms at the 48 kHz granule clock
    seed: int = 0,
) -> bytes:
    """Deterministic conforming Ogg-Opus stream: BOS page carrying
    OpusHead, an OpusTags page, then audio pages with opaque seeded
    packets and granule positions advancing on the 48 kHz clock."""
    pages = [
        build_page(serial, 0, 0, [_opus_head(channels, pre_skip, input_sr)],
                   bos=True)
    ]
    pages.append(build_page(serial, 1, 0, [opus_tags_packet()]))
    seq = 2
    done = 0
    # RFC 7845 §4.1: the granule position counts ALL decoded samples
    # from 0 — INCLUDING the pre-skip region (playback subtracts
    # pre_skip; it is never added to the granule). Starting the
    # accumulator at pre_skip (the rounds-1..3 convention) over-counts
    # every granule by pre_skip vs real opusenc output.
    granule = 0
    while done < n_audio_packets:
        k = min(packets_per_page, n_audio_packets - done)
        pk = [
            _fill(packet_bytes + ((seed + done + j) % 37), seed + done + j)
            for j in range(k)
        ]
        done += k
        granule += k * samples_per_packet
        pages.append(
            build_page(
                serial, seq, granule, pk, eos=(done == n_audio_packets)
            )
        )
        seq += 1
    return b"".join(pages)


def encode_ogg_vorbis(
    n_audio_packets: int,
    channels: int = 2,
    rate: int = 44100,
    serial: int = 0x77,
    packet_bytes: int = 300,
    packets_per_page: int = 4,
    samples_per_packet: int = 1024,
    seed: int = 0,
) -> bytes:
    """Deterministic Ogg-Vorbis shell: ident on the BOS page, comment +
    setup packets on page 1, opaque seeded audio packets after."""
    pages = [
        build_page(serial, 0, 0, [_vorbis_ident(channels, rate)], bos=True)
    ]
    comment = b"\x03vorbis" + (0).to_bytes(4, "little") \
        + (0).to_bytes(4, "little") + bytes((1,))
    setup = b"\x05vorbis" + _fill(64, seed ^ 0x5E)
    pages.append(build_page(serial, 1, 0, [comment, setup]))
    seq = 2
    done = 0
    granule = 0
    while done < n_audio_packets:
        k = min(packets_per_page, n_audio_packets - done)
        pk = [
            _fill(packet_bytes + ((seed + done + j) % 29), seed + done + j)
            for j in range(k)
        ]
        done += k
        granule += k * samples_per_packet
        pages.append(
            build_page(
                serial, seq, granule, pk, eos=(done == n_audio_packets)
            )
        )
        seq += 1
    return b"".join(pages)


# ---- walker -----------------------------------------------------------------
def _scan_pages(raw: bytes) -> list[tuple] | str:
    """Structural page scan: returns [(flags, granule, serial, seq,
    lacing, body, crc_stored, zeroed_page), ...] or an error string."""
    out = []
    pos = 0
    end = len(raw)
    while pos < end:
        if end - pos < 27:
            return "truncated" if out else "no_capture"
        if raw[pos:pos + 4] != b"OggS":
            return "trailing_garbage" if out else "no_capture"
        if raw[pos + 4] != 0:
            return "bad_version"
        flags = raw[pos + 5]
        granule = int.from_bytes(raw[pos + 6:pos + 14], "little", signed=True)
        serial = int.from_bytes(raw[pos + 14:pos + 18], "little")
        seq = int.from_bytes(raw[pos + 18:pos + 22], "little")
        crc_stored = int.from_bytes(raw[pos + 22:pos + 26], "little")
        n_segs = raw[pos + 26]
        if end - pos < 27 + n_segs:
            return "truncated"
        lacing = raw[pos + 27:pos + 27 + n_segs]
        body_len = sum(lacing)
        total = 27 + n_segs + body_len
        if end - pos < total:
            return "truncated"
        page = bytearray(raw[pos:pos + total])
        page[22:26] = b"\x00\x00\x00\x00"
        out.append(
            (flags, granule, serial, seq, bytes(lacing),
             raw[pos + 27 + n_segs:pos + total], crc_stored, bytes(page))
        )
        pos += total
    if not out:
        return "no_capture"
    return out


def verified_pages(payloads: Iterable) -> list:
    """Page scan + CRC verification for a batch of Ogg payloads, with ONE
    ``ogg_crc_pages`` call across every page of every clip — the only
    O(bytes) work, kept per batch because per-clip kernel calls measured
    ~20x slower. Returns, per payload, its page list or an error string:
    ``null_payload``, the ``_scan_pages`` error, or ``crc_mismatch``.
    Every Ogg consumer (the three walkers, the container profile, the
    Vorbis decode) verifies pages here."""
    scans = [
        "null_payload" if p is None else _scan_pages(bytes(p))
        for p in payloads
    ]
    crcs = ogg_crc_pages(
        [pg[7] for s in scans if not isinstance(s, str) for pg in s]
    ).tolist()
    out = []
    k = 0
    for s in scans:
        if not isinstance(s, str):
            n = len(s)
            if any(c != pg[6] for c, pg in zip(crcs[k:k + n], s)):
                s = "crc_mismatch"
            k += n
        out.append(s)
    return out


def _finish_packets(pages: list[tuple]) -> tuple | str:
    """Packet reassembly + flag/sequence discipline over a scanned page
    list (CRC checked separately, batched). Returns (n_packets,
    first_packet_bytes, last_granule) or an error string."""
    serial0 = pages[0][2]
    n_packets = 0
    first_packet = b""
    first_done = False
    pending = b""
    mid_packet = False
    for idx, (flags, granule, serial, seq, lacing, body, _, _) in enumerate(
        pages
    ):
        if serial != serial0:
            return "multiplexed"
        if idx == 0:
            if not flags & 0x2:
                return "bad_flags"  # stream must open with BOS
        else:
            if flags & 0x2:
                return "bad_flags"  # BOS after start
            if seq != pages[idx - 1][3] + 1:
                return "seq_gap"
        if bool(flags & 0x1) != mid_packet:
            return "bad_flags"  # continuation flag vs pending packet
        off = 0
        for lv in lacing:
            pending += body[off:off + lv]
            off += lv
            if lv < 255:
                n_packets += 1
                if not first_done:
                    first_packet = pending
                    first_done = True
                pending = b""
        mid_packet = len(lacing) > 0 and lacing[-1] == 255
        if idx == len(pages) - 1:
            if not flags & 0x4:
                return "bad_flags"  # stream must close with EOS
            if mid_packet:
                return "truncated"  # packet left open at EOS
    return n_packets, first_packet, pages[-1][1]


def _parse_ident(first_packet: bytes) -> tuple | str:
    """(codec, channels, sample_rate, pre_skip) from the BOS packet."""
    p = first_packet
    if p[:8] == b"OpusHead":
        if len(p) < 19 or p[8] != 1:
            return "bad_ident"
        return (
            "opus", p[9],
            int.from_bytes(p[12:16], "little"),
            int.from_bytes(p[10:12], "little"),
        )
    if p[:7] == b"\x01vorbis":
        if len(p) < 30 or int.from_bytes(p[7:11], "little") != 0:
            return "bad_ident"
        return (
            "vorbis", p[11],
            int.from_bytes(p[12:16], "little"),
            None,
        )
    return "bad_ident"


OGG = Walker(
    "audio_ogg_profile",
    [
        ("codec", T.StringType()),
        ("channels", T.IntegerType()),
        ("sample_rate", T.IntegerType()),
        ("pre_skip", T.IntegerType()),
        ("n_pages", T.IntegerType()),
        ("n_packets", T.IntegerType()),
        ("last_granule", T.LongType()),
        ("duration_ms", T.LongType()),
        ("crc_pages", T.IntegerType()),
    ],
    """struct(ok, error, codec, channels, sample_rate, pre_skip,
    n_pages, n_packets, last_granule, duration_ms, crc_pages) — the Ogg
    page walk with batched CRC verification, one Arrow hop.""",
    prepare=verified_pages,
)


@OGG.parser
def _finalize(pages: list[tuple]) -> dict:
    n_pages = len(pages)
    got = _finish_packets(pages)
    if isinstance(got, str):
        return OGG.fail(got)
    n_packets, first_packet, last_granule = got
    ident = _parse_ident(first_packet)
    if isinstance(ident, str):
        return OGG.fail(ident)
    codec, channels, sample_rate, pre_skip = ident
    if codec == "opus":
        dur = max(0, last_granule - pre_skip) * 1000 // 48000
    else:
        dur = (last_granule * 1000 // sample_rate) if sample_rate else None
    return {
        "ok": True, "error": None, "codec": codec, "channels": channels,
        "sample_rate": sample_rate, "pre_skip": pre_skip,
        "n_pages": n_pages, "n_packets": n_packets,
        "last_granule": last_granule, "duration_ms": dur,
        "crc_pages": n_pages,
    }


def parse_ogg_stream(raw: bytes) -> dict:
    """Single-clip walker (tests / synth verification): the batch walker
    (`ogg_profile_batch`) applied to one clip."""
    return OGG.rows([raw])[0]


OGG_PROFILE_TYPE = OGG.type
ogg_profile_batch = OGG.batch
audio_ogg_profile = OGG.column


# ---- Opus packet-level validation (RFC 6716 §3.1/§3.2) ----------------------
#
# The page walk above certifies the CONTAINER; this layer certifies the
# Opus framing INSIDE each audio packet without a decoder: TOC config ->
# frame duration, frame-count code -> frame boundaries (CBR split, VBR
# length codes, code-3 count/padding), the 120 ms packet ceiling, the
# 1275-byte frame ceiling, and the stream-level duration cross-check
# sum(packet samples) vs the final granule position (RFC 7845 §4 end
# trimming). No PLC, no sample decode — every check is integer framing
# arithmetic, which is exactly what a validation engine can certify
# for a lossy codec without shipping libopus.

#: samples per frame at the 48 kHz granule clock, indexed by TOC config
_OPUS_CFG_SAMPLES = (
    # SILK-only NB/MB/WB x 10/20/40/60 ms (configs 0-11)
    [480, 960, 1920, 2880][0:4] * 3
    # Hybrid SWB/FB x 10/20 ms (configs 12-15)
    + [480, 960, 480, 960]
    # CELT-only NB/WB/SWB/FB x 2.5/5/10/20 ms (configs 16-31)
    + [120, 240, 480, 960] * 4
)

_OPUS_MAX_FRAME_BYTES = 1275
_OPUS_MAX_PACKET_SAMPLES = 5760  # 120 ms at 48 kHz


def _opus_frame_len(pkt: bytes, pos: int):
    """RFC 6716 §3.2.1 frame-length code: returns (length, next_pos) or
    None when truncated."""
    if pos >= len(pkt):
        return None
    x = pkt[pos]
    if x < 252:
        return x, pos + 1
    if pos + 1 >= len(pkt):
        return None
    return 4 * pkt[pos + 1] + x, pos + 2


def opus_packet_samples(pkt: bytes):
    """(samples_48k, n_frames, error) for ONE Opus packet. error is None
    for a conforming packet; otherwise one of empty_packet /
    truncated_packet / bad_frame_count / packet_too_long /
    frame_too_long / bad_cbr_split / bad_vbr_len."""
    if len(pkt) == 0:
        return 0, 0, "empty_packet"
    toc = pkt[0]
    fs = _OPUS_CFG_SAMPLES[toc >> 3]
    code = toc & 0x3
    if code == 0:
        if len(pkt) - 1 > _OPUS_MAX_FRAME_BYTES:
            return 0, 0, "frame_too_long"
        nf = 1
    elif code == 1:
        r = len(pkt) - 1
        if r % 2:
            return 0, 0, "bad_cbr_split"
        if r // 2 > _OPUS_MAX_FRAME_BYTES:
            return 0, 0, "frame_too_long"
        nf = 2
    elif code == 2:
        got = _opus_frame_len(pkt, 1)
        if got is None:
            return 0, 0, "truncated_packet"
        n1, pos = got
        if n1 > _OPUS_MAX_FRAME_BYTES:
            return 0, 0, "frame_too_long"
        if pos + n1 > len(pkt):
            return 0, 0, "bad_vbr_len"
        if len(pkt) - pos - n1 > _OPUS_MAX_FRAME_BYTES:
            return 0, 0, "frame_too_long"
        nf = 2
    else:  # code 3: arbitrary frame count
        if len(pkt) < 2:
            return 0, 0, "truncated_packet"
        fc = pkt[1]
        vbr, pad, m = fc & 0x80, fc & 0x40, fc & 0x3F
        if m == 0:
            return 0, 0, "bad_frame_count"
        if m * fs > _OPUS_MAX_PACKET_SAMPLES:
            return 0, 0, "packet_too_long"
        pos = 2
        padlen = 0
        if pad:
            while True:
                if pos >= len(pkt):
                    return 0, 0, "truncated_packet"
                b = pkt[pos]
                pos += 1
                if b == 255:
                    padlen += 254
                else:
                    padlen += b
                    break
        if vbr:
            total = 0
            for _ in range(m - 1):
                got = _opus_frame_len(pkt, pos)
                if got is None:
                    return 0, 0, "truncated_packet"
                ln, pos = got
                if ln > _OPUS_MAX_FRAME_BYTES:
                    return 0, 0, "frame_too_long"
                total += ln
            rem = len(pkt) - pos - padlen
            last = rem - total
            if last < 0:
                return 0, 0, "bad_vbr_len"
            if last > _OPUS_MAX_FRAME_BYTES:
                return 0, 0, "frame_too_long"
        else:
            rem = len(pkt) - pos - padlen
            if rem < 0 or rem % m:
                return 0, 0, "bad_cbr_split"
            if rem // m > _OPUS_MAX_FRAME_BYTES:
                return 0, 0, "frame_too_long"
        nf = m
    return nf * fs, nf, None


def opus_stream_packet_stats(
    packets: Sequence[bytes], pre_skip: int, last_granule: int
) -> dict:
    """Stream-level packet audit over the AUDIO packets (callers strip
    the two header packets): per-packet framing plus the RFC 7845 §4.1
    granule cross-check. Granules count ALL decoded samples (including
    the pre-skip region), so end_trim = sum_samples - last_granule must
    lie in [0, last_packet_samples] and the output duration is
    last_granule - pre_skip. (Adding pre_skip into end_trim — the
    rounds-1..3 convention — over-counts trimming by pre_skip against
    real opusenc files: a valid file whose last packet is shorter than
    pre_skip would be falsely flagged, while a granule overshooting the
    decoded total by up to pre_skip would pass.)"""
    n_audio = len(packets)
    total = 0
    frames = 0
    last_samples = 0
    for k, pkt in enumerate(packets):
        s, nf, err = opus_packet_samples(bytes(pkt))
        if err is not None:
            return {
                "ok": False, "error": f"{err}@{k}", "n_audio_packets": n_audio,
                "n_frames": None, "sum_samples": None, "end_trim": None,
                "duration_ms": None,
            }
        total += s
        frames += nf
        last_samples = s
    end_trim = total - last_granule
    if n_audio == 0 or end_trim < 0 or end_trim > last_samples:
        return {
            "ok": False, "error": "granule_mismatch",
            "n_audio_packets": n_audio, "n_frames": frames,
            "sum_samples": total, "end_trim": end_trim,
            "duration_ms": None,
        }
    return {
        "ok": True, "error": None, "n_audio_packets": n_audio,
        "n_frames": frames, "sum_samples": total, "end_trim": end_trim,
        "duration_ms": max(0, last_granule - pre_skip) * 1000 // 48000,
    }


def _collect_packets(pages: list[tuple]) -> list[bytes] | str:
    """All packets in order (the flag/seq discipline of _finish_packets,
    but keeping every packet body)."""
    got = _finish_packets(pages)
    if isinstance(got, str):
        return got
    out: list[bytes] = []
    pending = b""
    for flags, granule, serial, seq, lacing, body, _, _ in pages:
        off = 0
        for lv in lacing:
            pending += body[off:off + lv]
            off += lv
            if lv < 255:
                out.append(pending)
                pending = b""
    return out


OPUS_PKT = Walker(
    "audio_opus_packet_profile",
    [
        ("n_audio_packets", T.IntegerType()),
        ("n_frames", T.IntegerType()),
        ("sum_samples", T.LongType()),
        ("end_trim", T.LongType()),
        ("duration_ms", T.LongType()),
    ],
    """struct(ok, error, n_audio_packets, n_frames, sum_samples,
    end_trim, duration_ms): RFC 6716 TOC/framing validation + RFC 7845
    granule cross-check per clip, one Arrow hop. Extends the SNR ladder
    one tier for compressed web audio: structural walk -> packet-level
    framing certification (sample decode stays out of scope without
    libopus — documented ceiling, SURVEY §2C).""",
    prepare=verified_pages,
)


@OPUS_PKT.parser
def _opus_packets_from_pages(pages: list[tuple]) -> dict:
    """Framing audit over an already-CRC-verified page list."""
    packets = _collect_packets(pages)
    if isinstance(packets, str):
        return OPUS_PKT.fail(packets)
    if not packets:
        return OPUS_PKT.fail("bad_ident")
    ident = _parse_ident(packets[0])
    if isinstance(ident, str):
        return OPUS_PKT.fail(ident)
    codec, _channels, _rate, pre_skip = ident
    if codec != "opus":
        return OPUS_PKT.fail("not_opus")
    if len(packets) < 2 or packets[1][:8] != b"OpusTags":
        return OPUS_PKT.fail("missing_tags")
    return opus_stream_packet_stats(
        packets[2:], pre_skip, pages[-1][1]
    )


def parse_opus_packets(raw: bytes) -> dict:
    """Single-clip packet audit: container walk first (any page-level
    failure surfaces as that error), then the Opus framing audit."""
    return OPUS_PKT.rows([raw])[0]


opus_packet_profile_batch = OPUS_PKT.batch
audio_opus_packet_profile = OPUS_PKT.column


def _opus_len_code(n: int) -> bytes:
    """Inverse of _opus_frame_len (RFC 6716 §3.2.1)."""
    if n < 252:
        return bytes((n,))
    b1 = 252 + (n - 252) % 4
    return bytes((b1, (n - b1) // 4))


def build_opus_packet(
    config: int,
    code: int,
    frame_sizes: Sequence[int],
    seed: int = 0,
    vbr: bool = False,
    pad_len: int = 0,
    stereo: bool = False,
) -> bytes:
    """One RFC 6716-framed Opus packet with seeded opaque frame bodies
    (ledger corpora + tests). ``frame_sizes`` are per-frame byte sizes;
    code 3 honors ``vbr`` and ``pad_len`` (padding DATA bytes)."""
    toc = (config << 3) | ((4 if stereo else 0)) | code
    parts = [bytes((toc,))]
    if code == 0:
        parts.append(_fill(frame_sizes[0], seed))
    elif code == 1:
        parts.append(_fill(frame_sizes[0], seed))
        parts.append(_fill(frame_sizes[1], seed + 1))
    elif code == 2:
        parts.append(_opus_len_code(frame_sizes[0]))
        parts.append(_fill(frame_sizes[0], seed))
        parts.append(_fill(frame_sizes[1], seed + 1))
    else:
        m = len(frame_sizes)
        fc = (0x80 if vbr else 0) | (0x40 if pad_len else 0) | m
        parts.append(bytes((fc,)))
        if pad_len:
            chain = []
            p = pad_len
            while p > 254:
                chain.append(255)
                p -= 254
            chain.append(p)
            parts.append(bytes(chain))
        if vbr:
            for s in frame_sizes[:-1]:
                parts.append(_opus_len_code(s))
        for j, s in enumerate(frame_sizes):
            parts.append(_fill(s, seed + j))
        if pad_len:
            parts.append(_fill(pad_len, seed ^ 0x7F))
    return b"".join(parts)


def encode_ogg_opus_framed(
    audio_packets: Sequence[bytes],
    channels: int = 1,
    pre_skip: int = 312,
    input_sr: int = 16000,
    serial: int = 0x5150,
    packets_per_page: int = 3,
    final_granule: Optional[int] = None,
    granule_samples: Optional[Sequence[int]] = None,
) -> bytes:
    """Conforming Ogg-Opus stream around CALLER-BUILT audio packets
    (build_opus_packet), with the final granule either derived from
    ``granule_samples`` (per-packet 48 kHz counts) or forced via
    ``final_granule`` (to plant granule mismatches)."""
    pages = [
        build_page(serial, 0, 0,
                   [_opus_head(channels, pre_skip, input_sr)], bos=True),
        build_page(serial, 1, 0, [opus_tags_packet()]),
    ]
    seq = 2
    done = 0
    gran = 0  # RFC 7845 §4.1: granules count all decoded samples from 0
    n = len(audio_packets)
    while done < n:
        k = min(packets_per_page, n - done)
        chunk = list(audio_packets[done:done + k])
        if granule_samples is not None:
            gran += sum(granule_samples[done:done + k])
        done += k
        is_last = done == n
        g = final_granule if (is_last and final_granule is not None) else gran
        pages.append(build_page(serial, seq, g, chunk, eos=is_last))
        seq += 1
    return b"".join(pages)


# ---- Vorbis packet-level validation (Vorbis I spec §4.2) --------------------
# Header discipline + packet-type certification without a decoder: the
# three header packets (ident 0x01 / comment 0x03 / setup 0x05, each
# with the "vorbis" magic) must appear in order; the ident's blocksize
# nibbles must satisfy 64 <= bs0 <= bs1 <= 8192 with the framing bit
# set; every audio packet must be non-empty with the type LSB clear
# (audio packets are type-even by spec). FULL sample decode (setup
# codebooks, floor-1, residue, IMDCT) lives in functions/vorbis.py
# (round 4); this walk remains the cheap structural tier.

VORBIS_PKT = Walker(
    "audio_vorbis_packet_profile",
    [
        ("n_audio_packets", T.IntegerType()),
        ("blocksize_0", T.IntegerType()),
        ("blocksize_1", T.IntegerType()),
    ],
    """struct(ok, error, n_audio_packets, blocksize_0, blocksize_1):
    Vorbis I header-discipline + packet-type certification, one Arrow
    hop (see parse_vorbis_packets).""",
    prepare=verified_pages,
)


@VORBIS_PKT.parser
def _vorbis_packets_from_pages(pages: list[tuple]) -> dict:
    """Discipline audit over an already-CRC-verified page list."""
    packets = _collect_packets(pages)
    if isinstance(packets, str):
        return VORBIS_PKT.fail(packets)
    if not packets or packets[0][:7] != b"\x01vorbis":
        return VORBIS_PKT.fail("bad_ident")
    ident = packets[0]
    if len(ident) < 30 or int.from_bytes(ident[7:11], "little") != 0:
        return VORBIS_PKT.fail("bad_ident")
    bs = ident[28]
    bs0, bs1 = 1 << (bs & 0xF), 1 << (bs >> 4)
    if not (64 <= bs0 <= bs1 <= 8192):
        return VORBIS_PKT.fail("bad_blocksizes")
    if len(ident) < 30 or not (ident[29] & 0x1):
        return VORBIS_PKT.fail("bad_framing")
    if len(packets) < 3:
        return VORBIS_PKT.fail("missing_headers")
    if packets[1][:7] != b"\x03vorbis":
        return VORBIS_PKT.fail("missing_comment")
    if packets[2][:7] != b"\x05vorbis":
        return VORBIS_PKT.fail("missing_setup")
    for k, pkt in enumerate(packets[3:]):
        if len(pkt) == 0:
            return VORBIS_PKT.fail(f"empty_packet@{k}")
        if pkt[0] & 0x1:
            return VORBIS_PKT.fail(f"bad_packet_type@{k}")
    return {
        "ok": True, "error": None,
        "n_audio_packets": len(packets) - 3,
        "blocksize_0": bs0, "blocksize_1": bs1,
    }


def parse_vorbis_packets(raw: bytes) -> dict:
    """Single-clip Vorbis packet audit: container walk first, then the
    header-discipline + packet-type checks."""
    return VORBIS_PKT.rows([raw])[0]


vorbis_packet_profile_batch = VORBIS_PKT.batch
audio_vorbis_packet_profile = VORBIS_PKT.column


def vorbis_header_packets(
    channels: int = 2,
    rate: int = 44100,
    blocksize_byte: int = 0xB8,
    framing: int = 1,
    seed: int = 0,
) -> list[bytes]:
    """[ident, comment, setup] header packets for corpus assembly, with
    the blocksize nibbles / framing bit parameterized so ledger corpora
    can plant header violations."""
    ident = (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")
        + bytes((channels,))
        + int(rate).to_bytes(4, "little")
        + (0).to_bytes(4, "little", signed=True) * 3
        + bytes((blocksize_byte,))
        + bytes((1 if framing else 0,))
    )
    comment = (
        b"\x03vorbis" + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little") + bytes((1,))
    )
    setup = b"\x05vorbis" + _fill(64, seed ^ 0x5E)
    return [ident, comment, setup]


def vorbis_audio_packet(n: int, seed: int) -> bytes:
    """Opaque seeded AUDIO packet with the type LSB clear (spec: audio
    packets are type-even)."""
    b = bytearray(_fill(n, seed))
    b[0] &= 0xFE
    return bytes(b)


def encode_ogg_vorbis_framed(
    audio_packets: Sequence[bytes],
    header_packets: Optional[list[bytes]] = None,
    serial: int = 0x5657,
    packets_per_page: int = 4,
    samples_per_packet: int = 1024,
) -> bytes:
    """Conforming Ogg-Vorbis stream around caller-built packets."""
    hdrs = header_packets or vorbis_header_packets()
    pages = [build_page(serial, 0, 0, [hdrs[0]], bos=True)]
    if len(hdrs) > 1:
        pages.append(build_page(serial, 1, 0, list(hdrs[1:])))
    seq = len(pages)
    done = 0
    gran = 0
    n = len(audio_packets)
    while done < n:
        k = min(packets_per_page, n - done)
        chunk = list(audio_packets[done:done + k])
        gran += k * samples_per_packet
        done += k
        pages.append(
            build_page(serial, seq, gran, chunk, eos=(done == n))
        )
        seq += 1
    return b"".join(pages)
