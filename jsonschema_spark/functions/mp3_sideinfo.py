"""MP3 Layer III SIDE-INFO structural tier (ISO/IEC 11172-3 §2.4.1.7
and §2.4.2.7; ISO/IEC 13818-3 for the LSF layout) — the intermediate
step toward full Layer III sample decode (VERDICT r4 item 4): full
per-granule side-information parse plus BIT-RESERVOIR discipline
(main_data_begin back-pointer validation), on top of the frame-header
walk in functions/mp3.py.

Layout parsed per frame (after the 4-byte header and optional CRC-16):

- MPEG-1 (version_id 3): main_data_begin (9 bits), private_bits
  (5 mono / 3 stereo), scfsi (4 per channel), then 2 granules x
  nch channels of: part2_3_length (12), big_values (9), global_gain
  (8), scalefac_compress (4), window_switching_flag (1), then EITHER
  [block_type (2), mixed_block_flag (1), 2x table_select (5),
  3x subblock_gain (3)] OR [3x table_select (5), region0_count (4),
  region1_count (3)]; preflag (1), scalefac_scale (1),
  count1table_select (1).  Totals 17 bytes mono / 32 stereo.
- MPEG-2/2.5 LSF: main_data_begin (8), private_bits (1 mono /
  2 stereo), no scfsi, ONE granule, scalefac_compress widens to
  9 bits and preflag is absorbed into it.  Totals 9 / 17 bytes.

Validation (exact error@frame strings):

- bad_block_type@k — window_switching_flag set with block_type 0
  ("reserved"; 11172-3 forbids it).
- bad_table_select@k — Huffman table 4 or 14 selected (both "not
  used" in Table B.7; no codebook exists).
- big_values_overflow@k — big_values > 288 (2*big_values spectral
  lines must fit the 576-line granule).
- reservoir_underflow@k — main_data_begin points back past the start
  of the accumulated main-data area: the byte-slice signature of a
  stream cut at a non-clean point (the reservoir was not flushed).
  Model: mdb_k <= min(pointer_max, sum of prior frames' main-data
  capacities); pointer_max = 511 (9-bit) / 255 (LSF 8-bit).
- part23_overflow@k — ceil(sum part2_3_length / 8) >
  main_data_begin + this frame's main-data capacity: the declared
  main data cannot END within this frame's region (main data may
  point BACK via the reservoir but never forward).
- part2_overflow@k — a granule-channel's part2_3_length is smaller
  than the scalefactor bits its scalefac_compress (and scfsi sharing)
  declares (MPEG-1 only; the LSF slen scheme is not checked).

The stricter encoder-side non-overlap invariant (each frame's data
consumed exactly once) is deliberately NOT enforced: stuffing gaps
are legal and mainstream decoders do not check overlap either.

Full sample decode remains a documented ceiling: requantization,
IMDCT and the polyphase synthesis need the normative Annex B data
tables (34 Huffman codebooks, the 512-coefficient synthesis window
D[], per-rate scalefactor-band tables) which are spec DATA, not
derivable arithmetic — unlike Vorbis I, whose codebooks ship inside
each stream's setup header.

One Arrow hop per clip, no shuffles.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import types as T

from jsonschema_spark.functions.mp3 import (
    _MODE_BITS,
    _SR_TABLE,
    _bitrate_row,
    _side_info_len,
    frame_length,
)
from jsonschema_spark.functions.walker import Walker

# Huffman big-value tables 4 and 14 are "not used" (ISO 11172-3
# Table B.7): selecting them is a structural error.
_INVALID_TABLES = (4, 14)
_MAX_BIG_VALUES = 288  # 2 * 288 = 576 spectral lines per granule


class _BitReader:
    __slots__ = ("d", "pos")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        d, p = self.d, self.pos
        for _ in range(n):
            v = (v << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list[int] = []

    def write(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def to_bytes(self, total_bytes: int) -> bytes:
        out = bytearray(total_bytes)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (7 - (i & 7))
        return bytes(out)


def _parse_granule(br: _BitReader, lsf: bool) -> dict:
    g = {
        "part23": br.read(12),
        "big_values": br.read(9),
        "global_gain": br.read(8),
        "scalefac_compress": br.read(9 if lsf else 4),
        "ws": br.read(1),
    }
    if g["ws"]:
        g["block_type"] = br.read(2)
        g["mixed"] = br.read(1)
        g["tables"] = [br.read(5), br.read(5)]
        g["subblock_gain"] = [br.read(3) for _ in range(3)]
        g["region0"] = None
        g["region1"] = None
    else:
        g["block_type"] = 0
        g["mixed"] = 0
        g["tables"] = [br.read(5), br.read(5), br.read(5)]
        g["region0"] = br.read(4)
        g["region1"] = br.read(3)
    if not lsf:
        g["preflag"] = br.read(1)
    g["scalefac_scale"] = br.read(1)
    g["count1table"] = br.read(1)
    return g


def parse_sideinfo_bits(si: bytes, version_id: int, mono: bool) -> dict:
    """One frame's side info -> {mdb, scfsi (per channel), granules:
    [per gr x ch dicts]}."""
    lsf = version_id != 3
    br = _BitReader(si)
    mdb = br.read(8 if lsf else 9)
    nch = 1 if mono else 2
    scfsi = [0] * nch
    if lsf:
        br.read(1 if mono else 2)  # private_bits
        ngr = 1
    else:
        br.read(5 if mono else 3)
        for c in range(nch):
            scfsi[c] = br.read(4)  # group flags, MSB = group 0
        ngr = 2
    grs = [
        _parse_granule(br, lsf) for _gr in range(ngr) for _ch in range(nch)
    ]
    return {"mdb": mdb, "scfsi": scfsi, "granules": grs,
            "ngr": ngr, "nch": nch}


# ISO 11172-3 §2.4.2.7: scalefac_compress -> (slen1, slen2) — the bit
# widths of the two scalefactor-band groups. Structure, not Annex B
# codebook data.
SLEN_TABLE = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)

# scfsi band groups over the 21 long-block scalefactor bands:
# group 0 = sfb 0-5 (slen1), 1 = sfb 6-10 (slen1), 2 = sfb 11-15
# (slen2), 3 = sfb 16-20 (slen2)
_SCFSI_GROUP_BANDS = ((6, 1), (5, 1), (5, 2), (5, 2))  # (n_bands, slen#)


def part2_bits_mpeg1(g: dict, granule_idx: int, scfsi: int) -> int:
    """Scalefactor (part2) bit count for one MPEG-1 granule-channel
    (ISO 11172-3 §2.4.2.7): long blocks transmit 11 bands at slen1 +
    10 at slen2; short (non-mixed) 2x(6 bands x 3 windows); mixed
    17 slen1 + 18 slen2 values. scfsi groups suppress granule-1
    transmission for LONG-block granules only (short granules always
    transmit in full — scfsi ignored there, matching mainstream
    decoders)."""
    s1, s2 = SLEN_TABLE[g["scalefac_compress"] & 0xF]
    short = g["ws"] == 1 and g["block_type"] == 2
    if short and not g["mixed"]:
        return 18 * s1 + 18 * s2
    if short and g["mixed"]:
        return 17 * s1 + 18 * s2
    if granule_idx == 1 and scfsi:
        total = 0
        for grp, (nb, which) in enumerate(_SCFSI_GROUP_BANDS):
            if (scfsi >> (3 - grp)) & 1:
                continue  # shared with granule 0: not transmitted
            total += nb * (s1 if which == 1 else s2)
        return total
    return 11 * s1 + 10 * s2


SIDEINFO = Walker(
    "audio_mp3_sideinfo_profile",
    [
        ("n_frames", T.IntegerType()),
        ("n_granules", T.IntegerType()),
        ("part23_bits", T.LongType()),
        ("max_mdb", T.IntegerType()),
        ("short_blocks", T.IntegerType()),
        ("reservoir_frames", T.IntegerType()),
    ],
    """struct(ok, error, n_frames, n_granules, part23_bits, max_mdb,
    short_blocks, reservoir_frames): Layer III side-info parse +
    bit-reservoir discipline per stream, one Arrow hop.""",
)


@SIDEINFO.parser
def parse_mp3_sideinfo(raw: bytes) -> dict:
    """Layer III side-info walk + bit-reservoir discipline. Leading
    ID3v2 / trailing ID3v1 tags are skipped (same rules as
    mp3.parse_mp3_stream) so real-world tagged files walk."""
    buf = bytes(raw)
    end = len(buf)
    pos = 0
    if buf[:3] == b"ID3":
        if len(buf) < 10 or any(b & 0x80 for b in buf[6:10]):
            return SIDEINFO.fail("no_sync")
        size = 0
        for b in buf[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size + (10 if buf[5] & 0x10 else 0)
        if pos > end:
            return SIDEINFO.fail("no_sync")
    if end - pos >= 128 and buf[end - 128 : end - 125] == b"TAG":
        end -= 128
    k = 0
    avail = 0  # main-data bytes accumulated from prior frames
    ptr_max: Optional[int] = None
    part23_total = 0
    n_granules = 0
    max_mdb = 0
    short_blocks = 0
    reservoir_frames = 0
    while pos < end:
        if end - pos < 4:
            return SIDEINFO.fail(f"truncated@{k}" if k else "no_sync")
        h0, h1, h2, h3 = buf[pos : pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            return SIDEINFO.fail(f"sync_lost@{k}" if k else "no_sync")
        version_id = (h1 >> 3) & 0x3
        layer_bits = (h1 >> 1) & 0x3
        if version_id == 1 or layer_bits == 0:
            return SIDEINFO.fail(f"bad_header@{k}")
        if layer_bits != 1:
            return SIDEINFO.fail(f"not_layer3@{k}")
        protected = not (h1 & 0x1)
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 0x1
        mode = (h3 >> 6) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            return SIDEINFO.fail(f"bad_header@{k}")
        sr_hz = _SR_TABLE[version_id][sr_idx]
        br_kbps = _bitrate_row(version_id, 3)[br_idx - 1]
        ln = frame_length(version_id, 3, br_kbps * 1000, sr_hz, padding)
        if pos + ln > end:
            return SIDEINFO.fail(f"truncated@{k}")
        mono = mode == 3
        side_len = _side_info_len(version_id, mono)
        hdr = 4 + (2 if protected else 0)
        if ln < hdr + side_len:
            return SIDEINFO.fail(f"bad_header@{k}")
        si = parse_sideinfo_bits(
            buf[pos + hdr : pos + hdr + side_len], version_id, mono
        )
        ptr_max = 255 if version_id != 3 else 511
        capacity = ln - hdr - side_len
        frame_bits = 0
        nch_f = si["nch"]
        for gi, g in enumerate(si["granules"]):
            if g["ws"] and g["block_type"] == 0:
                return SIDEINFO.fail(f"bad_block_type@{k}")
            if any(t in _INVALID_TABLES for t in g["tables"]):
                return SIDEINFO.fail(f"bad_table_select@{k}")
            if g["big_values"] > _MAX_BIG_VALUES:
                return SIDEINFO.fail(f"big_values_overflow@{k}")
            if version_id == 3:
                # part2 accounting: the scalefactor bits implied by
                # scalefac_compress/block shape/scfsi must FIT inside
                # part2_3_length (LSF uses a different slen scheme —
                # not accounted; its side-info walk is still full)
                p2 = part2_bits_mpeg1(
                    g, gi // nch_f, si["scfsi"][gi % nch_f]
                )
                if p2 > g["part23"]:
                    return SIDEINFO.fail(f"part2_overflow@{k}")
            frame_bits += g["part23"]
            if g["block_type"] == 2:
                short_blocks += 1
        mdb = si["mdb"]
        if mdb > min(avail, ptr_max):
            return SIDEINFO.fail(f"reservoir_underflow@{k}")
        bytes_needed = (frame_bits + 7) // 8
        if bytes_needed > mdb + capacity:
            return SIDEINFO.fail(f"part23_overflow@{k}")
        part23_total += frame_bits
        n_granules += si["ngr"]
        max_mdb = max(max_mdb, mdb)
        if mdb:
            reservoir_frames += 1
        avail = min(avail + capacity, 1 << 30)
        pos += ln
        k += 1
    if k == 0:
        return SIDEINFO.fail("no_sync")
    return {
        "ok": True, "error": None, "n_frames": k,
        "n_granules": n_granules, "part23_bits": part23_total,
        "max_mdb": max_mdb, "short_blocks": short_blocks,
        "reservoir_frames": reservoir_frames,
    }


sideinfo_profile_batch = SIDEINFO.batch
audio_mp3_sideinfo_profile = SIDEINFO.column


# ---- conforming writer (ledger corpora + tests) -----------------------------


_M64 = (1 << 64) - 1


def _h64(*xs: int) -> int:
    # splitmix64-style avalanche in plain ints (wrap via mask)
    v = 0x9E3779B97F4A7C15
    for x in xs:
        v ^= x & _M64
        v = (v * 0xBF58476D1CE4E5B9) & _M64
        v ^= v >> 27
        v = (v * 0x94D049BB133111EB) & _M64
        v ^= v >> 31
    return v


_VALID_TABLES = tuple(
    t for t in range(32) if t not in _INVALID_TABLES
)


def _write_granule(bw: _BitWriter, g: dict, lsf: bool) -> None:
    bw.write(g["part23"], 12)
    bw.write(g["big_values"], 9)
    bw.write(g["global_gain"], 8)
    bw.write(g["scalefac_compress"], 9 if lsf else 4)
    bw.write(g["ws"], 1)
    if g["ws"]:
        bw.write(g["block_type"], 2)
        bw.write(g["mixed"], 1)
        for t in g["tables"][:2]:
            bw.write(t, 5)
        for s in g["subblock_gain"]:
            bw.write(s, 3)
    else:
        for t in g["tables"][:3]:
            bw.write(t, 5)
        bw.write(g["region0"], 4)
        bw.write(g["region1"], 3)
    if not lsf:
        bw.write(g["preflag"], 1)
    bw.write(g["scalefac_scale"], 1)
    bw.write(g["count1table"], 1)


def build_l3_sideinfo_frame(
    version_id: int,
    bitrate_kbps: int,
    sr_hz: int,
    mode: str,
    mdb: int,
    granules: list[dict],
    seed: int = 0,
    scfsi: Optional[tuple] = None,
) -> bytes:
    """One Layer III frame with a fully-specified side-info block and
    seeded sub-0x80 main-data filler."""
    sr_idx = _SR_TABLE[version_id].index(sr_hz)
    br_idx = _bitrate_row(version_id, 3).index(bitrate_kbps) + 1
    h0 = 0xFF
    h1 = 0xE0 | (version_id << 3) | (1 << 1) | 1  # layer III, no CRC
    h2 = (br_idx << 4) | (sr_idx << 2)
    h3 = _MODE_BITS[mode] << 6
    ln = frame_length(version_id, 3, bitrate_kbps * 1000, sr_hz, 0)
    mono = mode == "mono"
    side_len = _side_info_len(version_id, mono)
    lsf = version_id != 3
    bw = _BitWriter()
    bw.write(mdb, 8 if lsf else 9)
    if lsf:
        bw.write(0, 1 if mono else 2)
    else:
        bw.write(0, 5 if mono else 3)
        nch = 1 if mono else 2
        for c in range(nch):
            bw.write(scfsi[c] if scfsi else 0, 4)
    for g in granules:
        _write_granule(bw, g, lsf)
    si = bw.to_bytes(side_len)
    cap = ln - 4 - side_len
    fill = np.array(
        [(_h64(seed, 0xF1, j) % 128) for j in range(cap)], dtype=np.uint8
    )
    return bytes((h0, h1, h2, h3)) + si + fill.tobytes()


def _default_granule(h: int, short: bool, part23: int) -> dict:
    g = {
        "part23": part23,
        "big_values": h % (_MAX_BIG_VALUES + 1),
        "global_gain": (h >> 9) % 256,
        "scalefac_compress": (h >> 17) % 16,
        "ws": 1 if short else 0,
        "preflag": (h >> 21) & 1,
        "scalefac_scale": (h >> 22) & 1,
        "count1table": (h >> 23) & 1,
        "mixed": 0,
    }
    if short:
        g["block_type"] = 2
        g["tables"] = [_VALID_TABLES[(h >> 24) % len(_VALID_TABLES)],
                       _VALID_TABLES[(h >> 29) % len(_VALID_TABLES)]]
        g["subblock_gain"] = [(h >> 34) % 8, (h >> 37) % 8, (h >> 40) % 8]
        g["region0"] = None
        g["region1"] = None
    else:
        g["block_type"] = 0
        g["tables"] = [_VALID_TABLES[(h >> 24) % len(_VALID_TABLES)],
                       _VALID_TABLES[(h >> 29) % len(_VALID_TABLES)],
                       _VALID_TABLES[(h >> 34) % len(_VALID_TABLES)]]
        g["subblock_gain"] = []
        g["region0"] = (h >> 39) % 16
        g["region1"] = (h >> 43) % 8
    return g


def encode_sideinfo_stream(
    n_frames: int,
    version_id: int = 3,
    sr_hz: int = 44100,
    mode: str = "stereo",
    bitrates_kbps: tuple[int, ...] = (128,),
    seed: int = 0,
    short_every: int = 0,
    reservoir: bool = True,
    scfsi_groups: int = 0,
    plant: Optional[tuple[str, int]] = None,
) -> tuple[bytes, dict]:
    """Deterministic conforming Layer III stream with a REAL reservoir
    schedule and part2-aware bit allocation (every granule-channel's
    part2_3_length covers at least its scalefactor bits); returns
    (bytes, ledger aggregates matching the walker). ``scfsi_groups``
    sets the per-channel scfsi group mask on MPEG-1 long-block frames
    (granule-1 scalefactors shared with granule 0). ``plant`` =
    (kind, frame_idx) with kind in {mid_reservoir, part23_overflow,
    bad_block_type, bad_table_select, big_values, part2_overflow} —
    the ledger then carries the exact error@idx string instead. A
    mid_reservoir plant raises ValueError where the reservoir already
    holds ptr_max bytes (no pointer could underflow it)."""
    mono = mode == "mono"
    ngr = 2 if version_id == 3 else 1
    nch = 1 if mono else 2
    fields = ngr * nch
    side_len = _side_info_len(version_id, mono)
    ptr_max = 511 if version_id == 3 else 255
    chunks: list[bytes] = []
    avail = 0
    part23_total = 0
    max_mdb = 0
    short_blocks = 0
    reservoir_frames = 0
    err = None
    for k in range(n_frames):
        h = _h64(seed, k)
        br = bitrates_kbps[k % len(bitrates_kbps)]
        ln = frame_length(version_id, 3, br * 1000, sr_hz, 0)
        cap = ln - 4 - side_len
        mdb = min(avail, ptr_max, h % 120) if reservoir else 0
        plant_here = plant is not None and plant[1] == k
        if plant_here and plant[0] == "mid_reservoir":
            if avail >= ptr_max:
                # no 9/8-bit pointer can reach past the reservoir here
                raise ValueError(
                    f"mid_reservoir@{k}: reservoir holds {avail} bytes, "
                    f"main_data_begin cannot exceed {ptr_max}"
                )
            mdb = min(avail + 1 + h % 40, ptr_max)
            err = f"reservoir_underflow@{k}"
        # choose the frame's total main-data bits
        if plant_here and plant[0] == "part23_overflow":
            want = 8 * (mdb + cap + 1 + h % 8)
            err = f"part23_overflow@{k}"
        else:
            slack = h % max(1, min(40, cap // 4))
            want = 8 * max(0, cap - slack)
        want = min(want, fields * 4095)
        short = short_every > 0 and k % short_every == 0
        grs = [
            _default_granule(_h64(seed, k, f_i), short, 0)
            for f_i in range(fields)
        ]
        # part2-aware allocation: each field's part2_3_length must
        # cover its scalefactor bits; the remainder is spread evenly
        scfsi_here = (
            scfsi_groups if (version_id == 3 and not short) else 0
        )
        if version_id == 3:
            mins = [
                part2_bits_mpeg1(g, f_i // nch, scfsi_here)
                for f_i, g in enumerate(grs)
            ]
        else:
            mins = [0] * fields
        want = max(want, sum(mins))
        extra = want - sum(mins)
        base, rem = divmod(extra, fields)
        for f_i, g in enumerate(grs):
            g["part23"] = min(
                4095, mins[f_i] + base + (1 if f_i < rem else 0)
            )
        if plant_here:
            if plant[0] == "bad_block_type":
                grs[0]["ws"] = 1
                grs[0]["block_type"] = 0
                grs[0]["tables"] = grs[0]["tables"][:2] or [0, 0]
                grs[0]["subblock_gain"] = [0, 0, 0]
                err = f"bad_block_type@{k}"
            elif plant[0] == "bad_table_select":
                grs[0]["tables"][0] = 4
                err = f"bad_table_select@{k}"
            elif plant[0] == "big_values":
                grs[0]["big_values"] = _MAX_BIG_VALUES + 1 + h % 200
                err = f"big_values_overflow@{k}"
            elif plant[0] == "part2_overflow":
                # declare maximal scalefactor widths but a
                # part2_3_length too small to hold them
                grs[0]["scalefac_compress"] = 13  # slen (3,3)
                p2 = part2_bits_mpeg1(grs[0], 0, scfsi_here)
                grs[0]["part23"] = max(0, p2 - 1 - h % 16)
                err = f"part2_overflow@{k}"
        nch_sc = 1 if mode == "mono" else 2
        chunks.append(
            build_l3_sideinfo_frame(
                version_id, br, sr_hz, mode, mdb, grs,
                seed=_h64(seed, k, 0xAA),
                scfsi=(scfsi_here,) * nch_sc if scfsi_here else None,
            )
        )
        if err is not None:
            break  # walker stops at the first violation
        part23_total += sum(g["part23"] for g in grs)
        short_blocks += sum(1 for g in grs if g["block_type"] == 2)
        max_mdb = max(max_mdb, mdb)
        if mdb:
            reservoir_frames += 1
        avail = min(avail + cap, 1 << 30)
    raw = b"".join(chunks)
    if err is not None:
        led = SIDEINFO.fail(err)
    else:
        led = {
            "ok": True, "error": None, "n_frames": n_frames,
            "n_granules": n_frames * ngr, "part23_bits": part23_total,
            "max_mdb": max_mdb, "short_blocks": short_blocks,
            "reservoir_frames": reservoir_frames,
        }
    return raw, led
