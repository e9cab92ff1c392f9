"""H.264 / AVC (ITU-T Rec. H.264) STRUCTURAL validation — the MP3/Ogg
treatment for the web's dominant video codec (VERDICT r3 item 7).

Scope (no sample decode — macroblock reconstruction needs CABAC/CAVLC
entropy decode + inter prediction, a documented ceiling without
libavcodec, same stance as Opus SILK/CELT):

- Annex B byte-stream walk: start-code scan (``00 00 01`` with optional
  leading ``zero_byte``), NAL unit extraction, emulation-prevention
  removal (``00 00 03 xx`` → ``00 00 xx``) and the §7.4.1.1 constraint
  that ``00 00 00 / 00 00 01 / 00 00 02`` never appear inside a NAL's
  EBSP payload.
- NAL header discipline (§7.3.1): forbidden_zero_bit, nal_ref_idc,
  nal_unit_type taxonomy incl. reserved types.
- SPS parse (§7.3.2.1.1): profile/level, chroma_format_idc (High
  profiles), scaling-list skip, pic order count types 0/1/2, frame
  cropping → exact luma width/height per the §7.4.2.1.1 crop-unit
  arithmetic, RBSP trailing-bits check.
- PPS parse (§7.3.2.2, minimal): ids, entropy mode, slice groups (FMO
  flagged — rare and out of structural scope).
- Slice-header peek (§7.3.3): first_mb_in_slice / slice_type / pps_id /
  frame_num — enough to COUNT CODED FRAMES (a new frame starts at a
  slice with first_mb_in_slice == 0) and to enforce header ordering
  (no slice before its SPS+PPS; stream must open with an IDR picture).

Exposed engine surface: ``video_h264_profile`` — one struct-returning
Arrow hop over a binary column (same shape as the MP3/Ogg walkers).

Scale notes (10^12 rows): the walk is per-row Python inside ONE
pandas-UDF hop; no shuffle, no joins; partial aggregation after it.
Corpus generation uses the same bit-exact writers, so ledger truth is
generator arithmetic and the walker never runs at synth time.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import types as T

from jsonschema_spark.functions.walker import Walker

# nal_unit_type taxonomy (Table 7-1)
NAL_SLICE = 1
NAL_IDR = 5
NAL_SEI = 6
NAL_SPS = 7
NAL_PPS = 8
NAL_AUD = 9
_RESERVED_TYPES = frozenset(range(17, 19)) | frozenset(range(22, 24))


class _BitReader:
    """MSB-first bit reader over an RBSP buffer (H.264 bit order — the
    opposite of Vorbis')."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bits_left(self) -> int:
        return len(self.data) * 8 - self.pos

    def u(self, n: int) -> int:
        if self.bits_left() < n:
            raise ValueError("truncated")
        v = 0
        p = self.pos
        for _ in range(n):
            v = (v << 1) | ((self.data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v

    def ue(self) -> int:
        """Exp-Golomb unsigned (§9.1)."""
        zeros = 0
        while True:
            if self.bits_left() < 1:
                raise ValueError("truncated")
            if self.u(1):
                break
            zeros += 1
            if zeros > 31:
                raise ValueError("bad_exp_golomb")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        """Exp-Golomb signed (§9.1.1): k -> (-1)^(k+1) * ceil(k/2)."""
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _ebsp_to_rbsp(ebsp: bytes) -> tuple[bytes, Optional[str]]:
    """Strip emulation-prevention bytes; flag §7.4.1.1 violations
    (00 00 00/01/02 inside a NAL payload)."""
    out = bytearray()
    i = 0
    n = len(ebsp)
    while i < n:
        if i + 2 < n and ebsp[i] == 0 and ebsp[i + 1] == 0:
            nxt = ebsp[i + 2]
            if nxt == 3:
                out += b"\x00\x00"
                i += 3
                continue
            if nxt <= 2:
                return bytes(out), "epb_violation"
        out.append(ebsp[i])
        i += 1
    return bytes(out), None


def split_annexb_nals(raw: bytes) -> list[bytes] | str:
    """EBSP NAL units (header byte included) in stream order, or an
    error string. Leading bytes before the first start code must be
    zero_bytes; an empty NAL (start code with no payload) is an error."""
    raw = bytes(raw)
    n = len(raw)
    # find first start code
    starts = []
    i = 0
    while i + 2 < n:
        if raw[i] == 0 and raw[i + 1] == 0 and raw[i + 2] == 1:
            starts.append(i)
            i += 3
        else:
            i += 1
    if not starts:
        return "no_start_code"
    if any(b != 0 for b in raw[: starts[0]]):
        return "garbage_before_start"
    nals = []
    for k, s in enumerate(starts):
        body_start = s + 3
        body_end = starts[k + 1] if k + 1 < len(starts) else n
        # trailing zero_bytes before the NEXT start code belong to the
        # separator, not the NAL
        while body_end > body_start and raw[body_end - 1] == 0:
            body_end -= 1
        if body_end <= body_start:
            return f"empty_nal@{k}"
        nals.append(raw[body_start:body_end])
    return nals


def _rbsp_trailing_ok(r: _BitReader) -> bool:
    """§7.3.2.11: stop bit 1 then zero bits to the byte boundary; any
    remaining whole bytes in SPS/PPS would mean we mis-parsed."""
    try:
        if r.u(1) != 1:
            return False
    except ValueError:
        return False
    while r.pos % 8:
        if r.u(1) != 0:
            return False
    return r.bits_left() == 0


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt else last


_HIGH_PROFILES = frozenset(
    (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
)


def parse_sps(rbsp: bytes) -> dict:
    """seq_parameter_set_rbsp (§7.3.2.1.1) — raises ValueError on a
    malformed/truncated SPS."""
    r = _BitReader(rbsp)
    profile_idc = r.u(8)
    r.u(8)  # constraint_set flags + reserved_zero_2bits
    level_idc = r.u(8)
    sps_id = r.ue()
    chroma_format_idc = 1
    separate_colour = 0
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour = r.u(1)
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass
        if r.u(1):  # seq_scaling_matrix_present
            for k in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if k < 6 else 64)
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    elif poc_type > 2:
        raise ValueError("bad_poc_type")
    max_num_ref_frames = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed
    w_mbs = r.ue() + 1
    h_map = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field
    r.u(1)  # direct_8x8_inference
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    vui_present = r.u(1)
    if not vui_present and not _rbsp_trailing_ok(r):
        raise ValueError("bad_sps_trailing")
    # §7.4.2.1.1 crop-unit arithmetic
    if separate_colour or chroma_format_idc == 0:
        cw, ch = 1, 2 - frame_mbs_only
    else:
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        cw, ch = sub_w, sub_h * (2 - frame_mbs_only)
    width = w_mbs * 16 - cw * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * h_map * 16 - ch * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        raise ValueError("bad_crop")
    return {
        "sps_id": sps_id,
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "chroma_format_idc": chroma_format_idc,
        "log2_max_frame_num": log2_max_frame_num,
        "max_num_ref_frames": max_num_ref_frames,
        "width": width,
        "height": height,
    }


def parse_pps(rbsp: bytes) -> dict:
    """pic_parameter_set_rbsp (§7.3.2.2), ids + entropy mode only; FMO
    (num_slice_groups > 1) is flagged, not parsed."""
    r = _BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    entropy_cabac = r.u(1)
    r.u(1)  # bottom_field_pic_order_in_frame_present
    if r.ue() != 0:  # num_slice_groups_minus1
        raise ValueError("fmo_unsupported")
    return {"pps_id": pps_id, "sps_id": sps_id, "cabac": entropy_cabac}


def _peek_slice_header(rbsp: bytes, sps: dict, pps_ids: set) -> dict:
    r = _BitReader(rbsp)
    first_mb = r.ue()
    slice_type = r.ue()
    pps_id = r.ue()
    if slice_type > 9:
        raise ValueError("bad_slice_type")
    if pps_id not in pps_ids:
        raise ValueError("unknown_pps")
    r.u(sps["log2_max_frame_num"])  # frame_num
    return {"first_mb": first_mb, "slice_type": slice_type}


H264 = Walker(
    "video_h264_profile",
    [
        ("n_nals", T.IntegerType()),
        ("n_frames", T.IntegerType()),
        ("n_idr", T.IntegerType()),
        ("n_slices", T.IntegerType()),
        ("profile_idc", T.IntegerType()),
        ("level_idc", T.IntegerType()),
        ("width", T.IntegerType()),
        ("height", T.IntegerType()),
    ],
    """struct(ok, error, n_nals, n_frames, n_idr, n_slices, profile_idc,
    level_idc, width, height): Annex B NAL discipline + SPS/PPS parse +
    slice-header frame counting per stream, one Arrow hop.""",
)


@H264.parser
def parse_h264_stream(raw: bytes) -> dict:
    """Full structural walk of one Annex B stream → profile dict."""
    nals = split_annexb_nals(raw)
    if isinstance(nals, str):
        return H264.fail(nals)
    sps: Optional[dict] = None
    pps_ids: set = set()
    n_frames = n_idr = n_slices = 0
    saw_picture = False
    for k, nal in enumerate(nals):
        hdr = nal[0]
        if hdr & 0x80:
            return H264.fail(f"forbidden_bit@{k}")
        ntype = hdr & 0x1F
        ref_idc = (hdr >> 5) & 0x3
        if ntype in _RESERVED_TYPES:
            return H264.fail(f"reserved_nal@{k}")
        rbsp, err = _ebsp_to_rbsp(nal[1:])
        if err:
            return H264.fail(f"{err}@{k}")
        try:
            if ntype == NAL_SPS:
                sps = parse_sps(rbsp)
            elif ntype == NAL_PPS:
                if sps is None:
                    return H264.fail(f"pps_before_sps@{k}")
                p = parse_pps(rbsp)
                if p["sps_id"] != sps["sps_id"]:
                    return H264.fail(f"unknown_sps@{k}")
                pps_ids.add(p["pps_id"])
            elif ntype in (NAL_SLICE, NAL_IDR):
                if sps is None:
                    return H264.fail(f"slice_before_sps@{k}")
                if not pps_ids:
                    return H264.fail(f"slice_before_pps@{k}")
                sh = _peek_slice_header(rbsp, sps, pps_ids)
                if ntype == NAL_IDR and ref_idc == 0:
                    return H264.fail(f"idr_without_ref@{k}")
                n_slices += 1
                if sh["first_mb"] == 0:
                    n_frames += 1
                    if not saw_picture and ntype != NAL_IDR:
                        return H264.fail(f"no_idr_start@{k}")
                    saw_picture = True
                    if ntype == NAL_IDR:
                        n_idr += 1
                elif not saw_picture:
                    return H264.fail(f"fragment_start@{k}")
            # SEI / AUD / filler: structurally fine, not parsed
        except ValueError as e:
            return H264.fail(f"{e}@{k}")
    if sps is None:
        return H264.fail("missing_sps")
    if n_frames == 0:
        return H264.fail("no_frames")
    return {
        "ok": True, "error": None, "n_nals": len(nals),
        "n_frames": n_frames, "n_idr": n_idr, "n_slices": n_slices,
        "profile_idc": sps["profile_idc"], "level_idc": sps["level_idc"],
        "width": sps["width"], "height": sps["height"],
    }


h264_profile_batch = H264.batch
video_h264_profile = H264.column


# ---- bit-exact stream writer (ledger corpora + tests) -----------------------


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def ue(self, k: int) -> None:
        zeros = (k + 1).bit_length() - 1
        self.u(0, zeros)
        self.u(k + 1, zeros + 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def rbsp_trailing(self) -> None:
        self.u(1, 1)
        while len(self.bits) % 8:
            self.u(0, 1)

    def bytes(self) -> bytes:
        assert len(self.bits) % 8 == 0
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _rbsp_to_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes (§7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _nal(ntype: int, rbsp: bytes, ref_idc: int = 3,
         forbidden: bool = False) -> bytes:
    hdr = (0x80 if forbidden else 0) | (ref_idc << 5) | ntype
    return b"\x00\x00\x00\x01" + bytes((hdr,)) + _rbsp_to_ebsp(rbsp)


def build_sps(
    profile_idc: int = 66,
    level_idc: int = 30,
    width_mbs: int = 4,
    height_mbs: int = 3,
    crop_right: int = 0,
    crop_bottom: int = 0,
    log2_max_frame_num: int = 8,
    poc_type: int = 0,
) -> bytes:
    """Conforming SPS RBSP (frame_mbs_only, 4:2:0 for High)."""
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)
    w.u(level_idc, 8)
    w.ue(0)  # sps_id
    if profile_idc in _HIGH_PROFILES:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)
        w.u(0, 1)  # no scaling matrix
    w.ue(log2_max_frame_num - 4)
    w.ue(poc_type)
    if poc_type == 0:
        w.ue(2)  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        w.u(0, 1)
        w.se(0)
        w.se(0)
        w.ue(1)
        w.se(2)
    w.ue(2)  # max_num_ref_frames
    w.u(0, 1)
    w.ue(width_mbs - 1)
    w.ue(height_mbs - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_right or crop_bottom:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right)
        w.ue(0)
        w.ue(crop_bottom)
    else:
        w.u(0, 1)
    w.u(0, 1)  # no VUI
    w.rbsp_trailing()
    return w.bytes()


def build_pps() -> bytes:
    w = _BitWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(0, 1)  # CAVLC
    w.u(0, 1)
    w.ue(0)  # one slice group
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred
    w.u(0, 2)  # weighted_bipred
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(0, 1)
    w.u(0, 1)
    w.u(0, 1)
    w.rbsp_trailing()
    return w.bytes()


def build_slice_nal(
    idr: bool,
    frame_num: int,
    first_mb: int = 0,
    payload_bytes: int = 40,
    seed: int = 0,
    log2_max_frame_num: int = 8,
) -> bytes:
    """Slice NAL: spec-exact header prefix (first_mb/slice_type/pps_id/
    frame_num[/idr_pic_id]) + opaque seeded payload. The walker only
    peeks the prefix, so the payload is free bytes (EPB-escaped by
    _nal)."""
    w = _BitWriter()
    w.ue(first_mb)
    w.ue(7 if idr else 5)  # I / P slice (all-pictures variants)
    w.ue(0)  # pps_id
    w.u(frame_num % (1 << log2_max_frame_num), log2_max_frame_num)
    if idr:
        w.ue(frame_num % 3)  # idr_pic_id
    w.rbsp_trailing()  # byte-align; remaining payload is opaque
    head = w.bytes()
    body = bytes(((i * 29 + seed * 13 + 7) % 251) for i in range(payload_bytes))
    return _nal(NAL_IDR if idr else NAL_SLICE, head + body,
                ref_idc=3 if idr else 2)


def encode_h264_stream(
    n_frames: int,
    profile_idc: int = 66,
    width_mbs: int = 4,
    height_mbs: int = 3,
    crop_right: int = 0,
    crop_bottom: int = 0,
    slices_per_frame: int = 1,
    poc_type: int = 0,
    idr_period: int = 8,
    seed: int = 0,
    payload_bytes: int = 40,
) -> bytes:
    """Deterministic conforming Annex B stream: SPS, PPS, then
    ``n_frames`` coded pictures (IDR every ``idr_period``), each split
    into ``slices_per_frame`` slices (only the first has
    first_mb_in_slice == 0 — the frame-counting signal)."""
    mbs = width_mbs * height_mbs
    out = [
        _nal(NAL_SPS, build_sps(profile_idc, 30, width_mbs, height_mbs,
                                crop_right, crop_bottom, poc_type=poc_type)),
        _nal(NAL_PPS, build_pps()),
    ]
    for f in range(n_frames):
        idr = f % idr_period == 0
        for s in range(slices_per_frame):
            first_mb = (mbs * s) // slices_per_frame
            out.append(
                build_slice_nal(
                    idr, f, first_mb,
                    payload_bytes + (seed + f * 3 + s) % 23,
                    seed + f * 7 + s,
                )
            )
    return b"".join(out)
