"""ISO-BMFF / MP4 structural walk (functions/mp4.py) — box discipline,
sample tables, avcC cross-checks. Spec: ISO/IEC 14496-12/-15 (public)."""

import struct

import pytest

from jsonschema_spark.functions.mp4 import (
    encode_mp4_h264,
    parse_avcc,
    parse_mp4,
    walk_boxes,
)


def test_round_trip_video_only():
    p = parse_mp4(encode_mp4_h264(12, seed=1))
    assert p["ok"] and p["video_samples"] == 12
    assert (p["width"], p["height"]) == (64, 48)
    assert p["profile_idc"] == 66 and p["tables_consistent"]
    assert p["duration_ms"] == 12 * 1000 // 25


def test_round_trip_av_high_profile():
    p = parse_mp4(
        encode_mp4_h264(8, width_mbs=5, height_mbs=4, profile_idc=100,
                        audio_samples=3000, audio_sr=8000, seed=2)
    )
    assert p["ok"] and p["n_tracks"] == 2
    assert p["audio_codec"] == "sowt" and p["sample_rate"] == 8000
    assert p["audio_samples"] == 3000 and p["profile_idc"] == 100


def test_largesize_and_to_eof_boxes():
    raw = encode_mp4_h264(4, seed=3)
    # rewrite mdat as a largesize box: size=1 + 64-bit size
    i = raw.index(b"mdat") - 4
    (sz,) = struct.unpack(">I", raw[i : i + 4])
    big = (
        raw[:i]
        + struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", sz + 8)
        + raw[i + 8 : i + sz]
        + raw[i + sz :]
    )
    # chunk offsets shifted by 8 — patch stco
    j = big.index(b"stco")
    n = struct.unpack(">I", big[j + 8 : j + 12])[0]
    b = bytearray(big)
    for k in range(n):
        o = struct.unpack(">I", big[j + 12 + 4 * k : j + 16 + 4 * k])[0]
        b[j + 12 + 4 * k : j + 16 + 4 * k] = struct.pack(">I", o + 8)
    p = parse_mp4(bytes(b))
    assert p["ok"] and p["tables_consistent"], p


def test_failure_taxonomy():
    raw = encode_mp4_h264(10, seed=4)
    assert parse_mp4(raw[:-9])["error"] == "truncated"
    assert parse_mp4(b"\x00\x00\x00\x08free" + raw)["error"] == (
        "missing_ftyp"
    )
    # avcC profile byte disagreeing with its embedded SPS
    a = raw.index(b"avcC")
    b = bytearray(raw)
    b[a + 5] = 244
    assert parse_mp4(bytes(b))["error"] == "avcc_sps_mismatch"
    # stts/stsz disagreement -> consistency gate, not a parse error
    j = raw.index(b"stts")
    b = bytearray(raw)
    cnt = struct.unpack(">I", raw[j + 12 : j + 16])[0]
    b[j + 12 : j + 16] = struct.pack(">I", cnt + 1)
    p = parse_mp4(bytes(b))
    assert p["ok"] and p["tables_consistent"] is False


def test_ledger_corpus_independent_pin():
    from jsonschema_spark.functions.mp4 import MP4_PROFILE_FIELDS
    from jsonschema_spark.sources.videos import MP4_CLASS_MOD, _mp4_row

    for i in range(2 * MP4_CLASS_MOD):
        row = _mp4_row(i)
        p = parse_mp4(bytes(row[1]))
        assert tuple(p[f] for f in MP4_PROFILE_FIELDS) == row[3:], i


def test_walker_never_crashes_on_random_tears():
    import random

    from jsonschema_spark.functions.mp4 import mp4_profile_batch
    from tests.test_walkers import assert_walker_contract, seeded_tears

    raw = encode_mp4_h264(6, audio_samples=1000, seed=5)
    assert_walker_contract(
        mp4_profile_batch, seeded_tears(raw, random.Random(11), 150)
    )


def test_fragmented_round_trip_and_failures():
    """fMP4 fragment layer (§8.8): init + moof/mdat chains, sequence
    discipline, track declaration, trun accounting."""
    from jsonschema_spark.functions.mp4 import (
        encode_mp4_fragmented,
        parse_mp4_fragments,
    )

    p = parse_mp4_fragments(encode_mp4_fragmented(4, 8, seed=1))
    assert p["ok"] and p["fragmented"] and p["n_fragments"] == 4
    assert p["frag_samples"] == 32 and p["seq_ok"] and p["frag_tracks_ok"]
    p = parse_mp4_fragments(encode_mp4_h264(5, seed=2))
    assert p["ok"] and not p["fragmented"]
    assert not parse_mp4_fragments(
        encode_mp4_fragmented(3, seed=3, break_seq=True)
    )["seq_ok"]
    assert not parse_mp4_fragments(
        encode_mp4_fragmented(3, seed=4, stray_track=True)
    )["frag_tracks_ok"]
    raw = encode_mp4_fragmented(3, seed=5)
    assert parse_mp4_fragments(raw[:-9])["error"] == "truncated"
    # moof with its mdat stripped
    i = raw.rindex(b"mdat") - 4
    assert parse_mp4_fragments(raw[:i])["error"] == "moof_without_mdat"


def test_fmp4_ledger_corpus_independent_pin():
    from jsonschema_spark.functions.mp4 import (
        MP4_FRAG_FIELDS,
        parse_mp4_fragments,
    )
    from jsonschema_spark.sources.videos import FMP4_CLASS_MOD, _fmp4_row

    for i in range(2 * FMP4_CLASS_MOD):
        row = _fmp4_row(i)
        p = parse_mp4_fragments(bytes(row[1]))
        assert tuple(p[f] for f in MP4_FRAG_FIELDS) == row[3:], i


# ---- round-5: unknown-duration sentinel + short-body guards -----------------


def test_unknown_duration_sentinel_reports_null():
    """All-ones mvhd duration (version 0) = 'unknown / still recording'
    (live files): duration_ms must be NULL, not an astronomical number
    silently passing duration gates in the wrong direction (r4 ADVICE)."""
    raw = bytearray(encode_mp4_h264(6, seed=9))
    i = bytes(raw).index(b"mvhd")
    b0 = i + 4  # version/flags
    raw[b0 + 16 : b0 + 20] = b"\xff\xff\xff\xff"
    p = parse_mp4(bytes(raw))
    assert p["ok"] is True and p["duration_ms"] is None


def test_empty_mvhd_is_error_row_not_crash():
    """r4 ADVICE repro: an MP4 with an EMPTY mvhd body at EOF raised
    IndexError out of the walker and killed the task."""
    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    mdat = struct.pack(">I", 12) + b"mdat" + b"\x00" * 4
    mvhd = struct.pack(">I", 8) + b"mvhd"  # empty body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    p = parse_mp4(ftyp + mdat + moov)
    assert p["ok"] is False and p["error"] == "bad_mvhd"

    import pandas as pd

    from jsonschema_spark.functions.containers import (
        container_profile_batch,
    )

    rows = container_profile_batch(
        pd.Series([ftyp + mdat + moov], dtype=object)
    )
    assert bool(rows.iloc[0]["ok"]) is False
    assert rows.iloc[0]["error"] == "bad_mvhd"
