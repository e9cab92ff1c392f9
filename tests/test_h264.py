"""H.264 Annex B structural walk (functions/h264.py) — VERDICT r3
item 7: NAL discipline, SPS/PPS parse, slice-header frame counting.
Spec: ITU-T Rec. H.264 §7.3/§7.4/§9.1 (public)."""

import numpy as np
import pytest

from jsonschema_spark.functions.h264 import (
    NAL_PPS,
    NAL_SPS,
    _BitReader,
    _BitWriter,
    _ebsp_to_rbsp,
    _nal,
    _rbsp_to_ebsp,
    build_pps,
    build_slice_nal,
    build_sps,
    encode_h264_stream,
    parse_h264_stream,
    parse_sps,
    split_annexb_nals,
)


def test_exp_golomb_round_trip():
    w = _BitWriter()
    vals = [0, 1, 2, 3, 7, 8, 254, 255, 1000]
    svals = [0, 1, -1, 2, -2, 17, -40]
    for v in vals:
        w.ue(v)
    for v in svals:
        w.se(v)
    w.rbsp_trailing()
    r = _BitReader(w.bytes())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_epb_round_trip_and_violation():
    for payload in (b"\x00\x00\x00", b"\x00\x00\x01\x00\x00\x02",
                    b"\x00" * 10, bytes(range(256))):
        ebsp = _rbsp_to_ebsp(payload)
        # escaped stream never contains a forbidden 00 00 0x run
        back, err = _ebsp_to_rbsp(ebsp)
        assert err is None and back == payload
    assert _ebsp_to_rbsp(b"\x10\x00\x00\x01\x20")[1] == "epb_violation"


def test_sps_dimensions_with_crop():
    # 1920x1080: 120x68 MBs, crop_bottom 4 (4:2:0 -> crop unit 2)
    sps = parse_sps(build_sps(100, 40, 120, 68, 0, 4))
    assert (sps["width"], sps["height"]) == (1920, 1080)
    sps = parse_sps(build_sps(66, 30, 4, 3))
    assert (sps["width"], sps["height"]) == (64, 48)


def test_frame_counting_multi_slice():
    p = parse_h264_stream(encode_h264_stream(9, slices_per_frame=3, seed=2))
    assert p["ok"] and p["n_frames"] == 9 and p["n_slices"] == 27
    assert p["n_idr"] == 2  # idr_period 8 -> frames 0 and 8


def test_failure_taxonomy_exact_errors():
    head = _nal(NAL_SPS, build_sps()) + _nal(NAL_PPS, build_pps())
    assert parse_h264_stream(b"nonsense")["error"] == "no_start_code"
    assert parse_h264_stream(build_slice_nal(True, 0))["error"] == (
        "slice_before_sps@0"
    )
    assert parse_h264_stream(
        _nal(NAL_SPS, build_sps()) + build_slice_nal(True, 0)
    )["error"] == "slice_before_pps@1"
    assert parse_h264_stream(
        head + build_slice_nal(False, 0)
    )["error"] == "no_idr_start@2"
    assert parse_h264_stream(
        head + _nal(17, b"\x01")
    )["error"] == "reserved_nal@2"
    sl = build_slice_nal(True, 0)
    assert parse_h264_stream(
        head + sl[:4] + bytes((sl[4] | 0x80,)) + sl[5:]
    )["error"] == "forbidden_bit@2"
    assert parse_h264_stream(
        head + b"\x00\x00\x00\x01\x65\x10\x00\x00\x02\x44"
    )["error"] == "epb_violation@2"
    assert parse_h264_stream(_nal(NAL_SPS, build_sps()[:3]))["error"] == (
        "truncated@0"
    )


def test_ledger_corpus_independent_pin():
    """Every ledger row's planted truth equals the walker's verdict —
    the generator-arithmetic contract the oracle relies on."""
    from jsonschema_spark.sources.videos import H264_CLASS_MOD, _h264_row

    for i in range(3 * H264_CLASS_MOD):
        row = _h264_row(i)
        p = parse_h264_stream(bytes(row[1]))
        got = (p["ok"], p["error"], p["n_nals"], p["n_frames"], p["n_idr"],
               p["n_slices"], p["profile_idc"], p["level_idc"], p["width"],
               p["height"])
        assert got == row[3:], (i, got, row[3:])


def test_walker_never_crashes_on_random_tears():
    import random

    from jsonschema_spark.functions.h264 import h264_profile_batch
    from tests.test_walkers import assert_walker_contract, seeded_tears

    raw = encode_h264_stream(6, slices_per_frame=2, seed=5)
    tears = list(seeded_tears(raw, random.Random(4), 150))
    assert_walker_contract(h264_profile_batch, tears)
    for cand in tears:
        split_annexb_nals(cand)
