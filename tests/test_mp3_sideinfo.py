"""MP3 Layer III side-info + bit-reservoir tier
(functions/mp3_sideinfo.py) — ISO 11172-3 §2.4.1.7 / 13818-3 LSF."""

import pytest

from jsonschema_spark.functions.mp3_sideinfo import (
    encode_sideinfo_stream,
    parse_mp3_sideinfo,
    parse_sideinfo_bits,
)


@pytest.mark.parametrize(
    "cfg",
    [
        dict(version_id=3, sr_hz=44100, mode="stereo",
             bitrates_kbps=(128,)),
        dict(version_id=3, sr_hz=32000, mode="mono", bitrates_kbps=(64,)),
        dict(version_id=2, sr_hz=16000, mode="mono", bitrates_kbps=(48,)),
        dict(version_id=3, sr_hz=48000, mode="stereo",
             bitrates_kbps=(96,), short_every=3),
        dict(version_id=3, sr_hz=44100, mode="stereo",
             bitrates_kbps=(64, 96, 128)),
        dict(version_id=0, sr_hz=11025, mode="stereo",
             bitrates_kbps=(32,)),
    ],
)
def test_round_trip_ledger_equals_walker(cfg):
    raw, led = encode_sideinfo_stream(n_frames=9, seed=5, **cfg)
    assert parse_mp3_sideinfo(raw) == led
    assert led["ok"] and led["n_frames"] == 9


def test_reservoir_schedule_is_real():
    """main_data_begin must actually vary across the stream (a corpus
    whose mdb is uniformly 0 would not exercise the back-pointer)."""
    raw, led = encode_sideinfo_stream(
        n_frames=12, version_id=3, sr_hz=32000, mode="mono",
        bitrates_kbps=(64,), seed=3,
    )
    assert led["reservoir_frames"] >= 6 and led["max_mdb"] > 20
    # and frame 0 always has mdb == 0 (nothing to point back into)
    no_res, led0 = encode_sideinfo_stream(
        n_frames=4, reservoir=False, seed=3,
    )
    assert led0["max_mdb"] == 0 and parse_mp3_sideinfo(no_res)["ok"]


@pytest.mark.parametrize(
    "kind,idx,cfg,err",
    [
        ("mid_reservoir", 0,
         dict(mode="mono", bitrates_kbps=(64,)),
         "reservoir_underflow@0"),
        ("part23_overflow", 3,
         dict(mode="mono", bitrates_kbps=(32,)),
         "part23_overflow@3"),
        ("bad_block_type", 2,
         dict(mode="stereo", bitrates_kbps=(128,)),
         "bad_block_type@2"),
        ("bad_table_select", 4,
         dict(mode="stereo", bitrates_kbps=(112,)),
         "bad_table_select@4"),
        ("big_values", 1,
         dict(mode="mono", bitrates_kbps=(80,)),
         "big_values_overflow@1"),
    ],
)
def test_failure_taxonomy_exact_errors(kind, idx, cfg, err):
    raw, led = encode_sideinfo_stream(
        n_frames=6, seed=9, plant=(kind, idx), **cfg
    )
    got = parse_mp3_sideinfo(raw)
    assert got == led
    assert got["ok"] is False and got["error"] == err


def test_mid_reservoir_plant_needs_room_past_the_reservoir():
    """A back-pointer can only underflow while the reservoir holds fewer
    than pointer_max bytes; past that the plant must refuse rather than
    write a valid stream that the ledger calls invalid."""
    raw, led = encode_sideinfo_stream(
        n_frames=6, seed=9, plant=("mid_reservoir", 1),
        mode="mono", bitrates_kbps=(32,),
    )
    assert parse_mp3_sideinfo(raw) == led
    assert led["error"] == "reservoir_underflow@1"
    with pytest.raises(ValueError, match="mid_reservoir@3"):
        encode_sideinfo_stream(
            n_frames=6, seed=9, plant=("mid_reservoir", 3),
            mode="stereo", bitrates_kbps=(128,),
        )


def test_cut_stream_signature():
    """Byte-slicing a reservoir-active stream at a frame boundary (no
    reservoir flush) trips the back-pointer check — the real-world use
    of main_data_begin validation."""
    raw, led = encode_sideinfo_stream(
        n_frames=10, version_id=3, sr_hz=32000, mode="mono",
        bitrates_kbps=(64,), seed=4,
    )
    from jsonschema_spark.functions.mp3 import frame_length

    ln = frame_length(3, 3, 64000, 32000, 0)
    # drop the first 3 frames: the new "first" frame's mdb points into
    # data that is no longer there
    cut = raw[3 * ln :]
    got = parse_mp3_sideinfo(cut)
    assert got["ok"] is False
    assert got["error"] == "reservoir_underflow@0"


def test_sideinfo_bit_layout_sizes():
    """The bit layout must consume exactly the spec's side-info bytes:
    MPEG-1 17 mono / 32 stereo, LSF 9 / 17."""
    from jsonschema_spark.functions.mp3 import _side_info_len
    from jsonschema_spark.functions.mp3_sideinfo import _BitReader

    raw, _ = encode_sideinfo_stream(n_frames=1, version_id=3,
                                    sr_hz=44100, mode="stereo",
                                    bitrates_kbps=(128,), seed=1)
    si = raw[4 : 4 + 32]
    r = parse_sideinfo_bits(si, 3, False)
    assert r["ngr"] == 2 and r["nch"] == 2 and len(r["granules"]) == 4
    raw, _ = encode_sideinfo_stream(n_frames=1, version_id=2,
                                    sr_hz=16000, mode="mono",
                                    bitrates_kbps=(48,), seed=1)
    r = parse_sideinfo_bits(raw[4 : 4 + 9], 2, True)
    assert r["ngr"] == 1 and r["nch"] == 1 and len(r["granules"]) == 1
    assert _side_info_len(3, False) == 32 and _side_info_len(2, True) == 9


def test_non_layer3_and_tears():
    import random

    from jsonschema_spark.functions.mp3 import encode_mp3_stream
    from jsonschema_spark.functions.mp3_sideinfo import (
        sideinfo_profile_batch,
    )
    from tests.test_walkers import assert_walker_contract, seeded_tears

    l2 = encode_mp3_stream(3, 3, 2, 44100, "stereo", (128,), seed=2)
    assert parse_mp3_sideinfo(l2)["error"] == "not_layer3@0"
    raw, _ = encode_sideinfo_stream(n_frames=8, seed=7)
    assert parse_mp3_sideinfo(raw[: len(raw) - 5])["error"] == "truncated@7"
    assert_walker_contract(
        sideinfo_profile_batch, seeded_tears(raw, random.Random(31), 150)
    )


def test_ledger_corpus_matches_walker(spark):
    from jsonschema_spark.functions.mp3_sideinfo import (
        audio_mp3_sideinfo_profile,
    )
    from jsonschema_spark.sources.clips import (
        MP3SI_CLASS_MOD,
        corpus,
        synth_mp3si_clips,
    )

    n = 4 * MP3SI_CLASS_MOD
    clips, _ = corpus(spark, synth_mp3si_clips, n)
    got = clips.select(
        "_row_idx", "_ok", "_err", "_n_frames", "_n_granules",
        "_part23_bits", "_max_mdb", "_short_blocks", "_reservoir_frames",
        audio_mp3_sideinfo_profile("bytes").alias("p"),
    ).collect()
    assert len(got) == n
    for r in got:
        assert r["p"]["ok"] == r["_ok"], r["_row_idx"]
        assert r["p"]["error"] == r["_err"], r["_row_idx"]
        if r["_ok"]:
            assert r["p"]["n_frames"] == r["_n_frames"]
            assert r["p"]["n_granules"] == r["_n_granules"]
            assert r["p"]["part23_bits"] == r["_part23_bits"]
            assert r["p"]["max_mdb"] == r["_max_mdb"]
            assert r["p"]["short_blocks"] == r["_short_blocks"]
            assert r["p"]["reservoir_frames"] == r["_reservoir_frames"]


def test_id3_tags_skipped():
    from jsonschema_spark.functions.mp3 import _id3v1, _id3v2

    raw, led = encode_sideinfo_stream(n_frames=5, seed=6)
    tagged = _id3v2(240, seed=1) + raw + _id3v1(2)
    assert parse_mp3_sideinfo(tagged) == led


def test_suggest_drafts_mp3_sideinfo_gate(spark):
    """A uniformly-mp3 corpus drafts the side-info gate anchored at
    the measured failure rate (the adts-drafting pattern)."""
    from jsonschema_spark.operators.suggest import (
        as_suite_config,
        column_suggestions,
    )
    from jsonschema_spark.operators.suite import run_suite

    rows = []
    for i in range(6):
        raw, _ = encode_sideinfo_stream(n_frames=5, seed=i)
        rows.append((f"c{i}", bytearray(raw), 44100, 200, "mp3", "x"))
    bad, _ = encode_sideinfo_stream(
        n_frames=4, seed=99, plant=("bad_table_select", 1),
        mode="stereo", bitrates_kbps=(112,), sr_hz=48000,
    )
    rows.append(("c-bad", bytearray(bad), 48000, 100, "mp3", "y"))
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    sugg = column_suggestions(df, ["clip_id", "codec"])
    cfg = as_suite_config(df, sugg, table="clips")
    drafted = [c for c in cfg["checks"] if c["type"] == "mp3_sideinfo"]
    assert len(drafted) == 1
    assert abs(drafted[0]["max_violation_rate"] - 0.143) < 1e-9
    rep = {r["check_name"]: r
           for r in run_suite({"clips": df}, cfg).collect()}
    assert rep["clips_mp3_sideinfo"]["status"] == "pass"


def test_part2_accounting_and_scfsi():
    """Round-5b: scalefactor (part2) bits must fit part2_3_length;
    scfsi suppresses granule-1 long-block group transmission."""
    from jsonschema_spark.functions.mp3_sideinfo import (
        SLEN_TABLE,
        part2_bits_mpeg1,
    )

    # slen spot values from ISO 11172-3 §2.4.2.7
    assert SLEN_TABLE[0] == (0, 0) and SLEN_TABLE[15] == (4, 3)
    g_long = {"scalefac_compress": 15, "ws": 0, "block_type": 0,
              "mixed": 0}
    assert part2_bits_mpeg1(g_long, 0, 0) == 11 * 4 + 10 * 3
    g_short = {"scalefac_compress": 15, "ws": 1, "block_type": 2,
               "mixed": 0}
    assert part2_bits_mpeg1(g_short, 0, 0) == 18 * 4 + 18 * 3
    # scfsi groups 0+2 shared: granule 1 drops 6*slen1 + 5*slen2
    assert part2_bits_mpeg1(g_long, 1, 0b1010) == (
        11 * 4 + 10 * 3 - 6 * 4 - 5 * 3
    )
    # granule 0 never shares
    assert part2_bits_mpeg1(g_long, 0, 0b1111) == 11 * 4 + 10 * 3
    # short granules transmit in full regardless of scfsi
    assert part2_bits_mpeg1(g_short, 1, 0b1111) == 18 * 4 + 18 * 3

    raw, led = encode_sideinfo_stream(
        n_frames=6, seed=4, plant=("part2_overflow", 2),
        mode="stereo", bitrates_kbps=(96,),
    )
    got = parse_mp3_sideinfo(raw)
    assert got == led and got["error"] == "part2_overflow@2"

    raw, led = encode_sideinfo_stream(
        n_frames=7, seed=5, scfsi_groups=0b1010,
        mode="stereo", bitrates_kbps=(128,),
    )
    assert parse_mp3_sideinfo(raw) == led and led["ok"]


def test_lsf_part2_bits_by_block_shape():
    """13818-3 §2.4.3.2: slen1..4 from the 9-bit scalefac_compress, the
    count row by its range, the column by block shape; the right channel
    of an intensity-stereo frame reads the halved value (rows 3-5)."""
    from jsonschema_spark.functions.mp3_sideinfo import LSF_NR_OF_SFB, part2_bits_lsf

    for row in LSF_NR_OF_SFB:
        assert [sum(c) for c in row] == [21, 36, 33]

    def g(sfc, **kw):
        return {"scalefac_compress": sfc, "ws": 0, "block_type": 0, "mixed": 0, **kw}

    # 399 -> row 0, slen (4, 4, 3, 3)
    assert part2_bits_lsf(g(399), False) == 6 * 4 + 5 * 4 + 5 * 3 + 5 * 3
    assert part2_bits_lsf(g(399, ws=1, block_type=2), False) == 9 * (4 + 4 + 3 + 3)
    assert part2_bits_lsf(g(399, ws=1, block_type=2, mixed=1), False) == (
        6 * 4 + 9 * 4 + 9 * 3 + 9 * 3
    )
    # 499 -> row 1, slen (4, 4, 3, 0); 511 -> row 2, slen (3, 2, 0, 0)
    assert part2_bits_lsf(g(499), False) == 6 * 4 + 5 * 4 + 7 * 3
    assert part2_bits_lsf(g(511), False) == 11 * 3 + 10 * 2
    # intensity right channel: 511 >> 1 = 255 -> row 5, slen (3, 2, 0, 0);
    # 100 >> 1 = 50 -> row 3, slen (1, 2, 2, 0); 400 >> 1 = 200 -> row 4,
    # slen (1, 1, 0, 0)
    assert part2_bits_lsf(g(511), True) == 8 * 3 + 8 * 2
    assert part2_bits_lsf(g(100), True) == 7 * 1 + 7 * 2 + 7 * 2
    assert part2_bits_lsf(g(400), True) == 6 * 1 + 6 * 1


def _lsf_joint_frame(part23_right: int, intensity: bool) -> bytes:
    from jsonschema_spark.functions.mp3_sideinfo import (
        _default_granule,
        build_l3_sideinfo_frame,
    )

    left = _default_granule(11, False, 100)
    left["scalefac_compress"] = 0
    right = _default_granule(12, False, part23_right)
    right["scalefac_compress"] = 511  # 53 part2 bits; 40 under intensity
    frame = bytearray(
        build_l3_sideinfo_frame(2, 64, 22050, "joint", 0, [left, right], seed=3)
    )
    if intensity:
        frame[3] |= 0x10  # mode_extension bit 0: intensity stereo
    return bytes(frame)


def test_lsf_part2_overflow_mutant():
    """A hand-built MPEG-2 joint-stereo stream whose second frame declares
    more scalefactor bits than its part2_3_length holds is rejected at
    that frame; the intensity-stereo reading of the same frame fits."""
    ok = _lsf_joint_frame(100, intensity=False)
    assert parse_mp3_sideinfo(ok + _lsf_joint_frame(53, intensity=False))["ok"]
    bad = parse_mp3_sideinfo(ok + _lsf_joint_frame(45, intensity=False))
    assert bad["ok"] is False and bad["error"] == "part2_overflow@1"
    assert parse_mp3_sideinfo(ok + _lsf_joint_frame(45, intensity=True))["ok"]
    bad_is = parse_mp3_sideinfo(ok + _lsf_joint_frame(39, intensity=True))
    assert bad_is["error"] == "part2_overflow@1"


@pytest.mark.parametrize(
    "cfg",
    [
        dict(version_id=2, sr_hz=16000, mode="mono", bitrates_kbps=(48,)),
        dict(version_id=0, sr_hz=11025, mode="stereo", bitrates_kbps=(32,)),
        dict(version_id=2, sr_hz=22050, mode="stereo", bitrates_kbps=(8,)),
    ],
)
def test_lsf_corpus_streams_pass_part2_check(cfg):
    """Every LSF stream the writer emits (the two corpus classes over the
    corpus's seeds, and the smallest-frame bitrate) still walks clean."""
    for seed in range(400):
        raw, led = encode_sideinfo_stream(n_frames=6 + seed % 18, seed=seed, **cfg)
        assert led["ok"] and parse_mp3_sideinfo(raw) == led, seed
