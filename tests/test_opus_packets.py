"""Opus packet-level framing validation (functions/ogg.py, RFC 6716
§3.1/§3.2 + RFC 7845 §4 granule semantics) — VERDICT r2 item 4.

Anchors: every TOC config maps to its RFC frame duration; all four
frame-count codes parse to the exact sample counts; the 1275-byte frame
and 120 ms packet ceilings reject; the end-trim window accepts trims in
[0, last_packet_samples] and rejects granule overshoot; the ledger
corpus matches the walker row-for-row through the Spark UDF.
"""

import pytest

from jsonschema_spark.functions.ogg import (
    _OPUS_CFG_SAMPLES,
    build_opus_packet,
    encode_ogg_opus_framed,
    opus_packet_samples,
    parse_opus_packets,
)


def test_config_table_matches_rfc6716_table2():
    # SILK NB/MB/WB x 10/20/40/60ms
    for band in range(3):
        assert _OPUS_CFG_SAMPLES[band * 4 : band * 4 + 4] == [480, 960, 1920, 2880]
    # Hybrid SWB/FB x 10/20ms
    assert _OPUS_CFG_SAMPLES[12:16] == [480, 960, 480, 960]
    # CELT NB/WB/SWB/FB x 2.5/5/10/20ms
    for band in range(4):
        assert _OPUS_CFG_SAMPLES[16 + band * 4 : 20 + band * 4] == [120, 240, 480, 960]
    assert len(_OPUS_CFG_SAMPLES) == 32


def test_all_four_codes_parse():
    assert opus_packet_samples(build_opus_packet(9, 0, [40])) == (960, 1, None)
    assert opus_packet_samples(build_opus_packet(30, 1, [33, 33])) == (960, 2, None)
    # code 2 with the 2-byte length form (first frame >= 252 bytes)
    assert opus_packet_samples(build_opus_packet(9, 2, [300, 45])) == (1920, 2, None)
    # code 3 VBR + padding chain crossing 255
    p = build_opus_packet(17, 3, [25, 35, 45], vbr=True, pad_len=400)
    assert opus_packet_samples(p) == (720, 3, None)
    # code 3 CBR
    assert opus_packet_samples(build_opus_packet(9, 3, [50, 50])) == (1920, 2, None)


def test_framing_violations_reject():
    assert opus_packet_samples(b"")[2] == "empty_packet"
    # odd CBR split under code 1
    assert opus_packet_samples(bytes(((9 << 3) | 1,)) + b"abc")[2] == "bad_cbr_split"
    # code 3 zero frame count
    assert opus_packet_samples(bytes(((9 << 3) | 3, 0x00)))[2] == "bad_frame_count"
    # 120ms ceiling: 3 x 60ms
    assert (
        opus_packet_samples(build_opus_packet(11, 3, [10, 10, 10]))[2]
        == "packet_too_long"
    )
    # frame over 1275 bytes under code 0
    assert opus_packet_samples(bytes((9 << 3,)) + b"x" * 1276)[2] == "frame_too_long"
    # VBR length pointing past the packet
    assert opus_packet_samples(bytes(((9 << 3) | 2, 200)) + b"x" * 50)[2] == "bad_vbr_len"
    # truncated code-3 header
    assert opus_packet_samples(bytes(((9 << 3) | 3,)))[2] == "truncated_packet"


def test_stream_granule_cross_check():
    pk = [build_opus_packet(9, 0, [40 + j], seed=j) for j in range(5)]
    ok = parse_opus_packets(
        encode_ogg_opus_framed(pk, granule_samples=[960] * 5)
    )
    assert ok["ok"] and ok["sum_samples"] == 4800 and ok["end_trim"] == 0
    # end-trim inside the last packet: fine
    trim = parse_opus_packets(
        encode_ogg_opus_framed(
            pk, granule_samples=[960] * 5, final_granule=4800 - 959
        )
    )
    assert trim["ok"] and trim["end_trim"] == 959
    # overshoot and over-trim both reject
    for g in (4800 + 1, 4800 - 961):
        bad = parse_opus_packets(
            encode_ogg_opus_framed(pk, granule_samples=[960] * 5, final_granule=g)
        )
        assert not bad["ok"] and bad["error"] == "granule_mismatch"


def test_container_errors_surface_first():
    pk = [build_opus_packet(9, 0, [40])]
    raw = encode_ogg_opus_framed(pk, granule_samples=[960])
    assert parse_opus_packets(raw[:-3])["error"] == "truncated"
    b = bytearray(raw)
    b[-1] ^= 0x01
    assert parse_opus_packets(bytes(b))["error"] == "crc_mismatch"
    # a vorbis stream is not an opus packet stream
    from jsonschema_spark.functions.ogg import encode_ogg_vorbis

    assert parse_opus_packets(encode_ogg_vorbis(4))["error"] == "not_opus"


def test_ledger_corpus_matches_walker_via_udf(spark):
    import pyspark.sql.functions as F

    from jsonschema_spark.functions.ogg import audio_opus_packet_profile
    from jsonschema_spark.sources.clips import (
        OPUS_PKT_CLASS_MOD,
        synth_opus_packet_clips,
    )

    clips = synth_opus_packet_clips(spark, 4 * OPUS_PKT_CLASS_MOD)
    prof = clips.select(
        "_row_idx", "_ok", "_err", "_n_audio", "_n_frames",
        "_sum_samples", "_end_trim", "_dur48",
        audio_opus_packet_profile("bytes").alias("p"),
    )
    rows = prof.collect()
    assert len(rows) == 4 * OPUS_PKT_CLASS_MOD
    for r in rows:
        assert r["p"]["ok"] == r["_ok"], r["_row_idx"]
        assert r["p"]["error"] == r["_err"], r["_row_idx"]
        assert r["p"]["n_audio_packets"] == r["_n_audio"], r["_row_idx"]
        assert r["p"]["n_frames"] == r["_n_frames"], r["_row_idx"]
        assert r["p"]["sum_samples"] == r["_sum_samples"], r["_row_idx"]
        assert r["p"]["end_trim"] == r["_end_trim"], r["_row_idx"]
        assert r["p"]["duration_ms"] == r["_dur48"], r["_row_idx"]


# ---------------------------------------------------------------------------
# Vorbis packet discipline (companion tier)
# ---------------------------------------------------------------------------


def test_vorbis_packet_discipline():
    from jsonschema_spark.functions.ogg import (
        encode_ogg_vorbis_framed,
        parse_vorbis_packets,
        vorbis_audio_packet,
        vorbis_header_packets,
    )

    pk = [vorbis_audio_packet(120 + j, j) for j in range(7)]
    ok = parse_vorbis_packets(encode_ogg_vorbis_framed(pk))
    assert ok["ok"] and ok["n_audio_packets"] == 7
    assert (ok["blocksize_0"], ok["blocksize_1"]) == (256, 2048)

    bad = list(pk)
    b = bytearray(bad[3])
    b[0] |= 1
    bad[3] = bytes(b)
    got = parse_vorbis_packets(encode_ogg_vorbis_framed(bad))
    assert got["error"] == "bad_packet_type@3"

    for hdrs, err in [
        (vorbis_header_packets()[:2], "missing_setup"),
        (vorbis_header_packets(blocksize_byte=0x4B), "bad_blocksizes"),
        (vorbis_header_packets(framing=0), "bad_framing"),
    ]:
        got = parse_vorbis_packets(
            encode_ogg_vorbis_framed(pk, header_packets=hdrs)
        )
        assert got["error"] == err and got["ok"] is False


def test_vorbis_ledger_corpus_matches_walker_via_udf(spark):
    from jsonschema_spark.functions.ogg import audio_vorbis_packet_profile
    from jsonschema_spark.sources.clips import (
        VORBIS_PKT_CLASS_MOD,
        synth_vorbis_packet_clips,
    )

    clips = synth_vorbis_packet_clips(spark, 3 * VORBIS_PKT_CLASS_MOD)
    rows = clips.select(
        "_row_idx", "_ok", "_err", "_n_audio", "_bs0", "_bs1",
        audio_vorbis_packet_profile("bytes").alias("p"),
    ).collect()
    assert len(rows) == 3 * VORBIS_PKT_CLASS_MOD
    for r in rows:
        assert r["p"]["ok"] == r["_ok"], r["_row_idx"]
        assert r["p"]["error"] == r["_err"], r["_row_idx"]
        assert r["p"]["n_audio_packets"] == r["_n_audio"], r["_row_idx"]
        assert r["p"]["blocksize_0"] == r["_bs0"], r["_row_idx"]
        assert r["p"]["blocksize_1"] == r["_bs1"], r["_row_idx"]


def test_suite_packet_checks(spark):
    """Declarative suite integration: opus_packets / vorbis_packets
    check types bound the framing-failure fraction."""
    from jsonschema_spark.operators.suite import run_suite
    from jsonschema_spark.sources.clips import (
        OPUS_PKT_CLASS_MOD,
        VORBIS_PKT_CLASS_MOD,
        synth_opus_packet_clips,
        synth_vorbis_packet_clips,
    )

    opus = synth_opus_packet_clips(spark, 2 * OPUS_PKT_CLASS_MOD)
    vorb = synth_vorbis_packet_clips(spark, 2 * VORBIS_PKT_CLASS_MOD)
    cfg = {
        "checks": [
            {"name": "op_strict", "type": "opus_packets",
             "table": "opus", "max_violation_rate": 0.0},
            {"name": "op_loose", "type": "opus_packets",
             "table": "opus", "max_violation_rate": 0.6},
            {"name": "vb_strict", "type": "vorbis_packets",
             "table": "vorbis", "max_violation_rate": 0.0},
            {"name": "vb_loose", "type": "vorbis_packets",
             "table": "vorbis", "max_violation_rate": 0.7},
        ]
    }
    rows = {r["check_name"]: r for r in run_suite(
        {"opus": opus, "vorbis": vorb}, cfg).collect()}
    # 4 of 8 opus classes and 4 of 6 vorbis classes are planted failures
    assert rows["op_strict"]["status"] == "fail"
    assert rows["op_loose"]["status"] == "pass"
    assert abs(rows["op_strict"]["metric"] - 0.5) < 1e-9
    assert rows["vb_strict"]["status"] == "fail"
    assert rows["vb_loose"]["status"] == "pass"
    assert abs(rows["vb_strict"]["metric"] - 4 / 6) < 1e-9


def test_suggest_drafts_packet_checks(spark):
    """suggest drafts opus_packets / vorbis_packets checks for corpora
    whose codec column is uniformly that codec, anchored to the
    measured failure rate (must-pass-on-draft-data)."""
    from jsonschema_spark.operators.suggest import (
        as_suite_config,
        column_suggestions,
    )
    from jsonschema_spark.operators.suite import run_suite
    from jsonschema_spark.sources.clips import (
        synth_opus_packet_clips,
        synth_vorbis_packet_clips,
    )

    opus = synth_opus_packet_clips(spark, 16).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    )
    drafted = as_suite_config(
        opus, column_suggestions(opus, ["clip_id", "sr_hz"]), table="t"
    )
    op = [c for c in drafted["checks"] if c["type"] == "opus_packets"]
    assert len(op) == 1 and op[0]["max_violation_rate"] >= 0.5
    assert not [c for c in drafted["checks"] if c["type"] == "vorbis_packets"]
    rep = run_suite({"t": opus}, {"checks": op}).collect()
    assert rep[0]["status"] == "pass"  # drafted suites pass by construction

    vorb = synth_vorbis_packet_clips(spark, 12).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    )
    drafted_v = as_suite_config(
        vorb, column_suggestions(vorb, ["clip_id"]), table="t"
    )
    vb = [c for c in drafted_v["checks"] if c["type"] == "vorbis_packets"]
    assert len(vb) == 1
    assert not [c for c in drafted_v["checks"] if c["type"] == "opus_packets"]


def test_opus_packet_profile_streaming_parity(spark, tmp_path):
    """The packet walk is a stateless Arrow-hop transform — identical
    verdicts under readStream (north rule: one compiled plan, batch
    and streaming)."""
    import pyspark.sql.functions as F

    from jsonschema_spark.functions.ogg import audio_opus_packet_profile
    from jsonschema_spark.sources.clips import synth_opus_packet_clips

    d = str(tmp_path / "opus_pkt")
    synth_opus_packet_clips(spark, 24).drop(
        "_ok", "_err", "_n_audio", "_n_frames", "_sum_samples",
        "_end_trim", "_dur48", "_row_idx",
    ).write.mode("overwrite").parquet(d)
    batch = spark.read.parquet(d)

    def prof(df):
        p = audio_opus_packet_profile("bytes")
        return df.select(
            "clip_id", p["ok"].alias("ok"), p["error"].alias("err"),
            p["sum_samples"].alias("ss"),
        )

    want = sorted(tuple(r) for r in prof(batch).collect())
    q = (
        prof(spark.readStream.schema(batch.schema).parquet(d))
        .writeStream.format("memory").queryName("q_opus_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_op"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM q_opus_stream").collect()
    )
    assert got == want


def test_opus_packet_fuzz_random_framings():
    """Bounded fuzz: random valid packets across all configs, codes,
    VBR/CBR, padding chains and the 2-byte length form must parse to
    the constructed (samples, frames); random mutations must never
    crash (always a verdict, never an exception)."""
    import random

    rng = random.Random(31)
    for trial in range(200):
        config = rng.randrange(32)
        fs = _OPUS_CFG_SAMPLES[config]
        code = rng.randrange(4)
        if code == 0:
            sizes = [rng.randrange(0, 300)]
        elif code == 1:
            s = rng.randrange(0, 300)
            sizes = [s, s]
        elif code == 2:
            sizes = [rng.randrange(0, 600), rng.randrange(0, 300)]
        vbr = False
        if code == 3:
            m = rng.randint(1, max(1, min(48, 5760 // fs)))
            vbr = rng.random() < 0.5
            sizes = (
                [rng.randrange(0, 200) for _ in range(m)]
                if vbr
                else [rng.randrange(0, 200)] * m
            )
        pad = rng.choice([0, 0, 3, 254, 255, 400]) if code == 3 else 0
        pkt = build_opus_packet(
            config, code, sizes, seed=trial, vbr=vbr, pad_len=pad,
        )
        samples, frames, err = opus_packet_samples(pkt)
        assert err is None, (trial, config, code, sizes, err)
        assert frames == len(sizes)
        assert samples == len(sizes) * fs
        # mutation: flip a random byte / truncate — verdict, not crash
        b = bytearray(pkt)
        if b:
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        opus_packet_samples(bytes(b))
        opus_packet_samples(pkt[: rng.randrange(len(pkt) + 1)])


def test_stream_walkers_never_crash_on_random_tears():
    """Stream-level robustness: any prefix/mutation of valid Ogg-Opus /
    Ogg-Vorbis streams yields a verdict, never an exception."""
    import random

    from jsonschema_spark.functions.ogg import (
        encode_ogg_vorbis_framed,
        opus_packet_profile_batch,
        vorbis_audio_packet,
        vorbis_packet_profile_batch,
    )
    from tests.test_walkers import assert_walker_contract, seeded_tears

    rng = random.Random(13)
    pk_o = [build_opus_packet(9, 0, [40 + j], seed=j) for j in range(6)]
    opus = encode_ogg_opus_framed(pk_o, granule_samples=[960] * 6)
    pk_v = [vorbis_audio_packet(100 + j, j) for j in range(6)]
    vorb = encode_ogg_vorbis_framed(pk_v)
    for raw, batch in ((opus, opus_packet_profile_batch),
                       (vorb, vorbis_packet_profile_batch)):
        assert_walker_contract(batch, seeded_tears(raw, rng, 80, 1))


def test_ogg_crc_kernel_identity():
    """The r5 zlib-routed CRC kernel must be bit-identical to the RFC
    3533 parameterization (poly 0x04C11DB7, init 0, unreflected, no
    xorout) — pinned against an independent per-byte table walk."""
    import numpy as np

    from jsonschema_spark.functions.ogg import _OGG_CRC, ogg_crc_pages

    def ref_crc(page):
        c = 0
        for b in page:
            c = ((c << 8) & 0xFFFFFFFF) ^ int(
                _OGG_CRC[((c >> 24) ^ b) & 0xFF]
            )
        return c

    rng = np.random.default_rng(7)
    pages = [
        rng.integers(0, 256, size=int(n), dtype=np.uint8).tobytes()
        for n in rng.integers(0, 6000, size=40)
    ]
    got = ogg_crc_pages(pages)
    assert all(int(g) == ref_crc(p) for g, p in zip(got, pages))
    assert len(ogg_crc_pages([])) == 0
