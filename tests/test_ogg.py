"""Ogg container walk (functions/ogg.py).

The page-level CRC-32 is pinned against an independent slow bitwise
reference (RFC 3533 parameterization: poly 0x04C11DB7, init 0, MSB
first, no final XOR, CRC field zeroed); round-trips cover Opus and
Vorbis streams, multi-packet pages, and a packet continued across pages
(lacing-255 chain + continuation flag); every failure class must be
named precisely, and page-flag discipline (BOS/EOS/continuation) is
enforced both ways. The ledger corpus's truth is generator arithmetic —
the walker never runs at synth time.
"""

import numpy as np
import pandas as pd
import pytest

from jsonschema_spark.functions.ogg import (
    build_page,
    encode_ogg_opus,
    encode_ogg_vorbis,
    ogg_crc_pages,
    ogg_profile_batch,
    opus_head_packet,
    opus_tags_packet,
    parse_ogg_stream,
)


def _slow_crc(data: bytes) -> int:
    c = 0
    for b in data:
        c ^= b << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) if c & 0x80000000 else (c << 1)
            c &= 0xFFFFFFFF
    return c


def test_batched_crc_matches_bitwise_reference():
    pages = [b"", b"OggS", bytes(range(256)), b"x" * 1000,
             bytes((255 - i) % 256 for i in range(513))]
    got = ogg_crc_pages(pages)
    for p, g in zip(pages, got):
        assert int(g) == _slow_crc(p)


def test_opus_roundtrip():
    raw = encode_ogg_opus(25, channels=1, pre_skip=312, input_sr=16000,
                          seed=3)
    r = parse_ogg_stream(raw)
    assert r["ok"] and r["codec"] == "opus"
    assert (r["channels"], r["pre_skip"], r["sample_rate"]) == (1, 312,
                                                                16000)
    assert r["n_packets"] == 27  # 25 audio + OpusHead + OpusTags
    # RFC 7845 §4.1: granules count all decoded samples from 0 (pre_skip
    # is subtracted at playback, never added to the granule)
    assert r["last_granule"] == 25 * 960
    assert r["duration_ms"] == (25 * 960 - 312) * 1000 // 48000
    assert r["crc_pages"] == r["n_pages"]


def test_vorbis_roundtrip():
    raw = encode_ogg_vorbis(30, channels=2, rate=44100, seed=5)
    r = parse_ogg_stream(raw)
    assert r["ok"] and r["codec"] == "vorbis"
    assert (r["channels"], r["sample_rate"], r["pre_skip"]) == (2, 44100,
                                                                None)
    assert r["n_packets"] == 33  # ident + comment + setup + 30 audio
    assert r["duration_ms"] == 30 * 1024 * 1000 // 44100


def test_continued_packet_across_pages():
    s = 7
    long_pkt = bytes(range(256)) * 2 + b"tail"  # 516 B
    pages = [
        build_page(s, 0, 0, [opus_head_packet()], bos=True),
        build_page(s, 1, 0, [opus_tags_packet()]),
        build_page(s, 2, 960, [long_pkt[:510]], open_ended=True),
        build_page(s, 3, 2 * 960, [long_pkt[510:]], cont=True,
                   eos=True),
    ]
    r = parse_ogg_stream(b"".join(pages))
    assert r["ok"] and r["n_packets"] == 3 and r["n_pages"] == 4
    # flag discipline is enforced BOTH ways: a continuation page without
    # a pending packet...
    bad = [pages[0], pages[1],
           build_page(s, 2, 312, [b"x" * 40], cont=True, eos=True)]
    assert parse_ogg_stream(b"".join(bad))["error"] == "bad_flags"
    # ...and a pending packet never closed before EOS
    bad = pages[:3]
    bad[2] = build_page(s, 2, 312, [long_pkt[:510]], open_ended=True,
                        eos=True)
    assert parse_ogg_stream(b"".join(bad[:3]))["error"] == "truncated"


def test_failure_taxonomy():
    raw = encode_ogg_opus(10, seed=1)
    assert parse_ogg_stream(raw[:-5])["error"] == "truncated"
    b = bytearray(raw)
    b[-3] ^= 0x01  # body byte: the page CRC must catch it
    assert parse_ogg_stream(bytes(b))["error"] == "crc_mismatch"
    assert parse_ogg_stream(b"")["error"] == "no_capture"
    assert parse_ogg_stream(b"\x00" * 40)["error"] == "no_capture"
    b = bytearray(raw)
    b[4] = 1  # stream_structure_version must be 0
    assert parse_ogg_stream(bytes(b))["error"] == "bad_version"
    s = 7
    p0 = build_page(s, 0, 0, [opus_head_packet()], bos=True)
    p1 = build_page(s, 1, 0, [opus_tags_packet()])
    gap = build_page(s, 3, 1272, [b"x" * 50], eos=True)
    assert parse_ogg_stream(p0 + p1 + gap)["error"] == "seq_gap"
    noeos = build_page(s, 2, 1272, [b"x" * 50])
    assert parse_ogg_stream(p0 + p1 + noeos)["error"] == "bad_flags"
    mux = build_page(s + 1, 2, 1272, [b"x" * 50], eos=True)
    assert parse_ogg_stream(p0 + p1 + mux)["error"] == "multiplexed"
    # garbage between valid pages
    assert parse_ogg_stream(p0 + b"JUNKJUNK" * 8)["error"] == (
        "trailing_garbage"
    )
    # unknown first packet
    odd = build_page(s, 0, 0, [b"WhatCodec"], bos=True)
    tail = build_page(s, 1, 99, [b"x" * 20], eos=True)
    assert parse_ogg_stream(odd + tail)["error"] == "bad_ident"


def test_batch_path_equals_single_clip_path():
    raws = [
        encode_ogg_opus(12, seed=2),
        encode_ogg_vorbis(9, seed=4),
        encode_ogg_opus(5, seed=6)[:-5],
        None,
    ]
    got = ogg_profile_batch(pd.Series(raws, dtype=object))
    for i, raw in enumerate(raws):
        if raw is None:
            assert got.iloc[i]["error"] == "null_payload"
            continue
        single = parse_ogg_stream(raw)
        for k, v in single.items():
            assert got.iloc[i][k] == v or (
                v is None and pd.isna(got.iloc[i][k])
            ), (i, k)


def test_one_crc_kernel_call_per_batch(monkeypatch):
    """Every batched Ogg consumer verifies the pages of ALL its clips with
    one ogg_crc_pages call (per-clip calls measured ~20x slower)."""
    from jsonschema_spark.functions import ogg
    from jsonschema_spark.functions.containers import container_profile_batch
    from jsonschema_spark.functions.vorbis import (
        encode_vorbis_clip,
        vorbis_decode_profile_batch,
        vorbis_reference,
    )

    vorbis = [
        encode_vorbis_clip(vorbis_reference(f"c{k}", 800, 1), 16000)[0]
        for k in range(3)
    ]
    clips = pd.Series(
        [encode_ogg_opus(6, seed=1), encode_ogg_vorbis(5, seed=2),
         encode_ogg_opus(4, seed=3)[:-3], *vorbis, None], dtype=object
    )
    calls = []
    kernel = ogg.ogg_crc_pages
    monkeypatch.setattr(
        ogg, "ogg_crc_pages", lambda pages: calls.append(1) or kernel(pages)
    )
    n = len(clips)
    for run in (
        ogg.ogg_profile_batch,
        ogg.opus_packet_profile_batch,
        ogg.vorbis_packet_profile_batch,
        container_profile_batch,
        lambda p: vorbis_decode_profile_batch(
            p, pd.Series([f"c{k}" for k in range(n)]),
            pd.Series([16000] * n), pd.Series([50] * n),
        ),
    ):
        calls.clear()
        out = run(clips)
        assert len(out) == n and len(calls) == 1
        assert out["error"].iloc[-1] == "null_payload"


def test_ogg_ledger_corpus_verifies(spark):
    from jsonschema_spark.sources.clips import (
        OGG_CLASS_MOD,
        OGG_ERR_CLASSES,
        synth_ogg_clips,
    )

    rows = synth_ogg_clips(spark, 2 * OGG_CLASS_MOD).collect()
    assert len(rows) == 2 * OGG_CLASS_MOD
    errs = {}
    for r in rows:
        got = parse_ogg_stream(bytes(r["bytes"]))
        assert got["ok"] == r["_ok"], r["_row_idx"]
        assert got["error"] == r["_err"], r["_row_idx"]
        assert got["codec"] == r["_codec"], r["_row_idx"]
        assert got["channels"] == r["_channels"], r["_row_idx"]
        assert got["sample_rate"] == r["_rate"], r["_row_idx"]
        assert got["pre_skip"] == r["_pre_skip"], r["_row_idx"]
        assert got["n_pages"] == r["_n_pages"], r["_row_idx"]
        assert got["n_packets"] == r["_n_packets"], r["_row_idx"]
        assert got["last_granule"] == r["_granule"], r["_row_idx"]
        assert got["duration_ms"] == r["_dur"], r["_row_idx"]
        if not r["_ok"]:
            errs[r["_row_idx"] % OGG_CLASS_MOD] = r["_err"]
    assert errs == OGG_ERR_CLASSES


def test_audio_ogg_profile_spark_surface(spark):
    import pyspark.sql.functions as F

    from jsonschema_spark.functions.ogg import audio_ogg_profile
    from jsonschema_spark.sources.clips import synth_ogg_clips

    clips = synth_ogg_clips(spark, 20)
    out = (
        clips.select(
            "_ok", "_n_packets", audio_ogg_profile("bytes").alias("p")
        )
        .select("_ok", "_n_packets", "p.ok", "p.n_packets")
        .collect()
    )
    for r in out:
        assert r["ok"] == r["_ok"]
        assert r["n_packets"] == r["_n_packets"]
