"""Spark-free contract test over every structural walker declared through
functions/walker.py: each walker's batch function gets deterministic
mutants of valid streams from its own module's writer, and every row
must be a verdict in the walker's own vocabulary.

Mutation classes: every truncation, seeded single-bit flips, each 4-byte
window set to 0xFFFFFFFF / 0x7FFFFFFF (inflated size fields) on a
stride, the empty payload and NULL. Contract per row: ``ok`` is a bool,
a failing row has a non-empty error, NULL gives ``null_payload``, and no
row carries ``parse_error:`` — the kernel's catch-all is a backstop,
never the answer.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from jsonschema_spark.functions.aac import adts_profile_batch, encode_adts_stream
from jsonschema_spark.functions.h264 import encode_h264_stream, h264_profile_batch
from jsonschema_spark.functions.mp3 import encode_mp3_stream, mp3_profile_batch
from jsonschema_spark.functions.mp3_sideinfo import (
    encode_sideinfo_stream,
    sideinfo_profile_batch,
)
from jsonschema_spark.functions.mp4 import (
    encode_mp4_fragmented,
    encode_mp4_h264,
    mp4_fragment_batch,
    mp4_profile_batch,
)
from jsonschema_spark.functions.ogg import (
    build_opus_packet,
    encode_ogg_opus,
    encode_ogg_opus_framed,
    encode_ogg_vorbis,
    encode_ogg_vorbis_framed,
    ogg_profile_batch,
    opus_packet_profile_batch,
    vorbis_audio_packet,
    vorbis_packet_profile_batch,
)
from jsonschema_spark.functions.tags import audio_tags_batch, build_id3v2
from jsonschema_spark.functions.webm import encode_webm, webm_profile_batch

_BATCH = 512  # payloads per batch call: bounds the memory of a mutant list


def _opus_framed() -> bytes:
    pk = [build_opus_packet(9, 0, [40 + j], seed=j) for j in range(6)]
    return encode_ogg_opus_framed(pk, granule_samples=[960] * 6)


def _vorbis_framed() -> bytes:
    return encode_ogg_vorbis_framed(
        [vorbis_audio_packet(100 + j, j) for j in range(6)]
    )


def _tagged_mp3() -> bytes:
    return build_id3v2("T ♪", "A", "L", 4, 3) + encode_mp3_stream(
        4, 2, 3, 16000, "mono", (64,), seed=5
    )


# walker -> (batch function, valid streams from the module's writer)
WALKERS = {
    "adts": (adts_profile_batch, lambda: [encode_adts_stream(10, crc=True, seed=9)]),
    "h264": (h264_profile_batch,
             lambda: [encode_h264_stream(6, slices_per_frame=2, seed=5)]),
    "mp3": (mp3_profile_batch, lambda: [
        encode_mp3_stream(6, protected=True, xing="xing", seed=3),
        encode_mp3_stream(4, 2, 3, 16000, "mono", (64,), seed=1),
    ]),
    "mp3_sideinfo": (sideinfo_profile_batch,
                     lambda: [encode_sideinfo_stream(n_frames=8, seed=7)[0]]),
    "mp4": (mp4_profile_batch, lambda: [
        encode_mp4_h264(6, audio_samples=4000),
        encode_mp4_h264(6, audio_samples=1000, seed=5),
    ]),
    "mp4_fragment": (mp4_fragment_batch,
                     lambda: [encode_mp4_fragmented(3, samples_per_fragment=4)]),
    "webm": (webm_profile_batch, lambda: [encode_webm(6, 10, seed=4)]),
    "tags": (audio_tags_batch, lambda: [_tagged_mp3(), encode_ogg_opus(4)]),
    "ogg": (ogg_profile_batch,
            lambda: [encode_ogg_opus(6), encode_ogg_vorbis(5, seed=2)]),
    "opus_packet": (opus_packet_profile_batch, lambda: [_opus_framed()]),
    "vorbis_packet": (vorbis_packet_profile_batch, lambda: [_vorbis_framed()]),
}


def assert_walker_contract(batch, payloads) -> list[tuple]:
    """Run ``payloads`` through ``batch`` in bounded chunks and assert the
    per-row contract; returns the (ok, error) pairs."""
    payloads = list(payloads)
    verdicts = []
    for i in range(0, len(payloads), _BATCH):
        out = batch(pd.Series(payloads[i:i + _BATCH], dtype=object))
        assert len(out) == len(payloads[i:i + _BATCH])
        verdicts += zip(out["ok"], out["error"])
    for raw, (ok, err) in zip(payloads, verdicts):
        assert isinstance(ok, (bool, np.bool_)), (ok, raw)
        if raw is None:
            assert not ok and err == "null_payload"
        if not ok:
            assert isinstance(err, str) and err, raw
            assert not err.startswith("parse_error:"), (err, raw)
    return verdicts


def seeded_tears(raw: bytes, rng: random.Random, n: int, max_flips: int = 4):
    """``n`` random prefixes or 1..max_flips bit flips of ``raw`` — the
    per-module seeded robustness recipes."""
    for _ in range(n):
        if rng.random() < 0.5:
            yield raw[: rng.randrange(len(raw) + 1)]
        else:
            b = bytearray(raw)
            for _k in range(rng.randint(1, max_flips)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            yield bytes(b)


def _truncations(raw: bytes):
    return (raw[:k] for k in range(len(raw)))


def _bit_flips(raw: bytes, seed: int, n: int = 400):
    rng = random.Random(seed)
    for _ in range(n):
        b = bytearray(raw)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        yield bytes(b)


def _inflated_words(raw: bytes, stride: int = 1):
    for word in (b"\xff\xff\xff\xff", b"\x7f\xff\xff\xff"):
        for k in range(0, len(raw) - 3, stride):
            yield raw[:k] + word + raw[k + 4:]


@pytest.mark.parametrize("name", sorted(WALKERS))
def test_walker_contract(name):
    batch, streams = WALKERS[name]
    for s, raw in enumerate(streams()):
        [(ok, err)] = assert_walker_contract(batch, [raw])
        assert ok, (name, err)
        assert_walker_contract(batch, _truncations(raw))
        assert_walker_contract(batch, _bit_flips(raw, seed=s))
        assert_walker_contract(batch, _inflated_words(raw))
    empty, null, valid, null2 = assert_walker_contract(
        batch, [b"", None, raw, None]
    )
    assert not empty[0] and valid[0]
    assert null[1] == null2[1] == "null_payload"


def test_mp4_stsd_entry_overrun_is_bad_stsd():
    """An avc1 entry whose declared size runs past its stsd body used to
    walk out of the buffer and escape as struct.error
    (``parse_error:error`` through the batch)."""
    from jsonschema_spark.functions.mp4 import parse_mp4

    raw = bytearray(encode_mp4_h264(6, audio_samples=4000))
    assert raw[8634:8638] == b"avc1"
    # the window covers the stsd entry count's low bytes and the high
    # byte of the avc1 entry size, which becomes 0xFF000075
    raw[8627:8631] = b"\xff\xff\xff\xff"
    assert parse_mp4(bytes(raw))["error"] == "bad_stsd"
    [(ok, err)] = assert_walker_contract(mp4_profile_batch, [bytes(raw)])
    assert not ok and err == "bad_stsd"
