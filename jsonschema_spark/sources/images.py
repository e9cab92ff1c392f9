"""Deterministic ledger image corpus (real PNG payloads) for the image
near-dup contract queries.

Every row carries BOTH the PNG payload and planted pixel-level ground
truth (``_dhash``, computed by the SAME public dHash arithmetic directly
from the source pixel array — never through the codec). Grayscale PNG is
lossless, so the Spark pipeline (scan -> zlib inflate -> unfilter ->
block-mean -> gradient bits) must land on the ledger value exactly; the
DuckDB oracle reads the materialized parquet and replays hashing-level
logic (banding, xor bit_count) from ``_dhash`` alone. That certifies the
full encode->store->decode->hash path against planted truth while
keeping the oracle engine-independent (DuckDB cannot inflate PNGs; it
does not need to).

Family layout (i = row index, three members per family):
- member 0: base image — per-family RNG uint8 luma, 48x32;
- member 1: EXACT pixel duplicate of the base under a different id
  (guaranteed Hamming-0 pair — re-encoded/re-crawled copy);
- member 2: perturbed copy (~6% pixels +/-16) — strong enough to flip
  a few gradient bits: the planted positives spread over Hamming 0..>3
  (some fall outside the threshold — real negatives among same-family
  pairs, not just cross-family ones). The truth is whatever ``_dhash``
  says: pairs are DERIVED from the ledger, never assumed.

Each corpus here is published once through ``sources.clips.corpus``
(atomic rename, bit-identical across sessions), keyed by the package
source and its parameters (no version to bump).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from jsonschema_spark.functions.multimodal import dhash_from_pixels, encode_png
from jsonschema_spark.sources.clips import ledger_table

IMG_W, IMG_H = 48, 32
MEMBERS_PER_FAMILY = 3

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_dhash", T.LongType(), False),
    ]
)


def _base_pixels(family: int) -> np.ndarray:
    rng = np.random.RandomState(900_001 + family)
    return rng.randint(0, 256, size=(IMG_H, IMG_W)).astype(np.uint8)


def _pixels(i: int) -> np.ndarray:
    family, member = divmod(i, MEMBERS_PER_FAMILY)
    px = _base_pixels(family)
    if member == 2:
        rng = np.random.RandomState(500_001 + i)
        mask = rng.rand(IMG_H, IMG_W) < 0.06
        delta = rng.randint(-16, 17, size=(IMG_H, IMG_W))
        px = np.clip(
            px.astype(np.int16) + np.where(mask, delta, 0), 0, 255
        ).astype(np.uint8)
    return px


def _row(i: int) -> tuple:
    px = _pixels(i)
    return (
        f"img-{i:06d}",
        bytearray(encode_png(px)),
        IMG_W,
        IMG_H,
        i,
        dhash_from_pixels(px),  # truth from SOURCE pixels, not the codec
    )


def synth_images(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    """Deterministic PNG image table with the planted _dhash ledger."""
    return ledger_table(spark, n, IMAGES_SCHEMA, _row, partitions)


# --- REAL-JPEG ledger corpus (baseline grayscale, functions/jpeg.py) ----
# Planted defect (_row_idx % 9 == 6): the stream is truncated 12 bytes
# mid-scan (torn upload) -> decode must fail LOUDLY (decode_ok=false),
# never return partial pixels silently. The ledger carries the decoded
# Y-plane sum computed at synth time by the SAME decoder, so the
# contract query certifies encode -> store -> decode bit-for-bit.
JPEG_TRUNC_MOD = 9
JPEG_TRUNC_CLS = 6
JPEG_TRUNC_BYTES = 12
JPEG_QUALITY = 85

JPEG_IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("_row_idx", T.LongType(), False),
        T.StructField("_ysum", T.LongType(), True),
    ]
)


def _jpeg_row(i: int) -> tuple:
    from jsonschema_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    px = _pixels(i)
    raw = encode_jpeg_gray(px, JPEG_QUALITY)
    truncated = i % JPEG_TRUNC_MOD == JPEG_TRUNC_CLS
    ysum = None
    if truncated:
        # the ledger asserts decode_ok=false for this row, so the cut is
        # VERIFIED at synth time (a too-shallow cut near EOI could still
        # decode; deepen until the decoder actually raises)
        cut = JPEG_TRUNC_BYTES
        while True:
            cand = raw[:-cut]
            try:
                decode_jpeg_gray(bytes(cand))
                cut += 12
            except Exception:
                raw = cand
                break
    else:
        _, _, dec = decode_jpeg_gray(raw)
        ysum = int(dec.astype(np.int64).sum())
    return (f"jpg-{i:06d}", bytearray(raw), IMG_W, IMG_H, i, ysum)


def synth_jpeg_images(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    """Deterministic REAL-JPEG image table with the decoded-sum ledger."""
    return ledger_table(spark, n, JPEG_IMAGES_SCHEMA, _jpeg_row, partitions)


# --- PROGRESSIVE-JPEG ledger corpus (SOF2, T.81 Annex G) ----------------
# VERDICT r2 item 5: most real web JPEGs are progressive. Rows cycle
# two scan scripts (the libjpeg-shaped successive-approximation script
# and a spectral-selection-only script), two qualities, and the same
# verified-truncation class as the baseline corpus. The ledger carries
# the decoded Y-plane sum computed at synth time by the SAME decoder —
# and synth ALSO asserts the progressive decode equals the BASELINE
# decode of the same pixels (quantized coefficients are identical), so
# the corpus itself certifies Annex G against Annex F.
PJPEG_SPECTRAL_ONLY = ((0, 0, 0, 0), (1, 31, 0, 0), (32, 63, 0, 0))


def _pjpeg_rgb(i: int) -> np.ndarray:
    """Deterministic RGB frame: three phase-shifted copies of the
    grayscale family pixels."""
    px = _pixels(i).astype(np.int16)
    return np.stack(
        [
            np.clip(px, 0, 255),
            np.clip(255 - px, 0, 255),
            np.clip((px // 2) + 60, 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)


def _pjpeg_row(i: int) -> tuple:
    from jsonschema_spark.functions.jpeg import (
        PROG_SCANS_GRAY,
        decode_jpeg_gray,
        decode_jpeg_progressive,
        encode_jpeg_color,
        encode_jpeg_gray,
        encode_jpeg_progressive_color,
        encode_jpeg_progressive_gray,
    )

    quality = 40 if i % 2 else 85
    color_cls = i % 5  # 2 -> color 4:4:4, 3 -> color 4:2:0
    if color_cls in (2, 3):
        rgb = _pjpeg_rgb(i)
        sub = "444" if color_cls == 2 else "420"
        raw = encode_jpeg_progressive_color(rgb, quality, sub)
        px = None
    else:
        px = _pixels(i)
        scans = PJPEG_SPECTRAL_ONLY if i % 3 == 1 else PROG_SCANS_GRAY
        raw = encode_jpeg_progressive_gray(px, quality, scans)
    truncated = i % JPEG_TRUNC_MOD == JPEG_TRUNC_CLS
    ysum = None
    if truncated:
        cut = JPEG_TRUNC_BYTES
        while True:
            cand = raw[:-cut]
            try:
                decode_jpeg_progressive(bytes(cand))
                cut += 12
            except Exception:
                raw = cand
                break
    else:
        _, _, dec = decode_jpeg_progressive(raw)
        ysum = int(dec.astype(np.int64).sum())
        # Annex G vs Annex F cross-check, planted into the ledger build
        if color_cls in (2, 3):
            base_raw = encode_jpeg_color(
                _pjpeg_rgb(i), quality, "444" if color_cls == 2 else "420"
            )
        else:
            base_raw = encode_jpeg_gray(px, quality)
        _, _, base = decode_jpeg_gray(base_raw)
        if not np.array_equal(dec, base):
            raise AssertionError(
                f"progressive decode != baseline decode at row {i}"
            )
    return (f"pjp-{i:06d}", bytearray(raw), IMG_W, IMG_H, i, ysum)


def synth_progressive_jpeg_images(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    """Deterministic PROGRESSIVE-JPEG table with the decoded-sum ledger."""
    return ledger_table(spark, n, JPEG_IMAGES_SCHEMA, _pjpeg_row, partitions)


