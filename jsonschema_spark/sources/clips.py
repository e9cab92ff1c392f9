"""Deterministic synthetic clips source (FIXTURES.md F1).

clips(clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
      transcript string)

Generation is fully distributed: every corpus in this package is
``ledger_table(spark, n, schema, row)``, where ``spark.range`` drives a
``mapInPandas`` batch loop over the generator's ``row(i)`` function, so
payload synthesis runs on executors in Arrow batches — the driver never
materializes a row. Everything derives arithmetically from the row index /
md5(clip_id), so regeneration is bit-identical at any scale and any
partitioning (seed 42 convention, FIXTURES.md synthesis rules). A new
generator writes ``row(i)`` (starting from ``clip_base``) and a schema
(``ledger_schema(*extra_fields)`` for CLIPS_SCHEMA + ``_row_idx`` + its
ledger columns), nothing else.

Planted violations (deterministic by index; period => known a-priori rates):
- i % 199 == 198  -> duplicate clip_id (uniqueness check, ~0.5%)
- i % 97  == 96   -> sr_hz = 12345 (enum violation, ~1%)
- i % 101 == 100  -> dur_ms out of [200, 30000] (range violation, ~1%)
- i % 103 == 102  -> codec "amr" (enum violation, ~1%; decodes as raw PCM so
                     the enum violation is not shadowed by the SNR check)
- i % 107 == 106  -> empty transcript (minLength violation, ~1%)
- i % 109 == 108  -> corrupted payload (SNR < 30 dB, ~1%)
- i % 211 == 210  -> transcript mismatch vs reference (~0.5%)
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import uuid
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.functions.audio import (
    encode_payload,
    pcm16_from_float,
    reference_signal,
)

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)

SR_CHOICES = (8000, 16000, 22050, 44100, 48000)
CODEC_CHOICES = ("pcm_s16le", "flac", "opus")

_WORDS = (
    "the quick brown fox jumps over a lazy dog while rain falls on green "
    "hills and children sing old songs near the river bank at dusk"
).split()

# The flagship compile input (FIXTURES.md F1).
CLIPS_JSON_SCHEMA = {
    "$id": "https://example.com/clips.schema.json",
    "type": "object",
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-\\d{12}$"},
        "bytes": {"contentMediaType": "audio/*"},
        "sr_hz": {"enum": list(SR_CHOICES)},
        "dur_ms": {"type": "integer", "minimum": 200, "maximum": 30000},
        "codec": {"enum": list(CODEC_CHOICES)},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 500},
    },
    "additionalProperties": False,
}


def clips_schema() -> dict:
    return CLIPS_JSON_SCHEMA


def _clip_id(i: int) -> str:
    if i % 199 == 198 and i > 0:
        i = i - 1  # planted duplicate
    return f"clip-{i:012d}"


def _hash(i: int) -> int:
    return int.from_bytes(hashlib.md5(f"row-{i}".encode()).digest()[:8], "little")


def transcript_for(clip_id: str) -> str:
    """Reference transcript, regenerable from clip_id alone (row invariant).
    Single source of truth shared with the checker (functions/audio)."""
    from jsonschema_spark.functions.audio import reference_transcript

    return reference_transcript(clip_id)


def clip_base(i: int, dur_range: tuple[int, int]) -> tuple[int, int, str]:
    """(hash, dur_ms, clip_id) of ledger row i: the row hash, a duration
    log-uniform in ``dur_range`` drawn from hash bits 16.., and the
    unduplicated clip id. Every generator's row starts here."""
    h = _hash(i)
    log_lo, log_hi = np.log(dur_range[0]), np.log(dur_range[1])
    u = ((h >> 16) % 1_000_000) / 1_000_000.0
    dur = int(np.exp(log_lo + u * (log_hi - log_lo)))
    return h, dur, f"clip-{i:012d}"


def ledger_schema(*extra_fields: T.StructField) -> T.StructType:
    """CLIPS_SCHEMA + the ``_row_idx`` ledger column + ``extra_fields``."""
    return T.StructType(
        list(CLIPS_SCHEMA.fields)
        + [T.StructField("_row_idx", T.LongType(), False), *extra_fields]
    )


def ledger_table(
    spark: SparkSession,
    n: int,
    schema: T.StructType,
    row: Callable[[int], tuple],
    partitions: Optional[int] = None,
) -> DataFrame:
    """The n-row table whose row i is ``row(i)``, a tuple in
    ``schema.fieldNames()`` order. ``spark.range`` drives a ``mapInPandas``
    batch loop, so rows are built on executors and the output depends on
    neither ``partitions`` nor batch size."""
    names = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                [row(int(i)) for i in b["id"].to_numpy()], columns=names
            )

    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=schema)


def synth_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
    dur_range: tuple[int, int] = (200, 2000),
    violations: bool = True,
    with_index: bool = False,
) -> DataFrame:
    """Distributed deterministic clips table. ``dur_range`` bounds the
    *generated* durations (payload size control); the schema's legal range
    stays [200, 30000] and planted violations fall outside it.

    ``with_index`` appends the generator row index as ``_row_idx`` — the
    planted-violation LEDGER column: every corruption is a pure function of
    the index (module docstring), so an external oracle can recompute the
    expected outcome of any check from ``_row_idx`` arithmetic alone.
    Exclude it before closed-world validation."""

    def row(i: int) -> tuple:
        h, dur, cid = clip_base(i, dur_range)
        if violations:
            cid = _clip_id(i)

        # sr: 70% hot at 16000 (deliberate skew for salting/AQE paths)
        r = h % 100
        if r < 70:
            sr = 16000
        else:
            sr = SR_CHOICES[(h >> 8) % len(SR_CHOICES)]

        c = (h >> 24) % 100
        codec = "pcm_s16le" if c < 80 else ("flac" if c < 90 else "opus")

        transcript = transcript_for(cid)

        if violations:
            if i % 97 == 96:
                sr = 12345
            if i % 101 == 100:
                dur = 50 if (h & 1) else 45000
            if i % 103 == 102:
                codec = "amr"
            if i % 107 == 106:
                transcript = ""
            if i % 211 == 210:
                transcript = transcript + " xyzzy"

        n_samples = sr * dur // 1000
        sig = reference_signal(cid, n_samples)
        if violations and i % 109 == 108:
            # corruption: strong additive tone not in the reference
            t = np.arange(n_samples, dtype=np.float64)
            sig = sig + 0.6 * np.sin(2 * np.pi * 1234.5 * t / 16000.0 + 0.7)
        payload = encode_payload(pcm16_from_float(sig), codec)
        out = (cid, payload, sr, dur, codec, transcript)
        return out + (i,) if with_index else out

    schema = ledger_schema() if with_index else CLIPS_SCHEMA
    return ledger_table(spark, n, schema, row, partitions)


# ---------------------------------------------------------------------------
# Content-keyed corpus cache
# ---------------------------------------------------------------------------
# Every synthesized corpus lives at <root>/<generator name>_<key>. The key
# hashes the package source, the numpy version and the generator's
# parameters, so any library edit moves every path: a corpus on disk is
# always the one the current code writes, and Spark and the DuckDB oracle
# derive the same path from the same call. Nothing is evicted (deleting
# under a concurrent reader is unsafe). Read at call time, so a caller may
# re-point the root.
_MATERIALIZE_ROOT = "/tmp/jss_oracle_cache"


@functools.lru_cache(maxsize=None)
def _package_digest() -> bytes:
    """sha256 over every .py file under jsonschema_spark/ (relative path,
    length and bytes, sorted by path), once per process."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rels = sorted(
        os.path.relpath(os.path.join(d, f), pkg).replace(os.sep, "/")
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    )
    h = hashlib.sha256()
    for rel in rels:
        with open(os.path.join(pkg, rel), "rb") as fh:
            data = fh.read()
        h.update(f"{rel}\0{len(data)}\0".encode() + data)
    return h.digest()


def corpus_path(make: Callable, *params) -> str:
    """Cache path of the corpus ``make`` builds from ``params``. Only
    ``[A-Za-z0-9_]`` besides the root: the oracle splices it into
    ``read_parquet('<path>/*.parquet')``."""
    h = hashlib.sha256(_package_digest())
    h.update(f"{np.__version__}\0{params!r}".encode())
    return os.path.join(_MATERIALIZE_ROOT, f"{make.__name__}_{h.hexdigest()}")


def publish(path: str, write: Callable[[str], object]) -> str:
    """Build ``path`` once, atomically: ``write(tmp)`` fills a
    session-private temp path that is then renamed into place, so readers
    (Spark scans and the oracle's read_parquet) never see a partial
    corpus. Concurrent sessions write identical content; the rename loser
    discards its copy. A ``write`` that raises leaves nothing behind."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(path):
                raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            os.remove(tmp)
    return path


def corpus(
    spark: SparkSession, synth: Callable[..., DataFrame], *params
) -> tuple[DataFrame, str]:
    """``synth(spark, *params)`` published as parquet once, then scanned:
    (DataFrame read from parquet, path). Serving queries from a real scan
    is the production shape, and it lets the DuckDB oracle read the SAME
    files, with the ``_row_idx`` ledger column carrying the planted ground
    truth. Synthesis is bit-deterministic, so a published corpus is always
    valid for its key."""
    # ~20-40KB binary payloads x the default 4096-row vectorized-reader
    # batch = ~100MB contiguous buffers -> reader OOM/G1-humongous stalls
    # on modest heaps. 128-row batches keep scan buffers a few MB (see
    # BASELINE.md finding). Narrow tables do not pay for it: profile_job on
    # sf0.1 lineitem and a 5-check suite_job on sf0.1 orders/lineitem ran
    # within run-to-run noise of 4096-row batches (6 alternating pairs,
    # local[4], 4-core host).
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "128")
    path = publish(
        corpus_path(synth, *params),
        lambda tmp: synth(spark, *params).write.parquet(tmp),
    )
    return spark.read.parquet(path), path


def synth_ledger_clips(
    spark: SparkSession,
    n: int,
    dur_range: tuple[int, int] = (200, 2000),
    n_buckets: Optional[int] = None,
) -> DataFrame:
    """``synth_clips`` with the ``_row_idx`` ledger. ``n_buckets`` adds the
    checkpoint-protocol partition column ``_bucket`` (hash of clip_id —
    materialized so the oracle need not reproduce the hash function)."""
    df = synth_clips(spark, n, dur_range=dur_range, with_index=True)
    if n_buckets:
        from jsonschema_spark.operators.checkpoint import with_bucket

        df = with_bucket(df, "clip_id", n_buckets=n_buckets)
    return df


def materialized_clips(spark: SparkSession, n: int, *params) -> tuple[DataFrame, str]:
    return corpus(spark, synth_ledger_clips, n, *params)


# ---------------------------------------------------------------------------
# Near-duplicate clips corpus (audio fingerprint dedup ground truth)
# ---------------------------------------------------------------------------

# Two-tone grid parameters. Tones sit on a coarse frequency grid whose
# spacing (64 ticks) exceeds the fingerprint band width (4096-FFT folded to
# 128 bands = 16 bins = 62.5 ticks), so distinct recordings are provably
# separated in fingerprint space (measured worst non-dup cosine 0.936 vs
# planted re-encodes >= 0.9999999 — see tests/test_audio_dedup.py).
_ND_GRID0, _ND_SPACING = 120, 64
_ND_G = (7680 - _ND_GRID0) // _ND_SPACING  # 118 grid freqs
ND_MAX_UNIQUE = _ND_G * (_ND_G - 1)  # 13 806 distinct two-tone recordings


def _neardup_signal(j: int, n_samples: int) -> np.ndarray:
    """Deterministic unique recording #j: two tones on the coarse grid,
    amplitudes 0.7/0.3 (asymmetric so swapped tone pairs differ)."""
    a = j % _ND_G
    b = (a + 1 + (j // _ND_G) % (_ND_G - 1)) % _ND_G
    f0 = _ND_GRID0 + a * _ND_SPACING
    f1 = _ND_GRID0 + b * _ND_SPACING
    t = np.arange(n_samples, dtype=np.float64)
    x = 0.7 * np.sin(2 * np.pi * f0 * t / 16000.0 + 0.1 * j)
    x += 0.3 * np.sin(2 * np.pi * f1 * t / 16000.0 + 0.05 * j)
    return 0.8 * x


def synth_near_dup_clips(
    spark: SparkSession,
    n: int,
    dup_period: int = 4,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table with planted audio near-duplicates (the fingerprint-dedup
    ledger table): row i with ``i % dup_period == dup_period - 1`` is a
    RE-ENCODE of row i-1 — same recording, gain scaled to 0.7 and
    re-encoded as lossy opus — under its own clip_id. Every other row is a
    unique two-tone recording. ``_row_idx`` is the ledger: the expected
    near-dup pair set is exactly {(i-1, i) : i % dup_period == dup_period-1},
    recomputable by an external oracle from index arithmetic alone.

    Requires ``n`` <= ND_MAX_UNIQUE (13 806) distinct recordings; beyond
    that the two-tone grid wraps and "unique" rows would collide."""
    if n > ND_MAX_UNIQUE:
        raise ValueError(f"n={n} exceeds ND_MAX_UNIQUE={ND_MAX_UNIQUE}")

    def _row(i: int) -> tuple:
        is_dup = dup_period > 1 and i % dup_period == dup_period - 1 and i > 0
        base = i - 1 if is_dup else i
        h, dur, _ = clip_base(base, (200, 2000))
        sig = _neardup_signal(base, 16000 * dur // 1000)
        if is_dup:
            codec = "opus"
            sig = sig * 0.7  # gain-adjusted re-encode
        else:
            codec = "pcm_s16le" if h & 1 else "flac"
        cid = f"clip-{i:012d}"
        return (cid, encode_payload(pcm16_from_float(sig), codec), 16000,
                dur, codec, transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# Planted quality-defect classes (disjoint by construction, _row_idx % 12):
#   cls 1 -> second half of the waveform zeroed   (silence_frac ~= 0.5)
#   cls 5 -> gain x2.2 before int16 conversion    (hard clipping; every
#            base amplitude lands past full scale, worst case peak 1.06 ->
#            ~21% of samples pinned)
#   cls 9 -> gain x0.001                          (rms ~= -60 dBFS: too
#            quiet AND every 20ms frame under the -40 dBFS silence floor)
#   else  -> untouched reference signal (peak <= 0.85, rms ~= -9 dBFS)
QUALITY_CLASS_MOD = 12
QUALITY_CLS_HALF_SILENT = 1
QUALITY_CLS_CLIPPED = 5
QUALITY_CLS_QUIET = 9


def synth_quality_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table with planted audio-quality defects (the quality-gate
    ledger table). All payloads are raw pcm_s16le so clipping detection is
    exact (the synthetic opus container quantizes away the +-32767 pins).
    The expected gate outcome of every row is pure ``_row_idx`` arithmetic
    — see QUALITY_CLS_* above — so an external oracle needs no decoder."""

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        n_samples = 16000 * dur // 1000
        sig = reference_signal(cid, n_samples).astype(np.float64)
        cls = i % QUALITY_CLASS_MOD
        if cls == QUALITY_CLS_HALF_SILENT:
            sig[n_samples // 2 :] = 0.0
        elif cls == QUALITY_CLS_CLIPPED:
            sig = sig * 2.2
        elif cls == QUALITY_CLS_QUIET:
            sig = sig * 0.001
        return (cid, encode_payload(pcm16_from_float(sig), "pcm_s16le"),
                16000, dur, "pcm_s16le", transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# Bandwidth-consistency clips (the upsample-detection ledger table): every
# row is a PURE tone at a frequency that is pure _row_idx arithmetic, so the
# zero-crossing dominant-frequency estimate (functions/audio.audio_bandwidth)
# lands within ~sr/n Hz of the planted frequency and the 100-Hz bin verdicts
# equal ledger arithmetic with >=45 Hz margin. Classes (_row_idx % 9):
#   cls 5 -> 150 Hz tone under a claimed 16 kHz rate (content band at
#            Nyquist/53 — the upsampled-telephony signature)  -> bin 1
#   cls 7 -> 7750 Hz tone (content crowding Nyquist 8000)     -> bin 77
#   else  -> 1250 + 100*(_row_idx % 43) Hz (1250..5450)       -> bin 12+(i%43)
BW_CLASS_MOD = 9
BW_CLS_UPSAMPLED = 5
BW_CLS_CROWDED = 7
BW_SR = 16000


def bw_tone_freq(i: int) -> float:
    """Planted tone frequency for bandwidth-ledger row i (pure arithmetic;
    every frequency is ≡50 (mod 100) so it sits mid-bin)."""
    cls = i % BW_CLASS_MOD
    if cls == BW_CLS_UPSAMPLED:
        return 150.0
    if cls == BW_CLS_CROWDED:
        return 7750.0
    return 1250.0 + 100.0 * (i % 43)


def synth_bandwidth_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table with planted bandwidth defects (see BW_CLS_* above).
    All payloads are raw pcm_s16le pure tones at amplitude 0.7; the claimed
    rate is always 16 kHz, so the zero-crossing estimate exposes exactly
    the planted content-vs-metadata inconsistencies."""

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        n_samples = BW_SR * dur // 1000
        f = bw_tone_freq(i)
        t = np.arange(n_samples, dtype=np.float64)
        sig = 0.7 * np.sin(2.0 * np.pi * f * t / BW_SR + 0.37)
        return (cid, encode_payload(pcm16_from_float(sig), "pcm_s16le"),
                BW_SR, dur, "pcm_s16le", transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# Silence-padded clips (the trim/resample ledger table): every row is a
# voiced two-harmonic body wrapped in exact-zero pads, all sizes whole
# 20 ms frames at 16 kHz so the expected speech span is pure _row_idx
# arithmetic (and the per-sample DuckDB oracle recomputes it from bytes):
#   lead pad  = (i % 7) * 40 ms   (0..240 ms, whole frames)
#   tail pad  = (i % 5) * 60 ms   (0..240 ms, whole frames)
#   body      = 200 + (hash(i) % 31) * 20 ms of reference_signal
#   class i % 11 == 10 -> body zeroed too (fully-silent clip, empty span)
# Body frame peaks are >= ~10 000 |int16| vs the 327 silence threshold —
# no near-threshold frames, bit-stable everywhere.
PADDED_SILENT_MOD = 11
PADDED_CLS_ALL_SILENT = 10


def synth_padded_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table with planted leading/trailing silence pads (see the
    ledger comment above). All payloads raw pcm_s16le at 16 kHz."""

    def _row(i: int) -> tuple:
        h = _hash(i)
        lead_ms = (i % 7) * 40
        tail_ms = (i % 5) * 60
        body_ms = 200 + (h % 31) * 20
        cid = f"clip-{i:012d}"
        body = reference_signal(cid, 16000 * body_ms // 1000).astype(np.float64)
        if i % PADDED_SILENT_MOD == PADDED_CLS_ALL_SILENT:
            body = body * 0.0
        sig = np.concatenate(
            [
                np.zeros(16000 * lead_ms // 1000),
                body,
                np.zeros(16000 * tail_ms // 1000),
            ]
        )
        dur = lead_ms + body_ms + tail_ms
        return (cid, encode_payload(pcm16_from_float(sig), "pcm_s16le"),
                16000, dur, "pcm_s16le", transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


def synth_containment_clips(
    spark: SparkSession,
    n: int,
    period: int = 4,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table with planted PARTIAL-overlap provenance (the containment
    ledger table): row i with ``i % period == period - 1`` is a 1 s EXCERPT
    — samples [16000, 32000) of row i-1's unique 2 s two-tone recording —
    gain-scaled to 0.8 and re-encoded as lossy opus under its own clip_id.
    Every other row is a unique 2 s recording in raw PCM (segmentable).
    Expected containment pair set = {(i-1, i) : i % period == period-1},
    pure ``_row_idx`` arithmetic."""
    if n > ND_MAX_UNIQUE:
        raise ValueError(f"n={n} exceeds ND_MAX_UNIQUE={ND_MAX_UNIQUE}")
    base_samples = 32000  # 2 s at 16 kHz

    def _row(i: int) -> tuple:
        is_excerpt = period > 1 and i % period == period - 1 and i > 0
        base = i - 1 if is_excerpt else i
        sig = _neardup_signal(base, base_samples)
        if is_excerpt:
            sig = sig[16000:32000] * 0.8
            codec, dur = "opus", 1000
        else:
            codec, dur = "pcm_s16le", 2000
        cid = f"clip-{i:012d}"
        return (cid, encode_payload(pcm16_from_float(sig), codec), 16000,
                dur, codec, transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# ---------------------------------------------------------------------------
# WAV-header ledger corpus (container-integrity ground truth)
# ---------------------------------------------------------------------------

# Planted header-defect classes (i % WAV_CLASS_MOD), disjoint by
# construction; everything else is a clean canonical 44-byte RIFF/WAVE:
#   cls 2  -> header sample rate written as 2x the sr_hz column (sr_match
#             fails; sizes still self-consistent)
#   cls 5  -> payload truncated by 13 bytes (riff_size/data_size vs actual
#             length fail; magics intact)
#   cls 7  -> dur_ms column +9 ms (samples_match fails; payload itself fine)
#   cls 9  -> raw PCM bytes, no container (is_riff fails)
#   cls 11 -> first magic byte corrupted 'R'->'X' (is_riff fails)
WAV_CLASS_MOD = 13
WAV_CLS_SR_MISMATCH = 2
WAV_CLS_TRUNCATED = 5
WAV_CLS_DUR_DRIFT = 7
WAV_CLS_RAW_PCM = 9
WAV_CLS_BAD_MAGIC = 11


def synth_wav_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips table whose payloads are REAL canonical RIFF/WAVE PCM16 mono
    containers (functions/audio.encode_wav_pcm16) with planted header /
    metadata defects — the ledger table for operators/integrity.py. The
    expected outcome of every check is pure ``_row_idx`` arithmetic, but
    the DuckDB oracle goes further and re-parses every header field from
    the parquet blob hex."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        sr = 16000
        pcm = pcm16_from_float(reference_signal(cid, sr * dur // 1000))
        cls = i % WAV_CLASS_MOD
        col_dur = dur
        if cls == WAV_CLS_SR_MISMATCH:
            payload = encode_wav_pcm16(pcm, sr * 2)
        elif cls == WAV_CLS_TRUNCATED:
            payload = encode_wav_pcm16(pcm, sr)[:-13]
        elif cls == WAV_CLS_DUR_DRIFT:
            payload = encode_wav_pcm16(pcm, sr)
            col_dur = dur + 9
        elif cls == WAV_CLS_RAW_PCM:
            payload = pcm.astype("<i2").tobytes()
        elif cls == WAV_CLS_BAD_MAGIC:
            payload = b"X" + encode_wav_pcm16(pcm, sr)[1:]
        else:
            payload = encode_wav_pcm16(pcm, sr)
        return (cid, payload, sr, col_dur, "wav", transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# ---------------------------------------------------------------------------
# G.711 mu-law ledger corpus (real-lossy-codec ground truth)
# ---------------------------------------------------------------------------

# Telephony-shaped clips whose payloads are REAL RIFF/WAVE mu-law containers
# (functions/audio.encode_wav_ulaw: WAVE_FORMAT_MULAW=7, 8 kHz mono, one
# companded byte per sample). Planted class (i % ULAW_CLASS_MOD):
#   cls 4 -> first half of the companded data bytes zeroed. A zero mu-law
#            byte decodes to -32124 (near-full-scale), so per-sample noise
#            power on the corrupted span is enormous: SNR <= ~19 dB worst
#            case, far under the 30 dB gate. Clean rows round-trip at
#            ~38 dB (mu-law companding SQNR on program material).
# Everything else derives from _row_idx arithmetic, and the DuckDB oracle
# goes further: it re-decodes every payload from the parquet blob hex with
# the pure-integer G.711 expansion formula and md5-compares the rebuilt
# sample stream against the numpy kernel's decode.
ULAW_CLASS_MOD = 9
ULAW_CLS_CORRUPT = 4
ULAW_SR_HZ = 8000


def synth_ulaw_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Mu-law clips table with planted payload corruption — the ledger
    table for the real-lossy-codec decode/SNR contract query."""
    from jsonschema_spark.functions.audio import encode_wav_ulaw

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        n_samples = ULAW_SR_HZ * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        payload = encode_wav_ulaw(pcm, ULAW_SR_HZ)
        if i % ULAW_CLASS_MOD == ULAW_CLS_CORRUPT:
            ba = bytearray(payload)
            half = n_samples // 2
            ba[44 : 44 + half] = b"\x00" * half
            payload = bytes(ba)
        return (cid, payload, ULAW_SR_HZ, dur, "pcm_mulaw",
                transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# ---------------------------------------------------------------------------
# G.711 A-law ledger corpus (second real-lossy-codec ground truth)
# ---------------------------------------------------------------------------

# The E1/European sibling of the mu-law corpus above: payloads are REAL
# RIFF/WAVE A-law containers (functions/audio.encode_wav_alaw:
# WAVE_FORMAT_ALAW=6, 8 kHz mono, one companded byte per sample). Planted
# class (i % ALAW_CLASS_MOD):
#   cls 4 -> first half of the companded data bytes zeroed. A zero A-law
#            byte decodes to -5504 (0x00 ^ 0x55 = 0x55 -> segment 5), so
#            the corrupted span replaces program material with a constant
#            mid-scale rail: SNR collapses to a few dB, far under the
#            gate. Clean rows round-trip at ~38 dB (A-law SQNR).
# The DuckDB oracle re-decodes every payload from the parquet blob hex
# with the pure-integer A-law expansion (XOR 0x55, segmented shift) and
# md5-compares the rebuilt int16-LE sample stream with the numpy kernel.
ALAW_CLASS_MOD = 9
ALAW_CLS_CORRUPT = 4
ALAW_SR_HZ = 8000


def synth_alaw_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """A-law clips table with planted payload corruption — the ledger
    table for the second real-lossy-codec decode/SNR contract query."""
    from jsonschema_spark.functions.audio import encode_wav_alaw

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        n_samples = ALAW_SR_HZ * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        payload = encode_wav_alaw(pcm, ALAW_SR_HZ)
        if i % ALAW_CLASS_MOD == ALAW_CLS_CORRUPT:
            ba = bytearray(payload)
            half = n_samples // 2
            ba[44 : 44 + half] = b"\x00" * half
            payload = bytes(ba)
        return (cid, payload, ALAW_SR_HZ, dur, "pcm_alaw",
                transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# ---------------------------------------------------------------------------
# Stereo ledger corpus (channel-downmix ground truth)
# ---------------------------------------------------------------------------

# Interleaved stereo RIFF/WAVE PCM16 containers (format 1, channels=2,
# block align 4): left channel is the clip's reference signal, right is
# the independent signal of clip_id||':R'. Planted class
# (i % STEREO_MONO_MOD == STEREO_CLS_MONO): already-mono WAV — the
# downmix operator must pass those through untouched. The DuckDB oracle
# re-decodes BOTH interleaved channels from the parquet hex and rebuilds
# floor((l+r)/2) sample-for-sample.
STEREO_MONO_MOD = 5
STEREO_CLS_MONO = 3
STEREO_SR_HZ = 16000


def synth_stereo_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Stereo clips table with planted already-mono rows — the ledger
    table for the channel-downmix contract query."""
    from jsonschema_spark.functions.audio import (
        encode_wav_pcm16,
        encode_wav_pcm16_stereo,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 2000))
        n_samples = STEREO_SR_HZ * dur // 1000
        left = pcm16_from_float(reference_signal(cid, n_samples))
        if i % STEREO_MONO_MOD == STEREO_CLS_MONO:
            payload = encode_wav_pcm16(left, STEREO_SR_HZ)
        else:
            right = pcm16_from_float(reference_signal(cid + ":R", n_samples))
            payload = encode_wav_pcm16_stereo(left, right, STEREO_SR_HZ)
        return (cid, payload, STEREO_SR_HZ, dur, "wav",
                transcript_for(cid), i)

    return ledger_table(spark, n, ledger_schema(), _row, partitions)


# --- REAL-ADPCM ledger corpus (IMA/DVI 4-bit WAV, functions/audio.py) ----
# Planted defect (_row_idx % ADPCM_TRUNC_MOD == ADPCM_TRUNC_CLS): the WAV
# byte stream is truncated mid-data (torn upload). The cut is deepened at
# synth time until the decoder ACTUALLY raises (a shallow cut may only
# shave final-block padding), so the ledger's decode_ok=false rows are
# verified, never assumed. Non-truncated rows carry the decode fingerprint
# (_n_dec, _dec_md5) the SAME codec produced at synth time — the contract
# query certifies encode -> store -> distribute -> decode end-to-end.
ADPCM_TRUNC_MOD = 11
ADPCM_TRUNC_CLS = 7
ADPCM_BLOCK_ALIGN = 256
ADPCM_SR_HZ = 16000

ADPCM_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_n_dec", T.LongType(), True),
    T.StructField("_dec_md5", T.StringType(), True),
)


def synth_adpcm_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL compressed audio: mono IMA ADPCM
    (WAVE_FORMAT_IMA_ADPCM = 0x11) in a standard WAV container with the
    extended fmt + fact chunks — 4 bits/sample, ~4:1 over PCM16."""
    from jsonschema_spark.functions.audio import (
        decode_payload,
        encode_wav_adpcm,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = ADPCM_SR_HZ * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        raw = encode_wav_adpcm(pcm, ADPCM_SR_HZ, ADPCM_BLOCK_ALIGN)
        n_dec = None
        dec_md5 = None
        if i % ADPCM_TRUNC_MOD == ADPCM_TRUNC_CLS:
            cut = 3
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += ADPCM_BLOCK_ALIGN // 2
                except Exception:
                    raw = cand
                    break
        else:
            dec = decode_payload(raw)
            d16 = np.clip(dec, -32768, 32767).astype("<i2")
            n_dec = len(dec)
            dec_md5 = hashlib.md5(
                d16.tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), ADPCM_SR_HZ, dur, "adpcm",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- MS-ADPCM ledger corpus (WAVE_FORMAT_ADPCM = 0x0002) ------------------
# Same ledger stance as the IMA corpus: non-truncated rows carry the
# synth-time decode fingerprint (encode -> store -> distribute -> decode
# certified end-to-end); the planted torn-upload class is deepened until
# the decoder provably raises. The encoder picks the best of the 7
# canonical predictors per block, so the corpus exercises predictor
# switching in the distributed decode.
MSADPCM_TRUNC_MOD = 11
MSADPCM_TRUNC_CLS = 7


def synth_msadpcm_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL MS ADPCM (format 0x0002) WAVs."""
    from jsonschema_spark.functions.audio import (
        decode_payload,
        encode_wav_msadpcm,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = ADPCM_SR_HZ * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        raw = encode_wav_msadpcm(pcm, ADPCM_SR_HZ, ADPCM_BLOCK_ALIGN)
        n_dec = None
        dec_md5 = None
        if i % MSADPCM_TRUNC_MOD == MSADPCM_TRUNC_CLS:
            cut = 3
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += ADPCM_BLOCK_ALIGN // 2
                except Exception:
                    raw = cand
                    break
        else:
            dec = decode_payload(raw)
            d16 = np.clip(dec, -32768, 32767).astype("<i2")
            n_dec = len(dec)
            dec_md5 = hashlib.md5(
                d16.tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), ADPCM_SR_HZ, dur, "adpcm_ms",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- REAL-FLAC ledger corpus (functions/flac.py subset codec) ------------
# FLAC is LOSSLESS, so the ledger fingerprint is computed from the SOURCE
# samples directly (truth never passes through the codec — the images.py
# _dhash stance, stronger than the ADPCM ledger): the distributed decode
# must land on the pre-encode PCM bit-for-bit. Two planted defect classes,
# each VERIFIED at synth time to make the decoder raise:
#   _row_idx % 13 == 4  -> stream truncated (torn upload)
#   _row_idx % 13 == 9  -> single bit flipped mid-stream (CRC-16 / MD5
#                          integrity failure)
FLAC_CLASS_MOD = 13
FLAC_TRUNC_CLS = 4
FLAC_FLIP_CLS = 9
FLAC_SR_HZ = 16000


def synth_flac_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL FLAC streams (RFC 9639 subset: fixed
    predictors + partitioned Rice, CRC-8/CRC-16/MD5-verified decode)."""
    from jsonschema_spark.functions.audio import decode_payload
    from jsonschema_spark.functions.flac import encode_flac

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = FLAC_SR_HZ * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        raw = encode_flac(pcm, FLAC_SR_HZ)
        cls = i % FLAC_CLASS_MOD
        n_dec = None
        dec_md5 = None
        if cls == FLAC_TRUNC_CLS:
            cut = 8
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 64
                except Exception:
                    raw = cand
                    break
        elif cls == FLAC_FLIP_CLS:
            pos = len(raw) // 2
            while True:
                cand = bytearray(raw)
                cand[pos] ^= 0x10
                try:
                    decode_payload(bytes(cand))
                    pos = (pos + 37) % len(raw)
                except Exception:
                    raw = bytes(cand)
                    break
        else:
            # ledger truth from the SOURCE samples, not through the codec
            n_dec = len(pcm)
            dec_md5 = hashlib.md5(
                pcm.astype("<i2").tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), FLAC_SR_HZ, dur, "flac",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- REAL-FLAC STEREO ledger corpus (channel decorrelation) ---------------
# Same ledger stance as the mono corpus (truth from the SOURCE samples,
# never through the codec), but payloads are STEREO streams and the rows
# CYCLE through all four channel assignments of RFC 9639 — independent,
# left/side, right/side, mid/side — so the distributed decode exercises
# every reconstruction path (side at 17 bits, mid = (l+r)>>1). The ledger
# fingerprint is over the MONO DOWNMIX (l+r)>>1 of the source channels:
# FLAC is lossless and the downmix is exact integer arithmetic, so the
# engine's decode->downmix must land on it bit-for-bit.
FLAC2_MODES = ("independent", "left_side", "right_side", "mid_side")


def synth_flac_stereo_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL STEREO FLAC streams; ledger truth is
    the exact-integer mono downmix of the pre-encode channels."""
    from jsonschema_spark.functions.audio import decode_payload
    from jsonschema_spark.functions.flac import encode_flac

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = FLAC_SR_HZ * dur // 1000
        left = pcm16_from_float(reference_signal(cid + "#L", n_samples))
        right = pcm16_from_float(reference_signal(cid + "#R", n_samples))
        stereo = np.stack(
            [left.astype(np.int64), right.astype(np.int64)], axis=1
        )
        raw = encode_flac(stereo, FLAC_SR_HZ,
                          stereo_mode=FLAC2_MODES[i % len(FLAC2_MODES)])
        cls = i % FLAC_CLASS_MOD
        n_dec = None
        dec_md5 = None
        if cls == FLAC_TRUNC_CLS:
            cut = 8
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 64
                except Exception:
                    raw = cand
                    break
        elif cls == FLAC_FLIP_CLS:
            pos = len(raw) // 2
            while True:
                cand = bytearray(raw)
                cand[pos] ^= 0x10
                try:
                    decode_payload(bytes(cand))
                    pos = (pos + 37) % len(raw)
                except Exception:
                    raw = bytes(cand)
                    break
        else:
            # ledger truth: exact-integer downmix of the SOURCE channels
            mono = (stereo[:, 0] + stereo[:, 1]) >> 1
            n_dec = int(len(mono))
            dec_md5 = hashlib.md5(
                mono.astype("<i2").tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), FLAC_SR_HZ, dur, "flac",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- WAV bit-depth/channel ledger corpus (8/16/24-bit, mono/stereo) -------
# Real ingestion sees WAV at more than one bit depth and channel count;
# rows cycle through five layouts — pcm8 mono, pcm24 mono, pcm16 stereo,
# pcm8 stereo, pcm24 stereo — and the ledger truth is computed from the
# SOURCE samples with the decoder's own exact integer conventions
# ((u-128)<<8 for 8-bit, arithmetic >>8 for 24-bit, (l+r)>>1 downmix).
# 24-bit payloads carry hash-derived NOISY low bytes, so the top-16-bit
# extraction is exercised on non-trivial values (floor shift on negatives).
WAVD_CLASS_MOD = 11
WAVD_CLS_TRUNC = 6
WAVD_SR_HZ = 16000
WAVD_LAYOUTS = ((8, 1), (24, 1), (16, 2), (8, 2), (24, 2))


def synth_wav_depth_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL RIFF/WAVE PCM at cycled bit depths
    and channel counts; ledger truth from the source samples."""
    from jsonschema_spark.functions.audio import encode_wav_pcm

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = WAVD_SR_HZ * dur // 1000
        bits, chans = WAVD_LAYOUTS[i % len(WAVD_LAYOUTS)]
        sigs = []
        for c in range(chans):
            tag = cid if chans == 1 else f"{cid}#{'LR'[c]}"
            sigs.append(
                pcm16_from_float(reference_signal(tag, n_samples)).astype(
                    np.int64
                )
            )
        if bits == 8:
            stored = [s >> 8 for s in sigs]           # [-128, 127]
            mono16 = [s << 8 for s in stored]         # decoder scale
        elif bits == 16:
            stored = sigs
            mono16 = sigs
        else:
            # noisy low byte: deterministic per (row, channel, sample)
            stored = []
            for c, s in enumerate(sigs):
                rng = np.random.RandomState((i * 7 + c) & 0x7FFFFFFF)
                stored.append((s << 8) | rng.randint(0, 256, len(s)))
            mono16 = [s >> 8 for s in stored]         # == sigs exactly
        if chans == 1:
            src = stored[0]
            mono = mono16[0]
        else:
            src = np.stack(stored, axis=1)
            mono = (mono16[0] + mono16[1]) >> 1
        raw = encode_wav_pcm(src, WAVD_SR_HZ, bits=bits)
        cls = i % WAVD_CLASS_MOD
        frame = (bits // 8) * chans
        if cls == WAVD_CLS_TRUNC:
            # torn upload: raw PCM has NO integrity chain (unlike FLAC/
            # ADPCM), so a mid-data cut still DECODES — just short. The
            # realistic catch is length reconciliation (n_samples vs
            # sr*dur), so the ledger certifies the TRUNCATED decode
            # (source arithmetic: whole frames below the cut) and the
            # contract query flags the row via len_ok=false. Cut off a
            # non-frame boundary to exercise the partial-frame trim.
            cut = 44 + (len(raw) - 44) // 2 + 1
            raw = raw[:cut]
            k = (cut - 44) // frame
            mono = mono[:k]
        n_dec = int(len(mono))
        dec_md5 = hashlib.md5(
            mono.astype("<i2").tobytes().hex().upper().encode()
        ).hexdigest()
        return (cid, bytearray(raw), WAVD_SR_HZ, dur, f"pcm_s{bits}",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- FLAC seek/window ledger corpus (SEEKTABLE random access) -------------
# LONG clips (3-8 s) encoded with a SEEKTABLE every 4 frames; the fixed
# per-row window spec (off = 40% of dur, 250 ms) is certified from the
# SOURCE samples. One planted class flips a byte inside FRAME 0's body:
# the FULL decode provably raises while the WINDOW decode — which seeks
# past frame 0 — still lands on the certified fingerprint. That pair of
# facts is the proof that random access genuinely skips leading frames.
SEEK_CLASS_MOD = 7
SEEK_CLS_EARLY_CORRUPT = 3
SEEK_SR_HZ = 16000
SEEK_EVERY = 4


def window_spec(dur_ms: int) -> tuple[int, int]:
    """The corpus's fixed window: (off_ms, win_ms) = (40% of dur, 250)."""
    return (int(dur_ms) * 2 // 5, 250)


def synth_flac_seek_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Long seekable-FLAC clips with a certified window fingerprint."""
    from jsonschema_spark.functions.flac import (
        decode_flac,
        decode_flac_range,
        encode_flac,
        flac_seek_points,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (3000, 8000))
        n_samples = SEEK_SR_HZ * dur // 1000
        stereo = i % 2 == 1
        if stereo:
            left = pcm16_from_float(reference_signal(cid + "#L", n_samples))
            right = pcm16_from_float(reference_signal(cid + "#R", n_samples))
            src = np.stack(
                [left.astype(np.int64), right.astype(np.int64)], axis=1
            )
            mono = (src[:, 0] + src[:, 1]) >> 1
        else:
            src = pcm16_from_float(reference_signal(cid, n_samples)).astype(
                np.int64
            )
            mono = src
        raw = encode_flac(src, SEEK_SR_HZ, seek_every=SEEK_EVERY)
        off_ms, win_ms = window_spec(dur)
        start = SEEK_SR_HZ * off_ms // 1000
        cnt = SEEK_SR_HZ * win_ms // 1000
        win = mono[start : start + cnt]
        win_md5 = hashlib.md5(
            win.astype("<i2").tobytes().hex().upper().encode()
        ).hexdigest()
        if i % SEEK_CLASS_MOD == SEEK_CLS_EARLY_CORRUPT:
            _pts, frames_start = flac_seek_points(raw)
            cand = bytearray(raw)
            cand[frames_start + 40] ^= 0x20  # inside frame 0's body
            # synth-VERIFY both halves of the skip proof
            try:
                decode_flac(bytes(cand))
                raise AssertionError("early corruption must fail full decode")
            except ValueError:
                pass
            _sr, wdec = decode_flac_range(bytes(cand), start, cnt)
            if wdec.ndim == 2:
                wdec = (wdec[:, 0].astype(np.int64) + wdec[:, 1]) >> 1
            assert np.array_equal(np.asarray(wdec, dtype=np.int64), win)
            raw = bytes(cand)
        return (cid, bytearray(raw), SEEK_SR_HZ, dur, "flac",
                transcript_for(cid), i, int(len(win)), win_md5)

    schema = ledger_schema(
        T.StructField("_win_n", T.LongType(), True),
        T.StructField("_win_md5", T.StringType(), True),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- decode-then-segment ledger corpus -------------------------------------
# One corpus exercising EVERY container decode_payload speaks, so the
# decode-once-then-posexplode segmentation operator (operators/segments.
# segment_decoded) is pinned across the whole codec surface in one query.
# Ledger stance per class: lossless containers (FLAC / WAV16 / raw PCM)
# certify segments from the SOURCE samples (truth never passes through the
# codec); lossy codecs (IMA ADPCM / G.711 u-law) certify the synth-time
# decode fixpoint (encode -> store -> distribute -> decode, same stance as
# the ADPCM corpus); the torn-FLAC class is deepened until the decoder
# provably raises, and the ledger plants the single NULL segment row the
# loud posexplode_outer path must emit.
SEGD_CLASS_MOD = 6
SEGD_CLS_FLAC = 0
SEGD_CLS_WAV16 = 1
SEGD_CLS_ADPCM = 2
SEGD_CLS_ULAW = 3
SEGD_CLS_RAW = 4
SEGD_CLS_TORN = 5
SEGD_SEG_MS = 250

SEGD_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_n_dec", T.LongType(), False),
    T.StructField("_seg_idxs", T.ArrayType(T.LongType(), True), True),
    T.StructField("_seg_ns", T.ArrayType(T.LongType(), True), True),
    T.StructField("_seg_md5s", T.ArrayType(T.StringType(), True), True),
    T.StructField("_seg_sumsqs", T.ArrayType(T.LongType(), True), True),
    T.StructField("_seg_peaks", T.ArrayType(T.LongType(), True), True),
)


def synth_segment_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Mixed-container clips with a per-segment certified ledger: each
    non-torn row carries the expected (idx, n_samples, md5) of every
    SEGD_SEG_MS window of its decoded mono PCM16 stream."""
    from jsonschema_spark.functions.audio import (
        decode_payload,
        encode_wav_adpcm,
        encode_wav_pcm,
        encode_wav_ulaw,
    )
    from jsonschema_spark.functions.flac import encode_flac


    def _segment_ledger(dec16: np.ndarray, sr: int) -> tuple:
        sps = sr * SEGD_SEG_MS // 1000
        b = dec16.astype("<i2").tobytes()
        idxs, ns, md5s, sumsqs, peaks = [], [], [], [], []
        d64 = dec16.astype(np.int64)
        for k, off in enumerate(range(0, len(b), 2 * sps)):
            seg = b[off : off + 2 * sps]
            w = d64[off // 2 : off // 2 + sps]
            idxs.append(k)
            ns.append(len(seg) // 2)
            md5s.append(
                hashlib.md5(seg.hex().upper().encode()).hexdigest()
            )
            # integer-exact energy ledger: sum of squares and peak |x|
            # of the int16 window (fits int64: 4000 * 32768^2 < 2^43)
            sumsqs.append(int(np.dot(w, w)))
            peaks.append(int(np.abs(w).max()) if len(w) else 0)
        return idxs, ns, md5s, sumsqs, peaks

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (600, 1800))
        cls = i % SEGD_CLASS_MOD
        sr = 16000 if (h >> 8) % 2 == 0 else 8000
        n_samples = sr * dur // 1000
        pcm = pcm16_from_float(reference_signal(cid, n_samples))
        # plant a DEAD window in ~1/4 of rows: segment 1 is zeroed in the
        # SOURCE, so the energy ledger certifies sumsq == 0 through the
        # lossless classes (and the tiny lossy-codec residual through the
        # fixpoint) — the silence gate must be SEEN firing
        sps_plant = sr * SEGD_SEG_MS // 1000
        if (h >> 24) % 4 == 0 and n_samples >= 2 * sps_plant:
            pcm = pcm.copy()
            pcm[sps_plant : 2 * sps_plant] = 0
        if cls == SEGD_CLS_FLAC or cls == SEGD_CLS_TORN:
            raw = encode_flac(pcm.astype(np.int64), sr)
            codec = "flac"
            dec16 = pcm
        elif cls == SEGD_CLS_WAV16:
            raw = encode_wav_pcm(pcm, sr, bits=16)
            codec = "wav"
            dec16 = pcm
        elif cls == SEGD_CLS_ADPCM:
            raw = encode_wav_adpcm(pcm, sr)
            codec = "adpcm"
            dec16 = np.clip(
                decode_payload(raw), -32768, 32767
            ).astype("<i2")
        elif cls == SEGD_CLS_ULAW:
            raw = encode_wav_ulaw(pcm, sr)
            codec = "ulaw"
            dec16 = np.clip(
                decode_payload(raw), -32768, 32767
            ).astype("<i2")
        else:
            raw = pcm.astype("<i2").tobytes()
            codec = "pcm_s16le"
            dec16 = pcm
        if cls == SEGD_CLS_TORN:
            cut = 3
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 16
                except Exception:
                    raw = cand
                    break
            n_dec = -1
            idxs, ns, md5s, sumsqs, peaks = (
                [None], [None], [None], [None], [None]
            )
        else:
            n_dec = len(dec16)
            idxs, ns, md5s, sumsqs, peaks = _segment_ledger(dec16, sr)
        return (cid, bytearray(raw), sr, dur, codec, transcript_for(cid),
                i, n_dec, idxs, ns, md5s, sumsqs, peaks)

    return ledger_table(spark, n, SEGD_CLIPS_SCHEMA, _row, partitions)


# --- REAL-FLAC LPC ledger corpus (RFC 9639 §9.2.4) -------------------------
# Same SOURCE-sample ledger stance as the fixed-predictor FLAC corpora,
# but every payload is encoded with LPC trials enabled over a SMOOTHED
# (strongly autocorrelated) program signal, and synth ASSERTS per row
# that the emitted stream differs from the fixed-only encoding — i.e.
# the quantized Levinson-Durbin predictor actually fired, so the
# distributed decode provably exercises the LPC restore recurrence
# (including on 17-bit side channels: rows alternate mono/stereo).
# Planted torn uploads and mid-stream bit flips are deepened until the
# CRC-8/CRC-16/STREAMINFO-MD5 chain provably raises through the LPC path.
FLACL_CLASS_MOD = 11
FLACL_TRUNC_CLS = 3
FLACL_FLIP_CLS = 7
FLACL_SR_HZ = 16000
FLACL_LPC_ORDER = 8


def _smoothed_signal(tag: str, n: int) -> np.ndarray:
    """Deterministic strongly-correlated int16 program material: the
    reference signal through an 8-tap integer moving average (cumsum
    difference — exact) plus a hash-seeded two-tone resonant component.
    Tonal content is where LPC predictors (near-unit-circle resonators)
    beat the fixed difference predictors decisively, so every clip's
    stream provably contains LPC frames (synth asserts it)."""
    x = pcm16_from_float(reference_signal(tag, n + 8)).astype(np.int64)
    c = np.concatenate(([0], np.cumsum(x)))
    y = (c[8:] - c[:-8]) // 8
    h = int.from_bytes(
        hashlib.md5(tag.encode("utf-8")).digest()[:8], "big"
    )
    t = np.arange(n, dtype=np.float64)
    w1 = 0.04 + ((h >> 8) % 997) / 997.0 * 0.22
    w2 = 0.04 + ((h >> 24) % 991) / 991.0 * 0.22
    ph = ((h >> 40) % 628) / 100.0
    tone = 9000.0 * np.sin(w1 * t + ph) + 4000.0 * np.sin(w2 * t)
    out = y[:n] // 3 + np.floor(tone + 0.5).astype(np.int64)
    return np.clip(out, -32768, 32767)


def synth_flac_lpc_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Clips whose payloads are REAL FLAC streams with LPC subframes."""
    from jsonschema_spark.functions.audio import decode_payload
    from jsonschema_spark.functions.flac import encode_flac

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 900))
        n_samples = FLACL_SR_HZ * dur // 1000
        stereo = i % 2 == 1
        if stereo:
            left = _smoothed_signal(cid + "#L", n_samples)
            right = _smoothed_signal(cid + "#R", n_samples)
            src = np.stack([left, right], axis=1)
            mono = (left + right) >> 1
        else:
            src = _smoothed_signal(cid, n_samples)
            mono = src
        raw = encode_flac(
            src, FLACL_SR_HZ, lpc_max_order=FLACL_LPC_ORDER
        )
        # the LPC trial must have FIRED somewhere in this stream
        assert raw != encode_flac(src, FLACL_SR_HZ), cid
        cls = i % FLACL_CLASS_MOD
        n_dec = None
        dec_md5 = None
        if cls == FLACL_TRUNC_CLS:
            cut = 8
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 64
                except Exception:
                    raw = cand
                    break
        elif cls == FLACL_FLIP_CLS:
            pos = len(raw) // 2
            while True:
                cand = bytearray(raw)
                cand[pos] ^= 0x10
                try:
                    decode_payload(bytes(cand))
                    pos = (pos + 37) % len(raw)
                except Exception:
                    raw = bytes(cand)
                    break
        else:
            # ledger truth from the SOURCE samples, not through the codec
            n_dec = len(mono)
            dec_md5 = hashlib.md5(
                mono.astype("<i2").tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), FLACL_SR_HZ, dur, "flac",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- FLAC bit-depth ledger corpus (8/16/24-bit, mono/stereo, LPC on) -------
# Mirrors the WAV-depth corpus for the compressed container: rows cycle
# through five depth/channel layouts (plus a torn-24-bit class), every
# stream is LPC-encoded, and the ledger certifies the ENGINE-CONVENTION
# int16 stream (24-bit >>8 keeps the top 16; 8-bit FLAC is SIGNED so
# <<8; stereo downmixes (l+r)>>1 BEFORE conversion) from the SOURCE
# samples — truth never passes through the codec.
FLACD_CLASS_MOD = 9
FLACD_CLS_TORN = 5
FLACD_SR_HZ = 16000


def synth_flac_depth_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Multi-depth FLAC clips with a source-certified ledger: the full
    RFC 9639 depth matrix (8/12/16/20/24/32-bit, mono + stereo, noisy
    low bits on the deep classes) plus a torn class. The ledger
    certifies the engine-convention int16 stream from the SOURCE
    samples (stereo downmixes before depth conversion)."""
    from jsonschema_spark.functions.audio import decode_payload
    from jsonschema_spark.functions.flac import encode_flac

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (150, 700))
        n_samples = FLACD_SR_HZ * dur // 1000
        cls = i % FLACD_CLASS_MOD
        base = _smoothed_signal(cid, n_samples)
        base_r = _smoothed_signal(cid + "#R", n_samples)
        if cls == 0:                       # 8-bit mono
            bits, src = 8, base >> 8
            mono16 = (base >> 8) << 8
        elif cls == 1:                     # 16-bit stereo
            bits = 16
            src = np.stack([base, base_r], axis=1)
            mono16 = (base + base_r) >> 1
        elif cls == 2:                     # 24-bit mono, noisy low byte
            bits = 24
            src = (base << 8) | (h & 0xFF)
            mono16 = src >> 8
        elif cls == 3:                     # 24-bit stereo
            bits = 24
            l24, r24 = base << 8, base_r << 8
            src = np.stack([l24, r24], axis=1)
            mono16 = ((l24 + r24) >> 1) >> 8
        elif cls == 4:                     # 8-bit stereo
            bits = 8
            l8, r8 = base >> 8, base_r >> 8
            src = np.stack([l8, r8], axis=1)
            mono16 = (((l8 + r8) >> 1) << 8)
        elif cls == 5:                     # torn 24-bit source
            bits = 24
            src = base << 8
            mono16 = base
        elif cls == 6:                     # 12-bit mono
            bits, src = 12, base >> 4
            mono16 = (base >> 4) << 4
        elif cls == 7:                     # 20-bit stereo, noisy low nibble
            bits = 20
            l20 = (base << 4) | (h & 0xF)
            r20 = (base_r << 4) | ((h >> 4) & 0xF)
            src = np.stack([l20, r20], axis=1)
            mono16 = ((l20 + r20) >> 1) >> 4
        else:                              # 32-bit mono, noisy low 16
            bits = 32
            src = (base << 16) | (h & 0xFFFF)
            mono16 = src >> 16
        raw = encode_flac(src, FLACD_SR_HZ, bits=bits, lpc_max_order=8)
        n_dec = None
        dec_md5 = None
        if cls == FLACD_CLS_TORN:
            cut = 8
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 64
                except Exception:
                    raw = cand
                    break
        else:
            n_dec = len(mono16)
            dec_md5 = hashlib.md5(
                mono16.astype("<i2").tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), FLACD_SR_HZ, dur, "flac",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- FLAC multichannel ledger corpus (3-8 channels, independent) ----------
# Rows cycle through 3/4/6/8-channel LPC streams (plus a torn class);
# the ledger certifies the engine downmix floor(sum/n) from the SOURCE
# channels — truth never passes through the codec.
FLACM_CLASS_MOD = 5
FLACM_CLS_TORN = 4
FLACM_SR_HZ = 16000
FLACM_CHANNELS = (3, 4, 6, 8)


def synth_flac_multichannel_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Multichannel FLAC clips with a source-certified downmix ledger."""
    from jsonschema_spark.functions.audio import decode_payload
    from jsonschema_spark.functions.flac import encode_flac

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (150, 600))
        n_samples = FLACM_SR_HZ * dur // 1000
        cls = i % FLACM_CLASS_MOD
        nch = FLACM_CHANNELS[cls % len(FLACM_CHANNELS)]
        chans = [
            _smoothed_signal(f"{cid}#C{c}", n_samples) for c in range(nch)
        ]
        src = np.stack(chans, axis=1)
        mono16 = np.floor_divide(src.sum(axis=1), nch)
        raw = encode_flac(src, FLACM_SR_HZ, lpc_max_order=8)
        n_dec = None
        dec_md5 = None
        if cls == FLACM_CLS_TORN:
            cut = 8
            while True:
                cand = raw[:-cut]
                try:
                    decode_payload(bytes(cand))
                    cut += 64
                except Exception:
                    raw = cand
                    break
        else:
            n_dec = len(mono16)
            dec_md5 = hashlib.md5(
                mono16.astype("<i2").tobytes().hex().upper().encode()
            ).hexdigest()
        return (cid, bytearray(raw), FLACM_SR_HZ, dur, "flac",
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- AIFF / AIFF-C / Sun AU container ledger corpus ------------------------
# The interchange-container roster beyond RIFF/WAVE: rows cycle through
# AIFF PCM (16/24/8-bit, mono/stereo), AIFF-C sowt (byte-swapped 16-bit),
# and Sun AU (BE PCM 16/24-bit + G.711 mu-law/A-law), plus a torn-AIFF
# class. PCM-class truth is certified from the SOURCE samples by pure
# integer shifts (never through the codec); the G.711 classes certify
# via the engine kernels, which are themselves pinned bit-exact against
# the public Sun reference over the full 16-bit domain (test_audio /
# test_alaw) — the only honest truth for a lossy quantization law.
CONT_CLASS_MOD = 9
CONT_CLS_TORN = 8
CONT_SR_HZ = 16000


def synth_container_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """AIFF/AIFC/AU clips with a source-certified ledger (see the class
    roster above; class 8 is torn AIFF that must fail loudly)."""
    from jsonschema_spark.functions.audio import (
        alaw_decode,
        alaw_encode,
        encode_aiff,
        encode_au,
        ulaw_decode,
        ulaw_encode,
    )

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (150, 700))
        n_samples = CONT_SR_HZ * dur // 1000
        cls = i % CONT_CLASS_MOD
        base = _smoothed_signal(cid, n_samples)
        base_r = _smoothed_signal(cid + "#R", n_samples)
        codec = "aiff"
        if cls == 0:                       # AIFF pcm16 mono
            raw = encode_aiff(base, CONT_SR_HZ)
            mono16 = base
        elif cls == 1:                     # AIFF pcm24 stereo, noisy low
            l24 = (base << 8) | (h & 0xFF)
            r24 = (base_r << 8) | ((h >> 8) & 0xFF)
            raw = encode_aiff(
                np.stack([l24, r24], axis=1), CONT_SR_HZ, bits=24
            )
            # WAV-family convention: depth-convert per channel FIRST
            # (>>8 keeps the top 16), THEN downmix — unlike FLAC, whose
            # decoder downmixes the full-depth channels before conversion
            mono16 = ((l24 >> 8) + (r24 >> 8)) >> 1
        elif cls == 2:                     # AIFF-C sowt stereo
            codec = "aifc"
            raw = encode_aiff(
                np.stack([base, base_r], axis=1), CONT_SR_HZ,
                compression="sowt",
            )
            mono16 = (base + base_r) >> 1
        elif cls == 3:                     # AIFF pcm8 mono (SIGNED)
            raw = encode_aiff(base >> 8, CONT_SR_HZ, bits=8)
            mono16 = (base >> 8) << 8
        elif cls == 4:                     # AU pcm16 stereo
            codec = "au"
            raw = encode_au(np.stack([base, base_r], axis=1), CONT_SR_HZ)
            mono16 = (base + base_r) >> 1
        elif cls == 5:                     # AU pcm24 mono, noisy low byte
            codec = "au"
            src = (base << 8) | (h & 0xFF)
            raw = encode_au(src, CONT_SR_HZ, encoding="pcm24")
            mono16 = src >> 8
        elif cls == 6:                     # AU G.711 mu-law mono
            codec = "au"
            raw = encode_au(base, CONT_SR_HZ, encoding="ulaw")
            mono16 = ulaw_decode(ulaw_encode(base.astype(np.int16)))
        elif cls == 7:                     # AU G.711 A-law mono
            codec = "au"
            raw = encode_au(base, CONT_SR_HZ, encoding="alaw")
            mono16 = alaw_decode(alaw_encode(base.astype(np.int16)))
        else:                              # torn AIFF: SSND cut mid-frame
            raw = encode_aiff(base, CONT_SR_HZ)[:-9]
            mono16 = base
        n_dec = None
        dec_md5 = None
        if cls != CONT_CLS_TORN:
            n_dec = len(mono16)
            dec_md5 = hashlib.md5(
                np.asarray(mono16)
                .astype("<i2")
                .tobytes()
                .hex()
                .upper()
                .encode()
            ).hexdigest()
        return (cid, bytearray(raw), CONT_SR_HZ, dur, codec,
                transcript_for(cid), i, n_dec, dec_md5)

    return ledger_table(spark, n, ADPCM_CLIPS_SCHEMA, _row, partitions)


# --- BS.1770 / EBU R128 loudness ledger corpus ------------------------------
# Classes cycle program material, a -23 dBFS 997 Hz tone (the EBU Tech
# 3341 reference stimulus), quiet program, FLAC-compressed program
# (lossless -> identical samples through the codec), a sub-block-length
# clip (NULL loudness, n_blocks 0) and a torn WAV (NULL everything,
# n_blocks -1). The ledger certifies the EXACT kernel outputs computed
# at synth time from the SOURCE samples (truth never passes through the
# container decode — lossless for every class); the batch kernel is
# pinned bit-identical to single-clip evaluation and to the EBU
# analytic references in tests, so the query's decode->kernel path must
# match the ledger doubles bit-for-bit.
LOUD_CLASS_MOD = 6
LOUD_CLS_SHORT = 4
LOUD_CLS_TORN = 5
LOUD_SR_HZ = 16000


def synth_loudness_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Loudness ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import (
        encode_wav_pcm16,
    )
    from jsonschema_spark.functions.flac import encode_flac
    from jsonschema_spark.functions.loudness import loudness_batch

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (500, 1500))
        cls = i % LOUD_CLASS_MOD
        if cls == LOUD_CLS_SHORT:
            dur = 200  # < one 400 ms gating block
        n_samples = LOUD_SR_HZ * dur // 1000
        base = _smoothed_signal(cid, n_samples)
        codec = "wav"
        if cls == 1:    # EBU 3341 stimulus: 997 Hz sine at -23 dBFS RMS
            t = np.arange(n_samples, dtype=np.float64)
            amp = 10.0 ** (-23.0 / 20.0) * np.sqrt(2.0) * 32768.0
            src = np.round(
                amp * np.sin(2.0 * np.pi * 997.0 * t / LOUD_SR_HZ)
            ).astype(np.int64)
        elif cls == 2:  # quiet program (~ -24 dB below class 0)
            src = base >> 4
        else:
            src = base
        if cls == 3:
            codec = "flac"
            raw = encode_flac(src, LOUD_SR_HZ, lpc_max_order=8)
        else:
            raw = encode_wav_pcm16(src.astype(np.int32), LOUD_SR_HZ)
        lufs_i = lufs_mm = tp = ngain = nmd5 = None
        nb = -1
        if cls == LOUD_CLS_TORN:
            raw = raw[:25]  # fmt chunk torn: decode fails loudly
        else:
            r = loudness_batch([src], LOUD_SR_HZ)
            nb = int(r["n_blocks"][0])

            def _f(v):
                return None if np.isnan(v) else float(v)

            lufs_i = _f(r["lufs_integrated"][0])
            lufs_mm = _f(r["lufs_momentary_max"][0])
            tp = _f(r["true_peak_dbtp"][0])
            if lufs_i is not None:
                # expected -23 LUFS normalization rewrite (same gain +
                # floor(v*g+0.5) arithmetic as lufs_normalize_batch)
                ngain = min(8.0, 10.0 ** ((-23.0 - lufs_i) / 20.0))
                out = np.floor(src.astype(np.float64) * ngain + 0.5)
                out = np.clip(out, -32768.0, 32767.0).astype("<i2")
                import hashlib as _h2

                nmd5 = _h2.md5(out.tobytes()).hexdigest()
        return (cid, bytearray(raw), LOUD_SR_HZ, dur, codec,
                transcript_for(cid), i, lufs_i, lufs_mm, tp, nb,
                ngain, nmd5)

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("sr_hz", T.IntegerType()),
            T.StructField("dur_ms", T.IntegerType()),
            T.StructField("codec", T.StringType()),
            T.StructField("transcript", T.StringType()),
            T.StructField("_row_idx", T.LongType()),
            T.StructField("_lufs_i", T.DoubleType()),
            T.StructField("_lufs_mm", T.DoubleType()),
            T.StructField("_tp", T.DoubleType()),
            T.StructField("_n_blocks", T.LongType()),
            T.StructField("_ngain", T.DoubleType()),
            T.StructField("_nmd5", T.StringType()),
        ]
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- MP3 frame-header-walk ledger corpus -------------------------------------
# MP3 payload bits are opaque to a header walker, so the ledger is
# SOURCE-certified by pure arithmetic over the generator's own parameters
# (frame counts, the spec's n*spf*1000//sr duration, the bitrate schedule,
# declared-vs-actual Xing/VBRI counts) — the truth never passes through
# the parser under test. Classes cover every MPEG version (1 / 2 / 2.5),
# all three layers, CBR + VBR, Xing/Info/VBRI declarations, ID3v2/v1
# wrappers, CRC-16-protected streams, and three planted-failure classes
# (torn tail, corrupted CRC, mid-stream sync loss) that must fail loudly.
MP3_CLASS_MOD = 12
MP3_CLS_INFO_MISMATCH = 8
MP3_CLS_TORN = 9
MP3_CLS_CRC_BAD = 10
MP3_CLS_SYNC_LOST = 11
MP3_ERR_CLASSES = {MP3_CLS_TORN: "truncated",
                   MP3_CLS_CRC_BAD: "crc_mismatch",
                   MP3_CLS_SYNC_LOST: "sync_lost"}

MP3_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_frames", T.IntegerType(), True),
    T.StructField("_parsed_dur_ms", T.IntegerType(), True),
    T.StructField("_br_min", T.IntegerType(), True),
    T.StructField("_br_max", T.IntegerType(), True),
    T.StructField("_vbr", T.BooleanType(), True),
    T.StructField("_info_frames", T.IntegerType(), True),
    T.StructField("_info_ok", T.BooleanType(), True),
    T.StructField("_crc_frames", T.IntegerType(), True),
)


def synth_mp3_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """MP3 ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.mp3 import (
        encode_mp3_stream,
        samples_per_frame,
    )

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (300, 1500))
        cls = i % MP3_CLASS_MOD
        # (version_id, layer, sr, mode, bitrate schedule) per class
        if cls in (0, 7, 8, 9, 11):
            vid, layer, sr, mode, brs = 3, 3, 44100, "stereo", (128,)
        elif cls == 1:
            vid, layer, sr, mode, brs = 3, 3, 44100, "joint", (96, 128, 160)
        elif cls == 2:
            vid, layer, sr, mode, brs = 2, 3, 16000, "mono", (64,)
        elif cls == 3:
            vid, layer, sr, mode, brs = 0, 3, 8000, "mono", (40,)
        elif cls == 4:
            vid, layer, sr, mode, brs = 3, 2, 48000, "stereo", (192,)
        elif cls == 5:
            vid, layer, sr, mode, brs = 3, 1, 32000, "stereo", (256,)
        else:  # 6, 10: CRC-protected MPEG2 Layer III
            vid, layer, sr, mode, brs = 2, 3, 22050, "mono", (64,)
        spf = samples_per_frame(vid, layer)
        n_audio = max(len(brs), dur * sr // (spf * 1000))
        protected = cls in (6, MP3_CLS_CRC_BAD)
        kw: dict = {"protected": protected}
        has_info = False
        declared = None
        if cls == 1:
            kw["xing"] = "xing"
            has_info = True
        elif cls == 5:
            kw["padding_pattern"] = (0, 1)
        elif cls == 7:
            kw["id3v2_size"] = 200 + (h % 300)
            kw["id3v1"] = True
        elif cls == MP3_CLS_INFO_MISMATCH:
            kw["xing"] = "info"
            kw["xing_frames"] = n_audio + 1 + 7  # planted over-count
            has_info = True
            declared = n_audio + 1 + 7
        elif cls == 2:
            kw["vbri_frames"] = n_audio + 1
            has_info = True
        raw = encode_mp3_stream(
            n_audio, vid, layer, sr, mode, brs, seed=i, **kw
        )
        if cls == MP3_CLS_TORN:
            raw = raw[:-9]
        elif cls == MP3_CLS_SYNC_LOST:
            # zero the second frame's sync byte (frame 0 is 417 or 418B;
            # schedule is CBR 128k@44100 unpadded = 417)
            b = bytearray(raw)
            b[417] = 0x00
            raw = bytes(b)
        elif cls == MP3_CLS_CRC_BAD:
            b = bytearray(raw)
            b[8] ^= 0x40  # side-info bit of frame 0: CRC must catch it
            raw = bytes(b)
        total = n_audio + (1 if has_info else 0)
        if has_info and declared is None:
            declared = total
        if cls in MP3_ERR_CLASSES:
            led = (False, MP3_ERR_CLASSES[cls], None, None, None, None,
                   None, None, None, None)
        else:
            sched = [brs[k % len(brs)] for k in range(n_audio)]
            if has_info:
                sched.append(brs[0])
            led = (
                True, None, total, total * spf * 1000 // sr,
                min(sched), max(sched), min(sched) != max(sched),
                declared, None if declared is None else declared == total,
                total if protected else 0,
            )
        return (cid, bytearray(raw), sr, dur, "mp3",
                transcript_for(cid), i) + led

    return ledger_table(spark, n, MP3_CLIPS_SCHEMA, _row, partitions)


# --- mains-hum / DC-offset ledger corpus -------------------------------------
# Classes: clean program; 60 Hz-family hum injected (fundamental +
# harmonics); 50 Hz-family hum; DC-biased; sub-window (too short to
# resolve 50 vs 60 Hz — DC defined, hum NaN); torn WAV (all NULL-ish).
# The ledger certifies the EXACT kernel outputs computed at synth time
# from the SOURCE samples (PCM16 WAV is lossless, so the distributed
# decode must land on them bit-for-bit); the analytic anchors that make
# the kernel itself trustworthy live in tests/test_hum.py (a pure tone
# of known amplitude must read within 0.2 dB of 20*log10(A_rms/sig_rms)).
HUM_CLASS_MOD = 6
HUM_CLS_SHORT = 4
HUM_CLS_TORN = 5
HUM_SR_HZ = 16000


def _hum_program(tag: str, n: int) -> np.ndarray:
    """Program material for the hum corpus: LINE-FREE smoothed hash
    noise plus resonant tones constrained to [0.1, 0.3] rad/sample
    (255-764 Hz at 16 kHz) — deliberately clear of the 50/60 Hz harmonic
    bins AND their ±7 Hz prominence flanks, so the CLEAN class's truth
    is unambiguous. (`_smoothed_signal`/`reference_signal` are unusable
    here: their hash-seeded tones range down to 80 Hz and can land
    EXACTLY on a mains harmonic bin — observed at 150 Hz.)"""
    h = int.from_bytes(hashlib.md5(tag.encode("utf-8")).digest()[:8], "big")
    idx = np.arange(n + 8, dtype=np.uint64)
    v = idx * np.uint64(6364136223846793005) + np.uint64(h | 1)
    x = ((v >> np.uint64(20)) % np.uint64(16384)).astype(np.int64) - 8192
    c = np.concatenate(([0], np.cumsum(x)))
    y = (c[8:] - c[:-8])[:n] // 8  # 8-tap MA: smooth PSD, no lines
    t = np.arange(n, dtype=np.float64)
    w1 = 0.10 + ((h >> 8) % 997) / 997.0 * 0.20
    w2 = 0.10 + ((h >> 24) % 991) / 991.0 * 0.20
    ph = ((h >> 40) % 628) / 100.0
    tone = 9000.0 * np.sin(w1 * t + ph) + 4000.0 * np.sin(w2 * t)
    return np.clip(y + np.floor(tone + 0.5).astype(np.int64), -32768, 32767)


def synth_hum_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Hum/DC ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import (
        encode_wav_pcm16,
        hum_profile_batch,
    )

    sr = HUM_SR_HZ

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (400, 1200))
        cls = i % HUM_CLASS_MOD
        if cls == HUM_CLS_SHORT:
            dur = 100  # < 200 ms hum-resolution window
        m = sr * dur // 1000
        x = _hum_program(cid, m).astype(np.float64)
        t = np.arange(m, dtype=np.float64) * (2.0 * np.pi / sr)
        if cls == 1:   # 60 Hz family
            x = x + 1500.0 * np.sin(60.0 * t) + 500.0 * np.sin(120.0 * t)
        elif cls == 2:  # 50 Hz family
            x = (x + 1200.0 * np.sin(50.0 * t)
                 + 600.0 * np.sin(100.0 * t) + 300.0 * np.sin(150.0 * t))
        elif cls == 3:  # DC bias at 5% full scale
            x = x + 0.05 * 32768.0
        pcm = np.clip(np.floor(x + 0.5), -32768, 32767).astype(np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == HUM_CLS_TORN:
            raw = raw[:25]  # fmt chunk torn: decode fails loudly
        led = hum_profile_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        return (cid, bytearray(raw), sr, dur, "wav",
                transcript_for(cid), i,
                float(led["dc_offset"]), float(led["hum_dbr_50"]),
                float(led["hum_dbr_60"]), float(led["hum_prom_50"]),
                float(led["hum_prom_60"]), int(led["n_samples"]))

    schema = ledger_schema(
        T.StructField("_dc", T.DoubleType(), True),
        T.StructField("_h50", T.DoubleType(), True),
        T.StructField("_h60", T.DoubleType(), True),
        T.StructField("_p50", T.DoubleType(), True),
        T.StructField("_p60", T.DoubleType(), True),
        T.StructField("_n", T.LongType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- Ogg container-walk ledger corpus ----------------------------------------
# Classes: Opus mono/stereo, Vorbis stereo/mono, a VALID continued
# packet spanning pages (lacing 255 chain + continuation flag), then
# five planted-failure classes: torn tail, CRC-corrupted body, page
# sequence gap, missing EOS, and a mid-stream serial switch
# (single-stream walker rejects multiplexing by design). Ledger truth is
# GENERATOR arithmetic (page/packet/granule counts from the synthesis
# parameters) — the walker never runs at synth time.
OGG_CLASS_MOD = 10
OGG_ERR_CLASSES = {5: "truncated", 6: "crc_mismatch", 7: "seq_gap",
                   8: "bad_flags", 9: "multiplexed"}

OGG_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_codec", T.StringType(), True),
    T.StructField("_channels", T.IntegerType(), True),
    T.StructField("_rate", T.IntegerType(), True),
    T.StructField("_pre_skip", T.IntegerType(), True),
    T.StructField("_n_pages", T.IntegerType(), True),
    T.StructField("_n_packets", T.IntegerType(), True),
    T.StructField("_granule", T.LongType(), True),
    T.StructField("_dur", T.LongType(), True),
)


def synth_ogg_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Ogg ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.ogg import (
        build_page,
        encode_ogg_opus,
        encode_ogg_vorbis,
        opus_head_packet,
        opus_tags_packet,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (300, 1200))
        cls = i % OGG_CLASS_MOD
        led = None
        if cls == 0:   # Opus mono 16 k, 20 ms packets, 3/page
            pk = max(1, dur // 20)
            raw = encode_ogg_opus(pk, 1, 312, 16000, seed=i)
            led = ("opus", 1, 16000, 312, 2 + -(-pk // 3), pk + 2,
                   pk * 960, (pk * 960 - 312) * 1000 // 48000)
            sr, codec = 16000, "opus"
        elif cls == 1:  # Opus stereo 48 k, zero pre-skip, 2/page
            pk = max(1, dur // 20)
            raw = encode_ogg_opus(
                pk, 2, 0, 48000, packet_bytes=800, packets_per_page=2,
                seed=i,
            )
            led = ("opus", 2, 48000, 0, 2 + -(-pk // 2), pk + 2,
                   pk * 960, pk * 20)
            sr, codec = 48000, "opus"
        elif cls == 2:  # Vorbis stereo 44.1 k
            pk = max(1, dur * 44100 // (1024 * 1000))
            raw = encode_ogg_vorbis(pk, 2, 44100, seed=i)
            led = ("vorbis", 2, 44100, None, 2 + -(-pk // 4), pk + 3,
                   pk * 1024, pk * 1024 * 1000 // 44100)
            sr, codec = 44100, "vorbis"
        elif cls == 3:  # Vorbis mono 8 k, short blocks
            pk = max(1, dur * 8000 // (512 * 1000))
            raw = encode_ogg_vorbis(
                pk, 1, 8000, samples_per_packet=512, packets_per_page=5,
                seed=i,
            )
            led = ("vorbis", 1, 8000, None, 2 + -(-pk // 5), pk + 3,
                   pk * 512, pk * 512 * 1000 // 8000)
            sr, codec = 8000, "vorbis"
        elif cls == 4:  # VALID continued packet spanning two pages
            s = 0x42
            long_pkt = bytes(
                ((np.arange(610, dtype=np.int64) * 31 + i) % 251)
                .astype(np.uint8)
            )
            norm = bytes(
                ((np.arange(400, dtype=np.int64) * 17 + i) % 251)
                .astype(np.uint8)
            )
            pages = [
                build_page(s, 0, 0, [opus_head_packet(1, 312, 16000)],
                           bos=True),
                build_page(s, 1, 0, [opus_tags_packet()]),
                # one complete packet + the first 510 B of the long one
                build_page(s, 2, 960, [norm, long_pkt[:510]],
                           open_ended=True),
                # continuation tail + one more complete packet, EOS
                build_page(s, 3, 3 * 960, [long_pkt[510:], norm],
                           cont=True, eos=True),
            ]
            raw = b"".join(pages)
            led = ("opus", 1, 16000, 312, 4, 5, 3 * 960,
                   (3 * 960 - 312) * 1000 // 48000)
            sr, codec = 16000, "opus"
        elif cls == 5:  # torn tail
            raw = encode_ogg_opus(max(1, dur // 20), 1, 312, 16000,
                                  seed=i)[:-5]
            sr, codec = 16000, "opus"
        elif cls == 6:  # body byte flipped: page CRC must catch it
            b = bytearray(
                encode_ogg_opus(max(1, dur // 20), 1, 312, 16000, seed=i)
            )
            b[-3] ^= 0x01
            raw = bytes(b)
            sr, codec = 16000, "opus"
        else:
            s = 0x42
            pkt = bytes(
                ((np.arange(300, dtype=np.int64) * 13 + i) % 251)
                .astype(np.uint8)
            )
            p0 = build_page(s, 0, 0, [opus_head_packet(1, 312, 16000)],
                            bos=True)
            p1 = build_page(s, 1, 0, [opus_tags_packet()])
            if cls == 7:    # sequence gap: page 2 arrives as seq 3
                p2 = build_page(s, 3, 960, [pkt], eos=True)
            elif cls == 8:  # missing EOS on the final page
                p2 = build_page(s, 2, 960, [pkt])
            else:           # 9: serial switch mid-stream
                p2 = build_page(s + 1, 2, 960, [pkt], eos=True)
            raw = p0 + p1 + p2
            sr, codec = 16000, "opus"
        if led is None:
            out = (False, OGG_ERR_CLASSES[cls], None, None, None, None,
                   None, None, None, None)
        else:
            out = (True, None) + led
        return (cid, bytearray(raw), sr, dur, codec,
                transcript_for(cid), i) + out

    return ledger_table(spark, n, OGG_CLIPS_SCHEMA, _row, partitions)


# --- mixed-container dispatch ledger corpus ----------------------------------
# One corpus, every container family the engine knows: decodable (WAV,
# real FLAC, AIFF stereo, AU mu-law), structural (MP3 frame walk, Ogg
# Opus/Vorbis page walk, AAC ADTS frame walk, ISO-BMFF/MP4 audio-track
# profile — the round-4 classes), plus two metadata-violation classes
# (header sample rate disagreeing with the sr_hz COLUMN; parsed
# duration disagreeing with dur_ms) and a torn class. Ledger truth is
# generator arithmetic; gate booleans are replayed from it in the
# oracle.
MIXED_CLASS_MOD = 12
MIXED_CLS_BAD_RATE = 7
MIXED_CLS_BAD_DUR = 8
MIXED_CLS_TORN = 9


def synth_mixed_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Mixed-container ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import (
        encode_au,
        encode_aiff,
        encode_wav_pcm16,
    )
    from jsonschema_spark.functions.flac import encode_flac
    from jsonschema_spark.functions.mp3 import encode_mp3_stream
    from jsonschema_spark.functions.ogg import (
        encode_ogg_opus,
        encode_ogg_vorbis,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (300, 900))
        cls = i % MIXED_CLASS_MOD
        sr_col = 16000
        dur_col = dur
        err = False
        if cls in (0, 7):        # WAV PCM16 mono @16 k
            m = 16000 * dur // 1000
            raw = encode_wav_pcm16(_smoothed_signal(cid, m), 16000)
            led = ("wav", 16000, 1, m, m * 1000 // 16000)
            if cls == MIXED_CLS_BAD_RATE:
                sr_col = 22050   # planted header-vs-column disagreement
        elif cls in (1, 9):      # real FLAC mono @16 k
            m = 16000 * dur // 1000
            raw = encode_flac(
                _smoothed_signal(cid, m).astype(np.int32), 16000
            )
            led = ("flac", 16000, 1, m, m * 1000 // 16000)
            if cls == MIXED_CLS_TORN:
                raw = raw[:-9]
                err = True
        elif cls == 2:           # AIFF stereo @16 k
            m = 16000 * dur // 1000
            st = np.stack(
                [_smoothed_signal(cid, m), _smoothed_signal(cid + "#R", m)],
                axis=1,
            )
            raw = encode_aiff(st, 16000)
            led = ("aiff", 16000, 2, m, m * 1000 // 16000)
        elif cls == 3:           # AU G.711 mu-law mono @16 k
            m = 16000 * dur // 1000
            raw = encode_au(_smoothed_signal(cid, m), 16000,
                            encoding="ulaw")
            led = ("au", 16000, 1, m, m * 1000 // 16000)
        elif cls in (4, 8):      # MP3 MPEG2 L3 64k @16 k mono
            pk = max(1, dur * 16000 // (576 * 1000))
            raw = encode_mp3_stream(pk, 2, 3, 16000, "mono", (64,),
                                    seed=i)
            pdur = pk * 576 * 1000 // 16000
            led = ("mp3", 16000, 1, None, pdur)
            dur_col = pdur
            if cls == MIXED_CLS_BAD_DUR:
                dur_col = pdur + 500  # planted duration disagreement
        elif cls == 5:           # Ogg Opus mono, declared 16 k input
            pk = max(1, dur // 20)
            raw = encode_ogg_opus(pk, 1, 312, 16000, seed=i)
            pdur = (pk * 960 - 312) * 1000 // 48000
            led = ("ogg", 16000, 1, None, pdur)
            dur_col = pk * 20
        elif cls == 6:           # Ogg Vorbis mono @16 k
            pk = max(1, dur * 16000 // (1024 * 1000))
            raw = encode_ogg_vorbis(pk, 1, 16000, seed=i)
            pdur = pk * 1024 * 1000 // 16000
            led = ("ogg", 16000, 1, None, pdur)
            dur_col = pdur
        elif cls == 10:          # AAC ADTS LC mono @16 k (round 4)
            from jsonschema_spark.functions.aac import encode_adts_stream

            pk = max(1, dur * 16000 // (1024 * 1000))
            raw = encode_adts_stream(pk, 8, 1, 1, seed=i)
            pdur = pk * 1024 * 1000 // 16000
            led = ("adts", 16000, 1, None, pdur)
            dur_col = pdur
        else:                    # 11: MP4 with a 'sowt' PCM track (round 4)
            from jsonschema_spark.functions.mp4 import encode_mp4_h264

            m = 16000 * dur // 1000
            raw = encode_mp4_h264(
                6 + i % 5, audio_samples=m, audio_sr=16000, seed=i
            )
            led = ("mp4", 16000, 1, m, m * 1000 // 16000)
            dur_col = m * 1000 // 16000
        if err:
            # magic still sniffs (the container IS identifiable); every
            # downstream metric and gate fails
            out = ("flac", False, None, None, None, None,
                   False, False, False)
        else:
            cont, rate, ch, nsamp, pdur = led
            rate_ok = rate == sr_col
            dur_ok = abs(pdur - dur_col) <= 50
            out = (cont, True, rate, ch, nsamp, pdur,
                   rate_ok, dur_ok, rate_ok and dur_ok)
        return (cid, bytearray(raw), sr_col, dur_col,
                out[0] if out[0] else "flac",
                transcript_for(cid), i) + out

    schema = ledger_schema(
        T.StructField("_container", T.StringType(), True),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_rate", T.IntegerType(), True),
        T.StructField("_channels", T.IntegerType(), True),
        T.StructField("_n", T.LongType(), True),
        T.StructField("_pdur", T.LongType(), True),
        T.StructField("_rate_ok", T.BooleanType(), False),
        T.StructField("_dur_ok", T.BooleanType(), False),
        T.StructField("_meta_ok", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- pitch / voicing ledger corpus -------------------------------------------
# Classes: harmonically-rich voiced "vowels" at hash-drawn f0 (90-250 Hz),
# broadband noise (unvoiced), half-voiced/half-noise, a low-pitch 70 Hz
# voice (range floor), a sub-window clip (unmeasurable) and a torn WAV.
# Ledger certifies the EXACT kernel outputs from SOURCE samples plus the
# gate booleans replayed arithmetically; the analytic anchors that make
# the kernel trustworthy (planted f0 recovered within lag quantization)
# live in tests/test_pitch.py.
PITCH_CLASS_MOD = 6
PITCH_CLS_SHORT = 4
PITCH_CLS_TORN = 5
PITCH_SR_HZ = 16000


def _voiced_signal(f0: float, n: int, seed: int, noise: int = 300) -> np.ndarray:
    """Harmonically rich periodic 'vowel': 8 harmonics with 1/h decay +
    deterministic hash noise — the pulse-train-like shape whose NACF
    resolves to the FUNDAMENTAL (first-arg max on ties)."""
    t = np.arange(n, dtype=np.float64) / PITCH_SR_HZ
    x = np.zeros(n)
    for h in range(1, 9):
        x += (6000.0 / h) * np.sin(2 * np.pi * f0 * h * t + 0.3 * h)
    rng = (np.arange(n, dtype=np.int64) * 2654435761 + seed) % (2 * noise)
    x += rng - noise
    return np.clip(np.floor(x + 0.5), -32768, 32767).astype(np.int64)


def _noise_signal(n: int, seed: int) -> np.ndarray:
    # splitmix64 avalanche per sample — a linear (Weyl) sequence mod m
    # is a periodic sawtooth that the NACF reads as VOICED; true noise
    # needs per-sample diffusion
    v = (np.arange(n, dtype=np.uint64) + np.uint64(seed)) * np.uint64(
        0x9E3779B97F4A7C15
    )
    v ^= v >> np.uint64(30)
    v *= np.uint64(0xBF58476D1CE4E5B9)
    v ^= v >> np.uint64(27)
    v *= np.uint64(0x94D049BB133111EB)
    v ^= v >> np.uint64(31)
    return (v % np.uint64(16000)).astype(np.int64) - 8000


def synth_pitch_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Pitch/voicing ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.pitch import (
        F0_HI_HZ,
        F0_LO_HZ,
        pitch_profile_batch,
    )

    sr = PITCH_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (400, 1200))
        cls = i % PITCH_CLASS_MOD
        if cls == PITCH_CLS_SHORT:
            dur = 30  # shorter than one 40 ms analysis window
        m = sr * dur // 1000
        f0 = 90.0 + ((h >> 8) % 161)  # 90..250 Hz
        if cls in (0, PITCH_CLS_TORN):
            pcm = _voiced_signal(f0, m, i)
        elif cls == 1:
            pcm = _noise_signal(m, i)
        elif cls == 2:
            half = m // 2
            pcm = np.concatenate(
                [_voiced_signal(f0, half, i), _noise_signal(m - half, i)]
            )
        elif cls == 3:
            pcm = _voiced_signal(70.0, m, i)
        else:  # short
            pcm = _voiced_signal(f0, m, i)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == PITCH_CLS_TORN:
            raw = raw[:25]
        led = pitch_profile_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        led_f0 = float(led["f0_median_hz"])
        led_vf = float(led["voiced_frac"])
        meas = led["n_frames"] > 0 and not np.isnan(led_vf)
        speech = bool(
            meas and led_vf >= 0.2 and not np.isnan(led_f0)
            and F0_LO_HZ <= led_f0 <= F0_HI_HZ
        )
        unvoiced = bool(meas and led_vf < 0.2)
        return (cid, bytearray(raw), sr, dur, "wav",
                transcript_for(cid), i, led_f0, led_vf,
                int(led["n_frames"]), int(led["n_samples"]),
                speech, unvoiced, bool(meas))

    schema = ledger_schema(
        T.StructField("_f0", T.DoubleType(), True),
        T.StructField("_vf", T.DoubleType(), True),
        T.StructField("_nfr", T.IntegerType(), False),
        T.StructField("_n", T.LongType(), False),
        T.StructField("_speech", T.BooleanType(), False),
        T.StructField("_unvoiced", T.BooleanType(), False),
        T.StructField("_meas", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- stereo-integrity ledger corpus (functions/stereo.py) ------------------
# Class roster (i % 8): every failure mode the screen gates, across the
# engine's stereo-capable REAL containers (WAV / AIFF / AU / FLAC):
#   0 true stereo, FLAC    independent L/R noise -> corr ~ 0, all gates clear
#   1 dual mono, AIFF      R == L -> side RMS 0, dual_mono
#   2 out of phase, WAV    R == -L -> corr -1, out_of_phase (mono downmix
#                          would CANCEL this clip)
#   3 dead channel, AU     R == 0 -> imbalanced (corr degenerate -> NaN)
#   4 imbalanced, WAV      quiet independent R (>>8 scale) -> imbalanced
#   5 mono, WAV            nothing to check -> stereo_ok
#   6 torn, WAV            truncated payload -> decode fails, not measurable
#   7 real stereo, WAV     R = L + small independent component: corr HIGH
#                          (~0.99) but side/mid well above the dual-mono
#                          floor -> must stay stereo_ok (floor-tightness
#                          anchor for the dual_mono gate)
# Ledger truth = the kernel replayed at synth time on the SOURCE payload
# (all four containers are lossless here) + gate arithmetic mirrored in
# Python (same IEEE ops, NaN -> NULL on both sides via Arrow).

STEREO_CLASS_MOD = 8
STEREO_CLS_TORN = 6


def synth_stereo_screen_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Stereo-integrity ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import (
        encode_aiff,
        encode_au,
        encode_wav_pcm,
        encode_wav_pcm16,
    )
    from jsonschema_spark.functions.flac import encode_flac
    from jsonschema_spark.functions.stereo import stereo_profile_batch

    sr = STEREO_SR_HZ

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (300, 900))
        cls = i % STEREO_CLASS_MOD
        m = sr * dur // 1000
        # disjoint splitmix64 seed windows (>= 2^31 apart, m << 2^31)
        left = _noise_signal(m, i * (1 << 32))
        alt = _noise_signal(m, i * (1 << 32) + (1 << 31))
        codec = "pcm_s16le"
        if cls == 0:
            st = np.stack([left, alt], axis=1)
            raw = encode_flac(st.astype(np.int64), sr)
            codec = "flac"
        elif cls == 1:
            st = np.stack([left, left], axis=1)
            raw = encode_aiff(st, sr, bits=16)
            codec = "aiff"
        elif cls == 2:
            raw = encode_wav_pcm(np.stack([left, -left], axis=1), sr)
        elif cls == 3:
            st = np.stack([left, np.zeros(m, dtype=np.int64)], axis=1)
            raw = encode_au(st, sr, encoding="pcm16")
            codec = "au"
        elif cls == 4:
            raw = encode_wav_pcm(np.stack([left, alt >> 8], axis=1), sr)
        elif cls in (5, STEREO_CLS_TORN):
            raw = encode_wav_pcm16(left, sr)
        else:  # 7: realistic correlated-but-true stereo
            raw = encode_wav_pcm(np.stack([left, left + (alt >> 3)], axis=1),
                                 sr)
        if cls == STEREO_CLS_TORN:
            raw = raw[:25]
        led = stereo_profile_batch(pd.Series([raw])).iloc[0]
        nch = int(led["n_channels"])
        corr = float(led["corr_lr"])
        rmsl, rmsr = float(led["rms_l"]), float(led["rms_r"])
        rmsm, rmss = float(led["rms_mid"]), float(led["rms_side"])
        n_samp = int(led["n_samples"])
        # gate arithmetic mirrored from functions/stereo.stereo_gates
        # (identical IEEE comparisons over identical kernel doubles)
        meas = n_samp > 0
        stereo = meas and nch >= 2
        dual = bool(
            stereo and not np.isnan(rmss)
            and rmss <= 1e-3 * max(rmsm, 1e-12)
        )
        phase = bool(stereo and not np.isnan(corr) and corr <= -0.9)
        imb = bool(
            stereo and not np.isnan(min(rmsl, rmsr))
            and min(rmsl, rmsr) <= 0.01 * max(rmsl, rmsr, 1e-12)
        )
        ok = bool(meas and (not stereo or (not dual and not phase
                                           and not imb)))
        return (cid, bytearray(raw), sr, dur, codec,
                transcript_for(cid), i, nch, corr, rmsl, rmsr, rmsm,
                rmss, n_samp, bool(stereo), dual, phase, imb, ok,
                bool(meas))

    schema = ledger_schema(
        T.StructField("_nch", T.IntegerType(), False),
        T.StructField("_corr", T.DoubleType(), True),
        T.StructField("_rmsl", T.DoubleType(), True),
        T.StructField("_rmsr", T.DoubleType(), True),
        T.StructField("_rmsm", T.DoubleType(), True),
        T.StructField("_rmss", T.DoubleType(), True),
        T.StructField("_n", T.LongType(), False),
        T.StructField("_stereo", T.BooleanType(), False),
        T.StructField("_dual", T.BooleanType(), False),
        T.StructField("_phase", T.BooleanType(), False),
        T.StructField("_imb", T.BooleanType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_meas", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- tonality / spectral-flatness ledger corpus (functions/tonality.py) -----
# Class roster (i % 8) — the synthetic-signal contamination classes a
# web speech corpus actually carries, plus the screen's blind-spot
# motivator (a pure tone INSIDE the pitch band reads "speechlike" to
# the pitch screen; only the spectrum tells it from voice):
#   0 speech proxy       formant-shaped harmonic stack (f0 90-250 Hz
#                        hash-drawn) + aspiration noise + 3.7 Hz
#                        syllabic AM -> spectral_ok
#   1 steady tone        hash-drawn 300-6000 Hz, 1% noise floor ->
#                        tonal + steady_tone
#   2 DTMF               real keypad pair (697-941 x 1209-1633 Hz) ->
#                        tonal + steady_tone
#   3 sine sweep         200-1000 -> 3000-7000 Hz linear chirp ->
#                        tonal, NOT steady
#   4 static             splitmix64 white noise -> noiselike
#   5 low-f0 speech      f0 70-90 Hz variant of class 0 -> spectral_ok
#   6 digital silence    zeros -> no energetic frame, not measurable
#   7 torn               truncated payload -> decode fails, not
#                        measurable
# Ledger truth = the kernel replayed at synth time on the lossless WAV
# payload + gate arithmetic mirrored in Python (identical IEEE
# comparisons; NaN -> NULL on both sides via Arrow).

TONALITY_SR_HZ = 16000
TONALITY_CLASS_MOD = 8
TONALITY_CLS_TORN = 7

_DTMF_ROWS = (697.0, 770.0, 852.0, 941.0)
_DTMF_COLS = (1209.0, 1336.0, 1477.0, 1633.0)


def _speech_proxy(f0: float, n: int, seed: int, noise: int) -> np.ndarray:
    """Formant-shaped voiced proxy: full harmonic stack to 7.6 kHz under
    three Gaussian formant bumps (500/1500/2500 Hz) with spectral
    rolloff, aspiration noise, and 3.7 Hz syllabic amplitude
    modulation — broadband enough that spectral flatness sits >=2x
    above the tonal gate (measured: worst 2.0e-3 vs tones 4.5e-5)."""
    t = np.arange(n, dtype=np.float64) / TONALITY_SR_HZ
    x = np.zeros(n)
    for h in range(1, int(7600.0 / f0) + 1):
        fh = f0 * h
        env = 0.02
        for fc, bw, a in ((500.0, 120.0, 1.0), (1500.0, 200.0, 0.5),
                          (2500.0, 300.0, 0.25)):
            env += a * np.exp(-0.5 * ((fh - fc) / bw) ** 2)
        env *= np.exp(-fh / 4000.0)
        x += 6000.0 * env * np.sin(2 * np.pi * fh * t + 0.3 * h)
    x += _noise_signal(n, seed) * (noise / 8000.0)
    x *= 0.55 + 0.45 * np.sin(2 * np.pi * 3.7 * t)
    return np.clip(np.round(x), -32768, 32767).astype(np.int64)


def synth_tonality_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Tonality ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.tonality import tonality_profile_batch

    sr = TONALITY_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (400, 1200))
        cls = i % TONALITY_CLASS_MOD
        m = sr * dur // 1000
        t = np.arange(m, dtype=np.float64) / sr
        noise_amp = 600 + ((h >> 8) % 601)  # 600..1200
        if cls in (0, 5):
            f0 = (70.0 + (h >> 8) % 21) if cls == 5 else (
                90.0 + (h >> 8) % 161
            )
            pcm = _speech_proxy(f0, m, i * (1 << 32), noise_amp)
        elif cls == 1:
            f = 300.0 + ((h >> 8) % 5701)  # 300..6000 Hz
            x = 7000.0 * np.sin(2 * np.pi * f * t)
            x += _noise_signal(m, i * (1 << 32)) * 0.01
            pcm = np.round(x).astype(np.int64)
        elif cls == 2:
            lo = _DTMF_ROWS[(h >> 8) % 4]
            hi = _DTMF_COLS[(h >> 12) % 4]
            x = 5000.0 * (np.sin(2 * np.pi * lo * t)
                          + np.sin(2 * np.pi * hi * t))
            pcm = np.round(x).astype(np.int64)
        elif cls == 3:
            f_a = 200.0 + ((h >> 8) % 801)
            f_b = 3000.0 + ((h >> 12) % 4001)
            rate = (f_b - f_a) / (2.0 * (m / sr))
            x = 7000.0 * np.sin(2 * np.pi * (f_a * t + rate * t * t))
            pcm = np.round(x).astype(np.int64)
        elif cls == 4:
            pcm = _noise_signal(m, i * (1 << 32))
        else:  # 6 silence, 7 torn (torn content irrelevant)
            pcm = np.zeros(m, dtype=np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == TONALITY_CLS_TORN:
            raw = raw[:25]
        led = tonality_profile_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        fl = float(led["flat_med"])
        ln = float(led["line_frac"])
        st = float(led["dom_stab"])
        ef = float(led["energ_frac"])
        nfr, nsp = int(led["n_frames"]), int(led["n_samples"])
        # gate arithmetic mirrored from functions/tonality.tonality_gates
        meas = (not np.isnan(fl)) and nfr > 0
        tonal = bool(meas and fl <= 1e-3)
        steady = bool(tonal and not np.isnan(st) and st >= 0.9)
        noiselike = bool(meas and fl >= 0.4)
        ok = bool(meas and not tonal and not noiselike)
        return (cid, bytearray(raw), sr, dur, "pcm_s16le",
                transcript_for(cid), i, fl, ln, st, ef, nfr, nsp,
                tonal, steady, noiselike, ok, bool(meas))

    schema = ledger_schema(
        T.StructField("_flat", T.DoubleType(), True),
        T.StructField("_line", T.DoubleType(), True),
        T.StructField("_stab", T.DoubleType(), True),
        T.StructField("_efrac", T.DoubleType(), True),
        T.StructField("_nfr", T.IntegerType(), False),
        T.StructField("_n", T.LongType(), False),
        T.StructField("_tonal", T.BooleanType(), False),
        T.StructField("_steady", T.BooleanType(), False),
        T.StructField("_noise", T.BooleanType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_meas", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- codec-label ledger corpus (containers.codec_match_gate) ----------------
# The mixed-container corpus with a deterministic lie plan over the
# codec COLUMN: _row_idx % 4 == 1 rows lie — % 8 == 1 claims a WRONG
# real family (wav<->flac, aiff->mp3, au->ogg, mp3->aiff,
# ogg->pcm_s16le), % 8 == 5 claims an UNKNOWN label ("amr", which the
# gate cannot certify). All other rows keep the truthful container
# name. Ledger truth = the lie plan + the shared CODEC_ACCEPT mapping
# applied in Python (codec_matches_container).

_CODEC_LIE = {
    "wav": "flac", "flac": "wav", "aiff": "mp3",
    "au": "ogg", "mp3": "aiff", "ogg": "pcm_s16le",
}


def synth_codec_clips(
    spark: SparkSession, n: int, partitions: Optional[int] = None
) -> DataFrame:
    """Codec-label ledger corpus (see the lie plan above)."""
    from jsonschema_spark.functions.containers import (
        codec_matches_container,
    )

    base = synth_mixed_clips(spark, n, partitions)
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("_codec_ok", T.BooleanType(), False)]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            codecs, oks = [], []
            for idx, cont, cod in zip(
                b["_row_idx"].tolist(), b["_container"].tolist(),
                b["codec"].tolist(),
            ):
                if idx % 8 == 5:
                    cod = "amr"
                elif idx % 4 == 1:
                    cod = _CODEC_LIE[cont]
                codecs.append(cod)
                oks.append(codec_matches_container(cod, cont))
            b = b.copy()
            b["codec"] = codecs
            b["_codec_ok"] = oks
            yield b

    return base.mapInPandas(gen, schema=schema)


# --- reference-free SNR ledger corpus (functions/snrest.py) -----------------
# Class roster (i % 7), all 16 kHz WAV PCM16. Speech classes are the
# formant-shaped proxy HARD-GATED 300 ms on / 200 ms off (the
# percentile method requires pauses; the pauses are where the noise
# floor shows), mixed with avalanche-hash noise scaled to a PLANTED
# SNR (alpha = sqrt(Ps/Pn/10^(snr/10)) from the measured powers):
#   0 near-clean   planted 35-45 dB -> snr_ok
#   1 acceptable   planted 22 dB    -> snr_ok   (est ~24-26, gate 15)
#   2 noisy        planted 7 dB     -> too_noisy (est ~10-12)
#   3 drowned      planted 0 dB     -> too_noisy
#   4 pure noise   stationary -> p90/p10 ~ 1 -> est ~0.5 dB, too_noisy
#                  (the correct verdict for static mislabeled speech)
#   5 silence      no certifiable level -> not measurable
#   6 torn         decode fails -> not measurable
# Ledger truth = the kernel replayed at synth time on the lossless WAV
# + gate arithmetic mirrored in Python.

SNR_SR_HZ = 16000
SNR_CLASS_MOD = 7
SNR_CLS_TORN = 6


def _gated_speech(f0: float, n: int, seed: int) -> np.ndarray:
    """Noise-free speech proxy with hard 300/200 ms on/off duty — the
    pause structure the percentile SNR method reads the floor from."""
    x = _speech_proxy(f0, n, seed, 0).astype(np.float64)
    t = np.arange(n)
    on = (t % (SNR_SR_HZ // 2)) < (3 * SNR_SR_HZ // 10)
    return x * on


def synth_snr_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Reference-free-SNR ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.snrest import snr_profile_batch

    sr = SNR_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (500, 1500))
        cls = i % SNR_CLASS_MOD
        m = sr * dur // 1000
        planted = None
        if cls == 0:
            planted = 35.0 + ((h >> 8) % 11)
        elif cls == 1:
            planted = 22.0
        elif cls == 2:
            planted = 7.0
        elif cls == 3:
            planted = 0.0
        if planted is not None:
            f0 = 100.0 + ((h >> 8) % 141)
            s = _gated_speech(f0, m, i * (1 << 32))
            nz = _noise_signal(m, i * (1 << 32) + (1 << 31)).astype(
                np.float64
            )
            p_s = float((s[s != 0.0] ** 2).mean())
            p_n = float((nz ** 2).mean())
            alpha = np.sqrt(p_s / p_n / 10.0 ** (planted / 10.0))
            pcm = np.clip(
                np.round(s + alpha * nz), -32768, 32767
            ).astype(np.int64)
        elif cls == 4:
            pcm = _noise_signal(m, i * (1 << 32))
        else:  # 5 silence, 6 torn
            pcm = np.zeros(m, dtype=np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == SNR_CLS_TORN:
            raw = raw[:25]
        led = snr_profile_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        est = float(led["snr_est_db"])
        p10, p90 = float(led["noise_ms_p10"]), float(led["speech_ms_p90"])
        act = float(led["activity_frac"])
        nfr, nsp = int(led["n_frames"]), int(led["n_samples"])
        # gate arithmetic mirrored from functions/snrest.snr_gates
        meas = not np.isnan(est)
        noisy = bool(meas and est < 15.0)
        ok = bool(meas and not noisy)
        return (cid, bytearray(raw), sr, dur, "pcm_s16le",
                transcript_for(cid), i, planted, est, p10, p90, act,
                nfr, nsp, noisy, ok, bool(meas))

    schema = ledger_schema(
        T.StructField("_planted_db", T.DoubleType(), True),
        T.StructField("_est", T.DoubleType(), True),
        T.StructField("_p10", T.DoubleType(), True),
        T.StructField("_p90", T.DoubleType(), True),
        T.StructField("_act", T.DoubleType(), True),
        T.StructField("_nfr", T.IntegerType(), False),
        T.StructField("_n", T.LongType(), False),
        T.StructField("_noisy", T.BooleanType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_meas", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- dropout / click ledger corpus (functions/dropouts.py) ------------------
# Class roster (i % 6), all 16 kHz WAV PCM16 over the formant-shaped
# speech proxy (never exact zero for long runs — its noise floor is the
# point):
#   0 clean            no artifacts -> artifact_ok
#   1 dropouts         2-4 planted exact-zero runs of 25-80 ms, spaced
#                      in slots, boundaries FORCED nonzero so measured
#                      run length == planted length exactly
#   2 clicks           3-6 single-sample +-28000 impulses planted at
#                      quiet neighborhoods (|x| < 2500 across q-1..q+1,
#                      >= 100 samples apart) -> detector score >= 25500
#                      vs threshold <= ~15000
#   3 both             dropouts + clicks
#   4 digital silence  no signal region -> not measurable
#   5 torn             decode fails -> not measurable
# Ledger truth for the counts/durations is GENERATOR ARITHMETIC (the
# plant plan), not kernel replay — and synth ASSERTS the detector
# recovers the plant exactly (a detector regression fails the synth
# loudly, not silently). click_thr is kernel replay (documented).

DROPOUT_SR_HZ = 16000
DROPOUT_CLASS_MOD = 6
DROPOUT_CLS_TORN = 5


def _plant_artifacts(
    x: np.ndarray, h: int, want_drops: bool, want_clicks: bool
) -> tuple[np.ndarray, int, int, int, int]:
    """Plant the artifact plan into a speech-proxy clip; returns
    (pcm, n_dropouts, dropout_ms_total, max_dropout_ms, n_clicks) with
    every quantity from generator arithmetic."""
    sr = DROPOUT_SR_HZ
    m = len(x)
    x = x.copy()
    lo, hi = m // 8, m - m // 8
    drop_spans: list[tuple[int, int]] = []
    if want_drops:
        k_d = 2 + h % 3
        slot = (hi - lo) // k_d
        for j in range(k_d):
            length = sr * (25 + ((h >> (4 * j)) % 56)) // 1000
            off = ((h >> (8 + 3 * j)) % max(1, slot - length - 4)) + 2
            s = lo + j * slot + off
            x[s: s + length] = 0
            # force the run boundaries nonzero: measured length == planted
            if x[s - 1] == 0:
                x[s - 1] = 137
            if x[s + length] == 0:
                x[s + length] = 137
            drop_spans.append((s, s + length))
        lens = [b - a for a, b in drop_spans]
        n_drop, drop_ms = k_d, int(sum(lens) * 1000 // sr)
        max_ms = int(max(lens) * 1000 // sr)
    else:
        n_drop = drop_ms = max_ms = 0
    n_click = 0
    if want_clicks:
        want = 3 + h % 4
        last_q = -(10 ** 9)
        q = lo
        while q < hi and n_click < want:
            near_drop = any(a - 4 <= q <= b + 4 for a, b in drop_spans)
            if (
                not near_drop
                and q - last_q >= 100
                and max(abs(x[q - 1]), abs(x[q]), abs(x[q + 1])) < 2500
            ):
                x[q] = 28000 if (q & 1) else -28000
                last_q = q
                n_click += 1
            q += 1
        if n_click != want:  # deterministic corpus: never under-plant
            raise RuntimeError(
                f"click plant underflow: {n_click}/{want}"
            )
    return x, n_drop, drop_ms, max_ms, n_click


def synth_dropout_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Dropout/click ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.dropouts import artifact_profile_batch

    sr = DROPOUT_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (600, 1400))
        cls = i % DROPOUT_CLASS_MOD
        m = sr * dur // 1000
        noise_amp = 600 + ((h >> 8) % 601)
        nd = dms = mdms = nc = 0
        if cls in (0, 1, 2, 3):
            f0 = 100.0 + ((h >> 8) % 141)
            base = _speech_proxy(f0, m, i * (1 << 32), noise_amp)
            pcm, nd, dms, mdms, nc = _plant_artifacts(
                base, h, want_drops=cls in (1, 3),
                want_clicks=cls in (2, 3),
            )
        else:  # 4 silence, 5 torn
            pcm = np.zeros(m, dtype=np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == DROPOUT_CLS_TORN:
            raw = raw[:25]
        led = artifact_profile_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        if cls in (0, 1, 2, 3):
            got = (int(led["n_dropouts"]), int(led["dropout_ms"]),
                   int(led["max_dropout_ms"]), int(led["n_clicks"]))
            if got != (nd, dms, mdms, nc):
                raise RuntimeError(
                    f"detector != plant on row {i}: {got} vs "
                    f"{(nd, dms, mdms, nc)}"
                )
        thr = float(led["click_thr"])
        itn, nsp = int(led["interior_n"]), int(led["n_samples"])
        # gate arithmetic mirrored from functions/dropouts.artifact_gates
        meas = nsp > 0 and itn > 0
        has_d = bool(meas and nd > 0)
        clk = bool(meas and nc > 0)
        ok = bool(meas and not has_d and not clk)
        return (cid, bytearray(raw), sr, dur, "pcm_s16le",
                transcript_for(cid), i, nd, dms, mdms, nc, thr, itn,
                nsp, has_d, clk, ok, bool(meas))

    schema = ledger_schema(
        T.StructField("_nd", T.IntegerType(), False),
        T.StructField("_dms", T.LongType(), False),
        T.StructField("_mdms", T.LongType(), False),
        T.StructField("_nc", T.IntegerType(), False),
        T.StructField("_thr", T.DoubleType(), True),
        T.StructField("_int", T.LongType(), False),
        T.StructField("_n", T.LongType(), False),
        T.StructField("_drop", T.BooleanType(), False),
        T.StructField("_click", T.BooleanType(), False),
        T.StructField("_ok", T.BooleanType(), False),
        T.StructField("_meas", T.BooleanType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- log-mel / CMVN ledger corpus (functions/fbank.py) ----------------------
# Class roster (i % 4): speech proxy / steady tone / static / torn —
# enough spectral diversity that per-bin CMVN means differ by orders
# of magnitude across bins. Ledger truth = the quantized kernel
# replayed at synth time (int64 fixed-point arrays make every
# downstream aggregate EXACT and order-independent on both engines).

FBANK_SR_HZ = 16000
FBANK_CLASS_MOD = 4
FBANK_CLS_TORN = 3


def synth_fbank_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Log-mel ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.fbank import fbank_stats_batch

    sr = FBANK_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (400, 1100))
        cls = i % FBANK_CLASS_MOD
        m = sr * dur // 1000
        if cls == 0:
            f0 = 100.0 + ((h >> 8) % 141)
            pcm = _speech_proxy(f0, m, i * (1 << 32),
                                600 + ((h >> 8) % 601))
        elif cls == 1:
            t = np.arange(m, dtype=np.float64) / sr
            f = 300.0 + ((h >> 8) % 5701)
            pcm = np.round(7000.0 * np.sin(2 * np.pi * f * t)).astype(
                np.int64
            )
        elif cls == 2:
            pcm = _noise_signal(m, i * (1 << 32))
        else:  # torn
            pcm = np.zeros(m, dtype=np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == FBANK_CLS_TORN:
            raw = raw[:25]
        led = fbank_stats_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        return (cid, bytearray(raw), sr, dur, "pcm_s16le",
                transcript_for(cid), i, list(led["sum_q"]),
                list(led["sumsq_q"]), int(led["n_frames"]),
                int(led["n_samples"]))

    schema = ledger_schema(
        T.StructField("_sumq", T.ArrayType(T.LongType()), False),
        T.StructField("_sumsqq", T.ArrayType(T.LongType()), False),
        T.StructField("_nfr", T.IntegerType(), False),
        T.StructField("_n", T.LongType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


# --- WebDataset tar-shard cache (sources/shards.py round-trip oracle) -------


def tar_shards(spark: SparkSession, n: int, flat: bool = False) -> str:
    """WebDataset tars packed once from the mixed-container corpus, sorted
    by clip_id so shard contents are deterministic; the round-trip oracle
    reads the SOURCE parquet. ``flat`` packs ONE tar (coalesce(1)): member
    order, sizes and therefore every USTAR offset become pure functions of
    the parquet rows, so the member-index oracle can rebuild the whole
    layout arithmetically (header 512 + data padded to 512 per member).
    The flat pack is the ORACLE corpus only — the operator itself is
    per-shard parallel."""
    from jsonschema_spark.sources.shards import write_tar_shards

    def write(tmp: str) -> None:
        clips, _ = corpus(spark, synth_mixed_clips, n)
        src = clips.drop(*[c for c in clips.columns if c.startswith("_")])
        src = src.coalesce(1) if flat else src.repartitionByRange(4, "clip_id")
        manifest = write_tar_shards(
            src.sortWithinPartitions("clip_id"), tmp,
            shard_bytes=1 << 30 if flat else 1 << 20,
        )
        total = manifest.agg(F.sum("n_samples")).collect()[0][0]
        if total != n:
            raise RuntimeError(f"tar pack lost rows: {total}/{n}")

    return publish(corpus_path(tar_shards, n, flat), write)


# --- per-frame feature-tensor ledger corpus (fbank matrix query) ------------


def synth_fbank_mat_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Same class roster as the fbank stats corpus, but the ledger
    stores the FULL flattened per-frame quantized matrix — the actual
    training tensor, pinned element-for-element."""
    from jsonschema_spark.functions.audio import encode_wav_pcm16
    from jsonschema_spark.functions.fbank import fbank_matrix_batch

    sr = FBANK_SR_HZ

    def _row(i: int) -> tuple:
        h, dur, cid = clip_base(i, (300, 700))
        cls = i % FBANK_CLASS_MOD
        m = sr * dur // 1000
        if cls == 0:
            f0 = 100.0 + ((h >> 8) % 141)
            pcm = _speech_proxy(f0, m, i * (1 << 32),
                                600 + ((h >> 8) % 601))
        elif cls == 1:
            t = np.arange(m, dtype=np.float64) / sr
            f = 300.0 + ((h >> 8) % 5701)
            pcm = np.round(7000.0 * np.sin(2 * np.pi * f * t)).astype(
                np.int64
            )
        elif cls == 2:
            pcm = _noise_signal(m, i * (1 << 32))
        else:
            pcm = np.zeros(m, dtype=np.int64)
        raw = encode_wav_pcm16(pcm, sr)
        if cls == FBANK_CLS_TORN:
            raw = raw[:25]
        led = fbank_matrix_batch(
            pd.Series([raw]), pd.Series([sr])
        ).iloc[0]
        return (cid, bytearray(raw), sr, dur, "pcm_s16le",
                transcript_for(cid), i, list(led["mat_q"]),
                int(led["n_frames"]), int(led["n_samples"]))

    schema = ledger_schema(
        T.StructField("_mat", T.ArrayType(T.LongType()), False),
        T.StructField("_nfr", T.IntegerType(), False),
        T.StructField("_n", T.LongType(), False),
    )
    return ledger_table(spark, n, schema, _row, partitions)


def tensor_shards(spark: SparkSession, n: int) -> str:
    """Training-tensor npy tars packed once: the fbank ledger corpus
    -> one-hop tensor kernel -> write_tensor_shards (mat int64 + x
    float64 members). The round-trip oracle recomputes both tensors
    from the `_mat` ledger, so pack -> unpack must be lossless for
    integers AND doubles."""
    from jsonschema_spark.functions.fbank import audio_train_tensors
    from jsonschema_spark.sources.shards import write_tensor_shards

    def write(tmp: str) -> None:
        clips, _ = corpus(spark, synth_fbank_mat_clips, n)
        src = (
            clips.select(
                "clip_id", "transcript",
                audio_train_tensors(
                    "clip_id", "bytes", "sr_hz", seed="ep0"
                ).alias("s"),
            )
            .select(
                "clip_id",
                F.col("s.mat_q").alias("mat_q"),
                F.col("s.x").alias("x"),
                F.col("s.n_frames").alias("n_frames"),
                "transcript",
            )
            .repartitionByRange(4, "clip_id")
            .sortWithinPartitions("clip_id")
        )
        manifest = write_tensor_shards(
            src, tmp,
            tensor_cols={"mat_q": "mat", "x": "x"},
            shard_bytes=1 << 20,
        )
        total = manifest.agg(F.sum("n_samples")).collect()[0][0]
        if not total or total <= 0:
            raise RuntimeError("tensor pack produced no samples")

    return publish(corpus_path(tensor_shards, n), write)


# --- Opus packet-framing ledger corpus ---------------------------------------
# VERDICT r2 item 4: extend the compressed-web-audio ladder one tier —
# packet-level RFC 6716 TOC/framing certification + RFC 7845 granule
# cross-check (functions/ogg.audio_opus_packet_profile). Four VALID
# classes exercise every frame-count code (0 single, 1 CBR pair, 2 VBR
# pair with the 2-byte length code, 3 arbitrary-count VBR + padding
# chain) and a nonzero end-trim; four planted-failure classes cover the
# framing error taxonomy. Ledger truth is generator arithmetic — the
# walker never runs at synth time.
OPUS_PKT_CLASS_MOD = 8

OPUS_PKT_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_audio", T.IntegerType(), True),
    T.StructField("_n_frames", T.IntegerType(), True),
    T.StructField("_sum_samples", T.LongType(), True),
    T.StructField("_end_trim", T.LongType(), True),
    T.StructField("_dur48", T.LongType(), True),
)


def synth_opus_packet_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Opus packet-framing ledger corpus (see the class roster above)."""
    from jsonschema_spark.functions.ogg import (
        build_opus_packet,
        encode_ogg_opus_framed,
    )

    pre = 312

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 900))
        cls = i % OPUS_PKT_CLASS_MOD
        if cls == 0:    # code 0, WB 20 ms, end-trim 120
            k = max(1, dur // 20)
            pk = [build_opus_packet(9, 0, [40 + (i + j) % 50], seed=i + j)
                  for j in range(k)]
            total, frames, trim = k * 960, k, 120
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[960] * k,
                final_granule=total - trim)
            led = (True, None, k, frames, total, trim,
                   (total - trim - pre) * 1000 // 48000)
        elif cls == 1:  # code 1 CBR pairs, CELT FB 10 ms
            k = max(1, dur // 20)
            pk = [build_opus_packet(30, 1, [33 + j % 7] * 2, seed=i + j)
                  for j in range(k)]
            total = k * 960
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[960] * k)
            led = (True, None, k, 2 * k, total, 0,
                   (total - pre) * 1000 // 48000)
        elif cls == 2:  # code 2 VBR pair, 2-byte length code exercised
            k = max(1, dur // 40)
            pk = [build_opus_packet(
                    9, 2, [260 + (i + j) % 30, 20 + j % 40], seed=i + j)
                  for j in range(k)]
            total = k * 1920
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[1920] * k,
                packets_per_page=2)
            led = (True, None, k, 2 * k, total, 0,
                   (total - pre) * 1000 // 48000)
        elif cls == 3:  # code 3 VBR x3 + padding chain, CELT NB 5 ms
            k = max(1, dur // 15)
            pk = [build_opus_packet(
                    17, 3, [25 + j % 20, 35, 45], seed=i + j, vbr=True,
                    pad_len=100 + (i + j) % 300)
                  for j in range(k)]
            total = k * 720
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[720] * k,
                packets_per_page=4)
            led = (True, None, k, 3 * k, total, 0,
                   (total - pre) * 1000 // 48000)
        elif cls == 4:  # CBR pair with an ODD split at packet 1
            good = build_opus_packet(9, 0, [40], seed=i)
            bad = bytes(((9 << 3) | 1,)) + b"\x01\x02\x03"
            pk = [good, bad, good]
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[960] * 3)
            led = (False, "bad_cbr_split@1", 3, None, None, None, None)
        elif cls == 5:  # code 3 with M*frame_dur over the 120 ms ceiling
            pk = [build_opus_packet(11, 3, [10, 10, 10], seed=i)]
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[8640])
            led = (False, "packet_too_long@0", 1, None, None, None, None)
        elif cls == 6:  # final granule overshoots every decodable sample
            pk = [build_opus_packet(9, 0, [44], seed=i + j)
                  for j in range(3)]
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[960] * 3,
                final_granule=3 * 960 + 500)
            led = (False, "granule_mismatch", 3, 3, 2880, -500, None)
        else:           # empty audio packet planted at index 2
            good = build_opus_packet(9, 0, [40], seed=i)
            pk = [good, good, b"", good]
            raw = encode_ogg_opus_framed(
                pk, pre_skip=pre, granule_samples=[960, 960, 0, 960])
            led = (False, "empty_packet@2", 4, None, None, None, None)
        return (cid, bytearray(raw), 48000, dur, "opus",
                transcript_for(cid), i) + led

    return ledger_table(spark, n, OPUS_PKT_CLIPS_SCHEMA, _row, partitions)


# --- Vorbis packet-discipline ledger corpus ----------------------------------
# Companion to the Opus packet corpus (VERDICT r2 item 4): header
# discipline (ident/comment/setup order + magic), ident blocksize and
# framing-bit validity, and the audio packet-type rule (type LSB
# clear). Two VALID classes + four planted header/type violations.
VORBIS_PKT_CLASS_MOD = 6

VORBIS_PKT_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_audio", T.IntegerType(), True),
    T.StructField("_bs0", T.IntegerType(), True),
    T.StructField("_bs1", T.IntegerType(), True),
)


def synth_vorbis_packet_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Vorbis packet-discipline ledger corpus (class roster above)."""
    from jsonschema_spark.functions.ogg import (
        encode_ogg_vorbis_framed,
        vorbis_audio_packet,
        vorbis_header_packets,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 900))
        cls = i % VORBIS_PKT_CLASS_MOD
        k = max(2, dur * 44100 // (1024 * 1000))
        pk = [vorbis_audio_packet(120 + (i + j) % 80, i + j)
              for j in range(k)]
        sr = 44100
        if cls == 0:    # valid stereo 44.1k (256/2048 blocks)
            raw = encode_ogg_vorbis_framed(pk)
            led = (True, None, k, 256, 2048)
        elif cls == 1:  # valid mono 8k, short blocks (64/256)
            raw = encode_ogg_vorbis_framed(
                pk, header_packets=vorbis_header_packets(
                    1, 8000, blocksize_byte=0x86, seed=i),
                packets_per_page=5, samples_per_packet=256)
            led = (True, None, k, 64, 256)
            sr = 8000
        elif cls == 2:  # audio packet with the type LSB SET at idx 1
            bad = list(pk)
            b = bytearray(bad[1])
            b[0] |= 1
            bad[1] = bytes(b)
            raw = encode_ogg_vorbis_framed(bad)
            led = (False, "bad_packet_type@1", None, None, None)
        elif cls == 3:  # setup header missing
            raw = encode_ogg_vorbis_framed(
                pk, header_packets=vorbis_header_packets(seed=i)[:2])
            led = (False, "missing_setup", None, None, None)
        elif cls == 4:  # blocksize nibbles out of range / inverted
            raw = encode_ogg_vorbis_framed(
                pk, header_packets=vorbis_header_packets(
                    blocksize_byte=0x4B, seed=i))
            led = (False, "bad_blocksizes", None, None, None)
        else:           # framing bit clear
            raw = encode_ogg_vorbis_framed(
                pk, header_packets=vorbis_header_packets(
                    framing=0, seed=i))
            led = (False, "bad_framing", None, None, None)
        return (cid, bytearray(raw), sr, dur, "vorbis",
                transcript_for(cid), i) + led

    return ledger_table(spark, n, VORBIS_PKT_CLIPS_SCHEMA, _row, partitions)


# --- REAL Vorbis decoded-PCM ledger corpus (VERDICT r3 item 5) ---------------
# The SNR invariant on a genuinely lossy web codec: payloads are real
# Ogg-Vorbis streams produced by functions/vorbis.encode_vorbis_clip
# (floor-1 + type-2 residue + IMDCT/window per the Vorbis I spec) around
# the engine's deterministic reference signal; the contract query
# re-decodes them sample-by-sample. Seven VALID classes (mono/stereo,
# equal blocksizes, 128/1024 window switching, 8-22.05 kHz, and
# square-polar COUPLED stereo — integer-lattice coupling on a shared
# 12-bit value book, with and without window switching) + three
# planted failures (torn tail, page-CRC bit flip, setup-header sync
# corruption). Ledger truth = the synth-time decode of the SAME payload
# (the ADPCM protocol: encode -> store -> distribute -> decode certified
# end-to-end); synth asserts every clean row clears the SNR gate with
# margin and every planted failure raises the EXACT ledger error.
VORBIS_DEC_CLASS_MOD = 10
VORBIS_DEC_SNR_GATE_DB = 30.0
_VORBIS_DEC_SYNTH_MARGIN_DB = 33.0  # synth-time floor for clean rows

VORBIS_DEC_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_samples", T.LongType(), True),
    T.StructField("_channels", T.IntegerType(), True),
    T.StructField("_dec_md5", T.StringType(), True),
    T.StructField("_snr_db", T.DoubleType(), True),
)


def synth_vorbis_decode_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Real-Vorbis ledger corpus (class roster above)."""
    from jsonschema_spark.functions.vorbis import (
        encode_vorbis_clip,
        encode_vorbis_packets,
        frame_vorbis_packets,
        vorbis_decode_profile_batch,
        vorbis_reference,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (250, 700))
        cls = i % VORBIS_DEC_CLASS_MOD
        base_cls = cls if cls < 7 else (cls - 7)  # failures reuse shapes
        sr, ch, kw = [
            (16000, 1, {}),
            (16000, 2, {}),
            (16000, 1, dict(bs0=128, bs1=1024, switching=True)),
            (22050, 2, dict(bs0=128, bs1=1024, switching=True)),
            (8000, 1, dict(bs0=512, bs1=512)),
            (16000, 2, dict(coupling=True)),  # square-polar coupled
            (16000, 2, dict(bs0=128, bs1=1024, switching=True,
                            coupling=True)),
        ][base_cls]
        n_src = sr * dur // 1000
        src = vorbis_reference(cid, n_src, ch)
        serial = 0x5600 + i % 251
        err = None
        if cls == 9:
            # setup-header codebook sync corrupted BEFORE framing, so
            # every page CRC stays valid and the CODEC layer must be
            # the one that rejects
            packets, centers = encode_vorbis_packets(src, sr, **kw)
            setup = bytearray(packets[2])
            setup[8] ^= 0xFF  # first codebook sync byte after \x05vorbis
            packets[2] = bytes(setup)
            raw = frame_vorbis_packets(packets, centers, serial)
            err = "bad_codebook_sync"
        else:
            raw, _dec_n = encode_vorbis_clip(src, sr, serial=serial, **kw)
        if cls == 7:      # torn tail: Ogg container walk must reject
            raw = raw[:-7]
            err = "truncated"
        elif cls == 8:    # body bit flip: page CRC must catch it
            b = bytearray(raw)
            b[-3] ^= 0x01
            raw = bytes(b)
            err = "crc_mismatch"
        # ledger = the synth-time decode of the exact stored payload
        prof = vorbis_decode_profile_batch(
            pd.Series([bytearray(raw)]), pd.Series([cid]),
            pd.Series([sr]), pd.Series([dur]),
        ).iloc[0]
        if err is None:
            if not bool(prof["ok"]):
                raise AssertionError(
                    f"clean vorbis row {i} failed decode: {prof['error']}"
                )
            if float(prof["snr_db"]) < _VORBIS_DEC_SYNTH_MARGIN_DB:
                raise AssertionError(
                    f"vorbis row {i} SNR {prof['snr_db']:.1f} below the "
                    f"synth margin {_VORBIS_DEC_SYNTH_MARGIN_DB}"
                )
            led = (True, None, int(prof["n_samples"]),
                   int(prof["channels"]), str(prof["dec_md5"]),
                   float(prof["snr_db"]))
        else:
            if bool(prof["ok"]) or str(prof["error"]) != err:
                raise AssertionError(
                    f"planted vorbis failure {i} decoded as "
                    f"{prof['ok']}/{prof['error']}, expected {err}"
                )
            led = (False, err, None, None, None, None)
        return (cid, bytearray(raw), sr, dur, "vorbis",
                transcript_for(cid), i) + led

    return ledger_table(spark, n, VORBIS_DEC_CLIPS_SCHEMA, _row, partitions)


# --- AAC ADTS ledger corpus (round 4) ----------------------------------------
# Frame-walk certification for the web's dominant lossy-audio bitstream
# after MP3: five VALID classes (profiles Main/LC/SSR/LTP, 8-48 kHz,
# mono/stereo, CRC-protected frames, multi-raw-block frames) + four
# planted-failure classes with exact error@index strings. Ledger truth
# is generator arithmetic.
ADTS_CLASS_MOD = 9

ADTS_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_frames", T.IntegerType(), True),
    T.StructField("_profile", T.StringType(), True),
    T.StructField("_sr", T.IntegerType(), True),
    T.StructField("_ch", T.IntegerType(), True),
    T.StructField("_crc_frames", T.IntegerType(), True),
    T.StructField("_blocks", T.IntegerType(), True),
    T.StructField("_dur", T.LongType(), True),
)


def synth_adts_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """ADTS ledger corpus (class roster above)."""
    from jsonschema_spark.functions.aac import (
        ADTS_PROFILES,
        ADTS_SR_TABLE,
        build_adts_frame,
        encode_adts_stream,
    )

    def _row(i: int) -> tuple:
        _, dur, cid = clip_base(i, (200, 900))
        cls = i % ADTS_CLASS_MOD
        k = max(3, dur // 30)
        base_cls = cls if cls < 5 else (cls - 5) % 5
        prof, sridx, ch, crc, blocks = [
            (1, 8, 1, False, 0),   # LC 16k mono
            (0, 4, 2, True, 0),    # Main 44.1k stereo + CRC
            (1, 11, 1, False, 2),  # LC 8k, 3 raw blocks per frame
            (3, 6, 2, False, 0),   # LTP 24k stereo
            (2, 3, 2, True, 0),    # SSR 48k stereo + CRC
        ][base_cls]
        raw = encode_adts_stream(k, sridx, prof, ch, crc, blocks, seed=i)
        sr = ADTS_SR_TABLE[sridx]
        tb = k * (blocks + 1)
        led = (k, ADTS_PROFILES[prof], sr, ch, k if crc else 0, tb,
               tb * 1024 * 1000 // sr)
        err = None
        if cls == 5:      # torn tail lands in the last frame
            raw = raw[:-5]
            err = f"truncated@{k - 1}"
        elif cls == 6:    # mid-stream parameter change
            j = max(1, k // 2)
            raw = (
                encode_adts_stream(j, sridx, prof, ch, crc, blocks, seed=i)
                + encode_adts_stream(k - j, 5, prof, ch, crc, blocks,
                                     seed=i)
            )
            err = f"param_change@{j}"
        elif cls == 7:    # layer bits set on a planted frame
            j = max(1, k // 3)
            good = encode_adts_stream(j, sridx, prof, ch, crc, blocks,
                                      seed=i)
            bad = build_adts_frame(b"\x10" * 40, sridx, prof, ch, crc,
                                   blocks, layer=3)
            raw = good + bad
            err = f"bad_layer@{j}"
        elif cls == 8:    # junk between frames: the next sync misses
            j = max(1, k // 2)
            good = encode_adts_stream(j + 1, sridx, prof, ch, crc,
                                      blocks, seed=i)
            tailf = encode_adts_stream(2, sridx, prof, ch, crc, blocks,
                                       seed=i + 1)
            raw = good + b"\x22\x22\x22\x22" + tailf
            err = f"bad_sync@{j + 1}"
        if err is not None:
            out = (False, err, None, None, None, None, None, None, None)
        else:
            out = (True, None) + led
        return (cid, bytearray(raw), sr, dur, "aac",
                transcript_for(cid), i) + out

    return ledger_table(spark, n, ADTS_CLIPS_SCHEMA, _row, partitions)


# --- tagged-metadata ledger corpus (round 4; widened round 5) ----------------
# ID3v2.3/2.4 text frames (latin-1/UTF-16/UTF-16BE/UTF-8 encodings),
# Vorbis comments, OpusTags — the provenance metadata a pipeline joins
# against its manifest. Round 5 adds the real-world layouts the r4
# judge showed the parser mishandled: NUL-TERMINATED UTF-16 frames
# (the iTunes/mutagen layout — terminator at an even code-unit
# offset), extended headers (v2.3 size-excluded / v2.4 size-included),
# UTF-16BE encoding byte 2, and an unsynchronised tag that must be
# REJECTED loudly ("unsync_unsupported"), not misparsed. Class 13
# carries per-frame format data the parser must skip: the grouping byte
# (v2.3), or the grouping byte plus the data-length indicator (v2.4).
# Ledger truth is generator strings.
TAGS_CLASS_MOD = 14

TAGS_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_fmt", T.StringType(), True),
    T.StructField("_n_tags", T.IntegerType(), True),
    T.StructField("_title", T.StringType(), True),
    T.StructField("_artist", T.StringType(), True),
    T.StructField("_album", T.StringType(), True),
    T.StructField("_vendor", T.StringType(), True),
)


def synth_tagged_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Tagged-metadata ledger corpus (class roster above)."""
    from jsonschema_spark.functions.mp3 import encode_mp3_stream
    from jsonschema_spark.functions.ogg import (
        build_opus_packet,
        build_page,
        encode_ogg_vorbis_framed,
        opus_head_packet,
        vorbis_header_packets,
    )
    from jsonschema_spark.functions.tags import (
        build_comment_fields,
        build_id3v2,
    )

    def _row(i: int) -> tuple:
        cid = f"clip-{i:012d}"
        cls = i % TAGS_CLASS_MOD
        title = f"Take {i} ♪"
        artist = f"Ensemble {i % 97}"
        album = f"Sessions vol. {i % 13}"
        mp3 = encode_mp3_stream(4 + i % 5, 2, 3, 16000, "mono", (64,),
                                seed=i)
        err = None
        led = None
        codec = "mp3"
        if cls == 0:    # ID3v2.3 UTF-8, three frames
            raw = build_id3v2(title, artist, album, 3, 3) + mp3
            led = ("id3v2.3", 3, title, artist, album, None)
        elif cls == 1:  # ID3v2.4 UTF-16, syncsafe frame sizes
            raw = build_id3v2(title, artist, None, 4, 1) + mp3
            led = ("id3v2.4", 2, title, artist, None, None)
        elif cls == 2:  # ID3v2.3 latin-1 (ASCII-safe strings)
            t2 = f"Take {i}"
            raw = build_id3v2(t2, artist, None, 3, 0) + mp3
            led = ("id3v2.3", 2, t2, artist, None, None)
        elif cls == 3:  # Vorbis comments
            hdrs = list(vorbis_header_packets())
            hdrs[1] = (
                b"\x03vorbis"
                + build_comment_fields(
                    "jss-enc", [f"TITLE={title}", f"ARTIST={artist}",
                                "ENCODER=jss"]
                )
                + b"\x01"
            )
            raw = encode_ogg_vorbis_framed(
                [b"\x00" + bytes(30 + i % 20)] * 4, header_packets=hdrs
            )
            led = ("vorbis_comment", 3, title, artist, None, "jss-enc")
            codec = "vorbis"
        elif cls == 4:  # OpusTags
            tags_pkt = b"OpusTags" + build_comment_fields(
                "libjss", [f"TITLE={title}", f"ARTIST={artist}",
                           f"ALBUM={album}"]
            )
            pk = [build_opus_packet(9, 0, [40], seed=i + j)
                  for j in range(3)]
            pages = [
                build_page(0x70 + i % 11, 0, 0,
                           [opus_head_packet(1, 312, 16000)], bos=True),
                build_page(0x70 + i % 11, 1, 0, [tags_pkt]),
                build_page(0x70 + i % 11, 2, 3 * 960, pk, eos=True),
            ]
            raw = b"".join(pages)
            led = ("opus_tags", 3, title, artist, album, "libjss")
            codec = "opus"
        elif cls == 5:  # untagged mp3: loud no_tags, not a silent None
            raw = mp3
            err = "no_tags"
        elif cls == 6:  # tag size overruns the payload
            tag = build_id3v2(title, artist, None, 3, 3)
            raw = tag[: len(tag) // 2]
            err = "truncated_tag"
        elif cls == 7:  # frame size overruns the tag
            tag = bytearray(build_id3v2(title, artist, None, 3, 3))
            tag[14:18] = (1 << 20).to_bytes(4, "big")  # TIT2 size lie
            raw = bytes(tag) + mp3
            err = "frame_overrun"
        elif cls == 8:  # v2.3 TERMINATED UTF-16+BOM — the iTunes layout
            raw = build_id3v2(title, artist, album, 3, 1,
                              terminated=True) + mp3
            led = ("id3v2.3", 3, title, artist, album, None)
        elif cls == 9:  # v2.4 UTF-16BE (encoding byte 2), terminated
            raw = build_id3v2(title, artist, None, 4, 2,
                              terminated=True) + mp3
            led = ("id3v2.4", 2, title, artist, None, None)
        elif cls == 10:  # extended header precedes the frames
            ver = 3 if i % 2 else 4
            raw = build_id3v2(title, artist, None, ver, 3,
                              ext_header=True) + mp3
            led = (f"id3v2.{ver}", 2, title, artist, None, None)
        elif cls == 11:  # unsynchronised tag: rejected loudly
            raw = build_id3v2(title, artist, None, 3, 3,
                              unsync_flag=True) + mp3
            err = "unsync_unsupported"
        elif cls == 12:  # ID3v2.2 — 3-char IDs, 3-byte sizes (the
                         # layout old iTunes wrote); UCS-2 terminated on
                         # odd rows, latin-1 (ASCII-safe) on even
            from jsonschema_spark.functions.tags import build_id3v22

            if i % 2:
                raw = build_id3v22(title, artist, album, 1,
                                   terminated=True) + mp3
                led = ("id3v2.2", 3, title, artist, album, None)
            else:
                t2 = f"Take {i}"
                raw = build_id3v22(t2, artist, album, 0) + mp3
                led = ("id3v2.2", 3, t2, artist, album, None)
        else:           # 13: per-frame grouping byte (+ v2.4 DLI)
            if i % 2:
                # flags 0x41: grouping identity, then the syncsafe
                # data-length indicator (a nominal value: unread)
                raw = build_id3v2(title, artist, album, 4, 3,
                                  frame_flags=0x41,
                                  frame_prefix=b"\x07\x00\x00\x00\x10")
                led = ("id3v2.4", 3, title, artist, album, None)
            else:
                raw = build_id3v2(title, artist, album, 3, 3,
                                  frame_flags=0x20, frame_prefix=b"\x07")
                led = ("id3v2.3", 3, title, artist, album, None)
        if led is None:
            out = (False, err, None, None, None, None, None, None)
        else:
            out = (True, None) + led
        return (cid, bytearray(raw), 16000, 200 + i % 400, codec,
                transcript_for(cid), i) + out

    return ledger_table(spark, n, TAGS_CLIPS_SCHEMA, _row, partitions)


# --- MP3 Layer III side-info ledger corpus (round 5) -------------------------
# The intermediate tier toward full Layer III decode (VERDICT r4 item
# 4): per-granule side-information + BIT-RESERVOIR discipline
# (main_data_begin back-pointer validation). Six VALID classes (CBR/
# VBR, MPEG-1/LSF, mono/stereo, short-block mix, reservoir-heavy) +
# five planted-failure classes with exact error@index strings. Ledger
# truth is generator arithmetic (the writer's own reservoir schedule).
MP3SI_CLASS_MOD = 13

MP3SI_CLIPS_SCHEMA = ledger_schema(
    T.StructField("_ok", T.BooleanType(), False),
    T.StructField("_err", T.StringType(), True),
    T.StructField("_n_frames", T.IntegerType(), True),
    T.StructField("_n_granules", T.IntegerType(), True),
    T.StructField("_part23_bits", T.LongType(), True),
    T.StructField("_max_mdb", T.IntegerType(), True),
    T.StructField("_short_blocks", T.IntegerType(), True),
    T.StructField("_reservoir_frames", T.IntegerType(), True),
)


def synth_mp3si_clips(
    spark: SparkSession,
    n: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """MP3 side-info ledger corpus (class roster above)."""
    from jsonschema_spark.functions.mp3 import samples_per_frame
    from jsonschema_spark.functions.mp3_sideinfo import (
        encode_sideinfo_stream,
    )

    def _row(i: int) -> tuple:
        h = _hash(i)
        cid = f"clip-{i:012d}"
        cls = i % MP3SI_CLASS_MOD
        k = 6 + (h >> 12) % 18
        cfg = dict(n_frames=k, seed=i)
        plant = None
        if cls == 0:    # MPEG-1 44.1k stereo 128 CBR
            cfg.update(version_id=3, sr_hz=44100, mode="stereo",
                       bitrates_kbps=(128,))
        elif cls == 1:  # MPEG-1 32k mono, reservoir-heavy
            cfg.update(version_id=3, sr_hz=32000, mode="mono",
                       bitrates_kbps=(64,))
        elif cls == 2:  # MPEG-2 LSF 16k mono
            cfg.update(version_id=2, sr_hz=16000, mode="mono",
                       bitrates_kbps=(48,))
        elif cls == 3:  # short blocks every 3rd frame
            cfg.update(version_id=3, sr_hz=48000, mode="stereo",
                       bitrates_kbps=(96,), short_every=3)
        elif cls == 4:  # VBR cycling
            cfg.update(version_id=3, sr_hz=44100, mode="stereo",
                       bitrates_kbps=(64, 96, 128))
        elif cls == 5:  # MPEG-2.5 11k stereo
            cfg.update(version_id=0, sr_hz=11025, mode="stereo",
                       bitrates_kbps=(32,))
        elif cls == 6:  # cut mid-reservoir (unflushed byte-slice)
            cfg.update(version_id=3, sr_hz=32000, mode="mono",
                       bitrates_kbps=(64,))
            plant = ("mid_reservoir", 0)
        elif cls == 7:  # declared main data runs past the frame end
            cfg.update(version_id=3, sr_hz=44100, mode="mono",
                       bitrates_kbps=(32,))
            plant = ("part23_overflow", max(1, k // 2))
        elif cls == 8:  # window switching with reserved block_type 0
            cfg.update(version_id=3, sr_hz=44100, mode="stereo",
                       bitrates_kbps=(128,))
            plant = ("bad_block_type", max(1, k // 3))
        elif cls == 9:  # Huffman table 4 (undefined) selected
            cfg.update(version_id=3, sr_hz=48000, mode="stereo",
                       bitrates_kbps=(112,))
            plant = ("bad_table_select", max(1, k // 2))
        elif cls == 10:  # big_values beyond the 576-line granule
            cfg.update(version_id=3, sr_hz=32000, mode="mono",
                       bitrates_kbps=(80,))
            plant = ("big_values", max(1, 2 * k // 3))
        elif cls == 11:  # scalefactor bits overflow part2_3_length
            cfg.update(version_id=3, sr_hz=44100, mode="stereo",
                       bitrates_kbps=(96,))
            plant = ("part2_overflow", max(1, k // 4))
        else:           # 12: scfsi-active (granule-1 shares groups 0+2)
            cfg.update(version_id=3, sr_hz=44100, mode="stereo",
                       bitrates_kbps=(128,), scfsi_groups=0b1010)
        raw, led = encode_sideinfo_stream(plant=plant, **cfg)
        sr = cfg["sr_hz"]
        spf = samples_per_frame(cfg["version_id"], 3)
        dur = k * spf * 1000 // sr
        out = (
            led["ok"], led["error"], led["n_frames"], led["n_granules"],
            led["part23_bits"], led["max_mdb"], led["short_blocks"],
            led["reservoir_frames"],
        )
        return (cid, bytearray(raw), sr, dur, "mp3",
                transcript_for(cid), i) + out

    return ledger_table(spark, n, MP3SI_CLIPS_SCHEMA, _row, partitions)
