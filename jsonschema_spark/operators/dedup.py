"""Deduplication operators for web-scale corpora.

Four tiers, cheapest first — the standard training-data pipeline ladder:

1. ``exact_duplicates``      — hash-groupBy on the normalized-text md5.
   One shuffle on a 128-bit key; skew-free by construction.
2. ``jaccard_pairs``         — EXACT n-gram Jaccard via a shingle
   inverted index: explode shingles, self-join on shingle, count common
   shingles per pair, |A∪B| = |A|+|B|-common. This is the scalable exact
   algorithm (no O(n^2) cross join): the shuffle carries (shingle, doc)
   pairs and hot shingles can be frequency-capped.
3. ``minhash_lsh_pairs``     — MinHash signatures (k hash slots via
   xxhash64(seed||shingle)) banded into LSH buckets; candidate pairs from
   bucket joins, verified with exact Jaccard. Sub-quadratic scale path.
4. ``simhash``               — 64-bit SimHash over token hashes, pure
   Column expressions; near-dups = signatures within small Hamming radius
   (bucketed by 16-bit bands).

All of it is DataFrame expressions — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from jsonschema_spark.functions.grid import grid_round

from jsonschema_spark.operators.text import fingerprint, tokens


def token_hash(col: Column, hash_family: str = "xxhash64") -> Column:
    """64-bit-class token hash, selectable per use:

    - ``xxhash64`` — JVM-native, fastest; the production default.
    - ``md5_60``   — top 60 bits of md5 as a BIGINT. ~3x slower but
      bit-reproducible in any engine with md5 + hex casts (DuckDB:
      ``('0x' || substr(md5(x), 1, 15))::BIGINT``), which is what lets the
      driver's oracle replicate the ENTIRE minhash/simhash pipeline in SQL
      instead of settling for rows-only checks.
    """
    if hash_family == "xxhash64":
        return F.xxhash64(col)
    if hash_family == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def _parallelize(df: DataFrame, key: str) -> DataFrame:
    """Raise partition count for CPU-dense expression work when the scan
    yielded fewer partitions than cores (small files => 1 split). At real
    scale the input already has >= cores partitions and this is a no-op —
    the guard keeps us from *reducing* parallelism or adding a shuffle to
    an already-wide plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


# ---------------------------------------------------------------------------
# 1. exact
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, dup_count, keep_id): duplicate groups by content hash;
    keep_id is the smallest id (the canonical survivor)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def distinct_by_content(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivor set: one row per distinct normalized text (min-id wins).
    Implemented as an aggregate (no window over the full table)."""
    keep = (
        df.select(F.col(id_col).alias("_id"), fingerprint(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("_id").alias("_keep"))
    )
    return df.join(
        keep, (fingerprint(F.col(text_col)) == keep["_fp"]) & (df[id_col] == keep["_keep"])
    ).drop("_fp", "_keep")


# ---------------------------------------------------------------------------
# 2. exact n-gram Jaccard via shingle inverted index
# ---------------------------------------------------------------------------


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an (ideally materialized-attribute) token
    array column. Documents shorter than ``n`` tokens yield an empty
    shingle set (guarded: ``sequence(1, 0)`` would descend and feed
    ``slice`` an invalid start). Interpreted HOF evaluation re-evaluates
    the slice lambda's array input per element, so tokenizing inline costs
    O(tokens^2) per document (measured 4x on decontaminate): project the
    token array as its own column first."""
    k = F.size(toks) - (n - 1)
    grams = F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return F.array_distinct(grams)


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for all pairs with n-gram Jaccard >= threshold.

    Exact, index-based: pairs sharing zero shingles never meet. id_a < id_b.

    ``max_shingle_freq`` is the web-scale safety valve: a shingle appearing
    in k documents contributes k^2 candidate pairs to the self-join, so one
    boilerplate phrase shared by 10^6 docs explodes the shuffle. Capping
    drops shingles with document frequency above the cap from the index —
    ``common`` then undercounts for pairs relying on hot shingles, making
    reported jaccard a LOWER BOUND (recall loss only on boilerplate-joined
    pairs, the ones near-dup pipelines deliberately ignore). Unset = exact.
    """
    # persist: the inverted index consumes the shingle arrays on BOTH sides
    # of the self-join; a barrier stops the O(tokens^2) shingle build from
    # being re-expanded into each side
    sh = (
        _parallelize(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")), "_id"
        )
        .select("_id", tokens(F.col("_text")).alias("_t"))
        .select("_id", word_shingles_from_tokens(F.col("_t"), n).alias("_sh"))
        .withColumn("_size", F.size("_sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv = sh.select("_id", "_size", F.explode("_sh").alias("_g"))
    if max_shingle_freq is not None:
        keep = (
            inv.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("_g")
        )
        inv = inv.join(keep, "_g", "left_semi")
    left = inv.select(F.col("_id").alias("id_a"), F.col("_size").alias("sa"), "_g")
    right = inv.select(F.col("_id").alias("id_b"), F.col("_size").alias("sb"), "_g")
    common = (
        left.join(right, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = common.withColumn(
        "jaccard",
        grid_round(F.col("common") / (F.col("sa") + F.col("sb") - F.col("common")), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature_from(
    sh: Column, num_hashes: int = 32, hash_family: str = "xxhash64"
) -> Column:
    """array<bigint> MinHash signature over a *materialized* shingle-array
    column: slot i = min over shingles of hash(i || shingle). Keeping the
    shingle array in its own column (behind a shuffle/exchange boundary)
    matters: inlined into every slot lambda, Catalyst's project-collapsing
    would rebuild the O(tokens^2) shingle array ``num_hashes`` times per row.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    sh,
                    lambda g: token_hash(
                        F.concat(i.cast("string"), F.lit("|"), g), hash_family
                    ),
                )
            ),
            F.lit(2**63 - 1),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard.

    bands=8 x rows=4 over 32 hashes targets ~0.5 similarity. The bucket
    join shuffles (band, band-hash) keys — sub-quadratic, skew capped by
    band width.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    # PERSIST the signatures: banding references _sig once per band and the
    # bucket join consumes banded twice — without a materialization barrier,
    # Catalyst's project-collapsing would re-expand the full shingle+minhash
    # tree at every reference (measured ~50x the work). Materializing the
    # signature table once is also the standard production shape: at real
    # scale this intermediate is written to a table between the two phases.
    sig = (
        _parallelize(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")), "_id"
        )
        .select("_id", tokens(F.col("_text")).alias("_t"))
        .select("_id", word_shingles_from_tokens(F.col("_t"), n).alias("_sh"))
        .select(
            "_id",
            "_sh",
            minhash_signature_from(F.col("_sh"), num_hashes, hash_family).alias("_sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("_b"),
    ).select("_id", "_b.band", "_b.bucket")

    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )

    # verify candidates with exact Jaccard, reusing the materialized shingle
    # arrays from the signature stage (no shingle recompute per candidate)
    sh = sig.select(F.col("_id").alias("_vid"), F.col("_sh").alias("_vsh"))
    verified = (
        cand.join(sh.withColumnRenamed("_vid", "id_a").withColumnRenamed("_vsh", "_sha"), "id_a")
        .join(sh.withColumnRenamed("_vid", "id_b").withColumnRenamed("_vsh", "_shb"), "id_b")
        .withColumn(
            "jaccard",
            grid_round(
                F.size(F.array_intersect("_sha", "_shb"))
                / F.size(F.array_union("_sha", "_shb")).cast("double"),
                6,
            ),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def embedding_pairs_bruteforce(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) for all pairs with cosine >= threshold — exact
    O(n^2) self-join; the correctness baseline / oracle target. Use only on
    samples or blocked subsets at scale."""
    from jsonschema_spark.operators.similarity import cosine

    left = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    right = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", grid_round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos")
    )
    return scored.filter(F.col("cos") >= threshold)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: random-hyperplane LSH
    bucketing generates candidates (collision probability per table is
    (1 - theta/pi)^n_planes — high for near-identical vectors), exact
    cosine verifies. Sub-quadratic: the shuffle carries (table, bucket)
    keys, never the n^2 pair space."""
    from jsonschema_spark.operators.similarity import _hyperplane_sign, cosine

    base = _parallelize(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), "_id"
    )
    out = base
    for t in range(n_tables):
        sig = F.lit(t)
        for p in range(n_planes):
            sig = sig * 2 + _hyperplane_sign(F.col("_v"), t * n_planes + p, dim)
        out = out.withColumn(f"_b{t}", sig)
    banded = out.select(
        "_id", "_v", F.explode(F.array(*[F.col(f"_b{t}") for t in range(n_tables)])).alias("bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    cand = (
        banded.alias("l")
        .join(banded.alias("r"), "bucket")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._v").alias("_va"),
            F.col("r._v").alias("_vb"),
        )
        .distinct()
    )
    scored = cand.select(
        "id_a", "id_b", grid_round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos")
    )
    return scored.filter(F.col("cos") >= threshold)


def simhash_bits(hash_family: str) -> int:
    """Signature width: 64 with xxhash64; 60 with md5_60 (the oracle-
    replicable hash yields 60 usable bits — banding becomes 4 x 15)."""
    return 64 if hash_family == "xxhash64" else 60


def simhash(col: Column, hash_family: str = "xxhash64") -> Column:
    """SimHash of the token multiset, as bigint — pure expressions.

    bit b of the signature = sign of sum over tokens of (bit b of
    hash(token) ? +1 : -1).
    """
    bits = simhash_bits(hash_family)
    hashes = F.transform(tokens(col), lambda t: token_hash(t, hash_family))
    # One pass over the token hashes accumulating all bit-counters.
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.when(F.getbit(h, b) == 1, F.lit(1)).otherwise(F.lit(-1)),
            ),
            lambda x, y: x + y,
        ),
    )
    powers = F.array(
        *[F.lit((1 << b) if b < 63 else -(2**63)).cast("long") for b in range(bits)]
    )
    return F.aggregate(
        F.zip_with(bit_sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Banding: 4 equal bands (16 bits with xxhash64, 15 with md5_60) — any
    pair within Hamming 3 shares at least one exact band (pigeonhole), so
    the join on (band, value) finds all of them without a cross join.
    """
    band_bits = simhash_bits(hash_family) // 4
    band_mask = (1 << band_bits) - 1
    # persist: the 4 band projections + both sides of the bucket self-join
    # would otherwise each re-expand the full simhash expression tree
    sig = (
        _parallelize(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")), "_id"
        )
        .select("_id", simhash(F.col("_text"), hash_family).alias("_sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sig"), b * band_bits)
                .bitwiseAND(F.lit(band_mask))
                .alias("bval"),
            )
            for b in range(4)
        ]
    )
    banded = sig.select("_id", "_sig", F.explode(bands).alias("_b")).select(
        "_id", "_sig", "_b.band", "_b.bval"
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bval"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sig").alias("sig_a"),
            F.col("r._sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
    return ham.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def image_near_dup_pairs(
    images: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    payload_col: str = "bytes",
) -> DataFrame:
    """Image near-duplicate pairs by perceptual dHash Hamming distance —
    the image analogue of :func:`simhash_pairs` (re-encoded / re-crawled
    copies of the same picture under different ids).

    Pipeline: decode + dHash in ONE Arrow hop
    (functions/multimodal.image_dhash) -> persist barrier (the 4 band
    projections and both sides of the bucket self-join would each re-run
    the decode UDF otherwise — the Catalyst re-expansion gotcha) ->
    4x16-bit band self-join (pigeonhole-complete for Hamming <= 3) ->
    exact Hamming via codegen'd xor + bit_count. Undecodable payloads
    drop out ABOVE the persist barrier (filtering below it would
    duplicate the UDF — see audio_near_dup_pairs).

    Scale: banded join only, never all-pairs; parallelism = bucket count;
    an exact-duplicate storm concentrates in one bucket — run
    :func:`distinct_by_content` first if exact dups dominate."""
    from jsonschema_spark.functions.multimodal import image_dhash

    sig = image_dhash(
        _parallelize(images, id_col), id_col=id_col, bytes_col=payload_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ok = sig.filter(F.col("decode_ok")).select(
        F.col("image_id").alias("_id"), F.col("dhash").alias("_sig")
    )
    band_mask = (1 << 16) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sig"), b * 16)
                .bitwiseAND(F.lit(band_mask))
                .alias("bval"),
            )
            for b in range(4)
        ]
    )
    banded = ok.select("_id", "_sig", F.explode(bands).alias("_b")).select(
        "_id", "_sig", "_b.band", "_b.bval"
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bval"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sig").alias("sig_a"),
            F.col("r._sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = cand.withColumn(
        "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    )
    return ham.filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def audio_near_dup_pairs(
    clips: DataFrame,
    threshold: float = 0.97,
    method: str = "lsh",
    n_fft: int = 4096,
    n_bands: int = 128,
    n_planes: int = 16,
    n_tables: int = 4,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
) -> DataFrame:
    """Audio near-duplicate pairs: re-encodes / gain-adjusted copies of the
    same recording under different clip_ids — the audio analogue of text
    MinHash dedup (real pipelines dedup re-crawled re-encoded media).

    Pipeline: decode payload -> spectral fingerprint + hyperplane-LSH
    bucket ids in ONE Arrow hop (functions/audio.audio_fingerprint_buckets
    — the sign bits are a vectorized numpy matmul; JVM-side plane
    expressions would cost 64 interpreted HOF dot products per row,
    measured ~10 s / 2 000 rows) -> bucket self-join for candidates ->
    exact cosine verify. ``method="brute"`` is the exact O(n^2) audit
    path. Fingerprints are L2-normalized magnitude spectra, so gain
    changes and lossy quantization leave cosine ~1e-7 from 1.0 while
    distinct recordings stay far below any sane threshold.

    Scale shape: one scan + one Arrow hop produce a (id, 128-float,
    4-bucket) frame — ~600 bytes/row regardless of payload size; the
    16-bit-per-table bucket join keeps random collisions ~n^2/65536 per
    table and never materializes the pair space. The frame is persisted
    as a Catalyst barrier (UDF column referenced downstream by both join
    sides — the measured-27x minhash lesson, CLAUDE.md).

    Returns (id_a, id_b, cos). Undecodable payloads are excluded here and
    surfaced by the decode/SNR validation checks instead.
    """
    from jsonschema_spark.functions.audio import (
        audio_fingerprint,
        audio_fingerprint_buckets,
    )
    from jsonschema_spark.operators.similarity import cosine

    if method == "brute":
        fp = clips.select(
            F.col(id_col).alias("vec_id"),
            audio_fingerprint(payload_col, n_fft=n_fft, n_bands=n_bands).alias(
                "embedding"
            ),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # Filter ABOVE the persist barrier: a filter on the UDF column
        # below it is pushed under the project and DUPLICATES the Arrow
        # eval (decode+FFT twice per row — observed as stacked
        # ArrowEvalPython).
        return embedding_pairs_bruteforce(
            fp.filter(F.col("embedding").isNotNull()), threshold
        )

    fp = clips.select(
        F.col(id_col).alias("_id"),
        audio_fingerprint_buckets(
            payload_col, n_fft=n_fft, n_bands=n_bands,
            n_planes=n_planes, n_tables=n_tables,
        ).alias("_s"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # candidate pairs carry IDS ONLY through the bucket join + distinct —
    # shuffling and hashing the 128-float embeddings just to dedup
    # multi-table collisions would ship ~1KB/row for nothing; vectors are
    # re-attached afterwards from the cached fp frame (the small pair set
    # broadcasts, the vectors never reshuffle)
    banded = (
        fp.filter(F.col("_s.embedding").isNotNull())
        .select("_id", F.explode("_s.buckets").alias("bucket"))
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), "bucket")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    vecs = fp.select("_id", F.col("_s.embedding").alias("_v"))
    scored = (
        cand.join(vecs.withColumnRenamed("_id", "id_a")
                  .withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_v", "_vb"), "id_b")
        .select(
            "id_a", "id_b",
            grid_round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos"),
        )
    )
    return scored.filter(F.col("cos") >= threshold)


def audio_containment_pairs(
    clips: DataFrame,
    segment_ms: int = 1000,
    threshold: float = 0.97,
    min_tail_ms: int = 250,
    n_fft: int = 4096,
    n_bands: int = 128,
    n_planes: int = 16,
    n_tables: int = 4,
    id_col: str = "clip_id",
) -> DataFrame:
    """Partial-overlap provenance: clip pairs where one clip CONTAINS a
    window of the other (excerpts, re-clipped uploads, samples) — cases
    whole-clip fingerprinting misses because the global spectrum of a 2 s
    recording and its 1 s excerpt differ.

    Composition of three session operators, all scale-shaped:
      segment_clips (pure Column algebra: sequence/explode/binary
      substring; container codecs pass through as one whole-payload
      segment, which is exactly right — an opus excerpt IS its own
      candidate window) ->
      audio_fingerprint_buckets per segment (decode+FFT+LSH sign bits in
      ONE Arrow hop; persisted as the Catalyst re-expansion barrier) ->
      16-bit bucket join across DIFFERENT clips -> exact cosine verify ->
      aggregate matched windows per clip pair.

    Returns (id_a, id_b, n_matched_segments, max_cos), id_a < id_b.
    Never materializes the segment-pair space beyond bucket collisions;
    shuffles are keyed on bucket then on the (tiny) pair set.
    """
    from jsonschema_spark.functions.audio import audio_fingerprint_buckets
    from jsonschema_spark.operators.segments import segment_clips
    from jsonschema_spark.operators.similarity import cosine

    segs = segment_clips(
        clips, segment_ms, min_tail_ms=min_tail_ms, id_col=id_col
    )
    fp = segs.select(
        F.col(id_col).alias("_id"),
        F.col("seg_idx"),
        audio_fingerprint_buckets(
            "seg_bytes", n_fft=n_fft, n_bands=n_bands,
            n_planes=n_planes, n_tables=n_tables,
        ).alias("_s"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # filter ABOVE the persist barrier (UDF-below-persist duplication);
    # candidates carry (id, seg_idx) keys only through the bucket join +
    # distinct — embeddings re-attach from the cached fp frame afterwards
    # (see audio_near_dup_pairs for the shuffle-width rationale)
    banded = fp.filter(F.col("_s.embedding").isNotNull()).select(
        "_id", "seg_idx", F.explode("_s.buckets").alias("bucket")
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), "bucket")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l.seg_idx").alias("seg_a"),
            F.col("r.seg_idx").alias("seg_b"),
        )
        .distinct()
    )
    vecs = fp.select("_id", "seg_idx", F.col("_s.embedding").alias("_v"))
    scored = (
        cand.join(
            vecs.select(F.col("_id").alias("id_a"), F.col("seg_idx").alias("seg_a"),
                        F.col("_v").alias("_va")),
            ["id_a", "seg_a"],
        )
        .join(
            vecs.select(F.col("_id").alias("id_b"), F.col("seg_idx").alias("seg_b"),
                        F.col("_v").alias("_vb")),
            ["id_b", "seg_b"],
        )
        .select(
            "id_a", "id_b", "seg_a", "seg_b",
            grid_round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return (
        scored.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_matched_segments"),
            F.max("cos").alias("max_cos"),
        )
    )


# ---------------------------------------------------------------------------
# 5. connected components — pair lists -> canonical duplicate clusters
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component): component = min node id of the connected component.

    The last step of the dedup ladder: every pair generator above
    (jaccard/minhash/simhash/embedding LSH) emits PAIRS, but "keep one
    survivor per duplicate group" needs the TRANSITIVE closure — pairs
    (a,b),(b,c) are one three-doc cluster even though (a,c) never met in
    any bucket. Alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    is two narrow groupBy+join shuffles on node ids, converging in
    O(log^2 n) rounds independent of component diameter — the property
    that makes it safe on billion-edge web graphs where plain min-label
    propagation needs O(diameter) rounds. No Python in the loop body; the
    driver only iterates and checks an (count, xxhash-sum) fixpoint
    signature. Each round is localCheckpoint()ed: iterative self-joins
    otherwise double the lineage per round (exponential planning cost);
    on a real cluster use a reliable checkpoint dir for fault tolerance.

    Only nodes appearing in >= 1 pair are assigned; singletons are their
    own trivial cluster and never enter the edge list.
    """
    # canonical undirected edge set, big -> small
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iterations):
        # large-star: for every node, connect all STRICTLY LARGER neighbors
        # to the min of its closed neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            # emitted edge (v, m): v > u >= m, so big -> small is preserved
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: per node, link all smaller-or-equal neighbors (and the
        # node itself) to the min of that set
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
        )
        new_e = small.localCheckpoint(eager=True)
        row = new_e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: 64-bit hash values cannot overflow it, and
            # ANSI mode would reject a plain bigint sum
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        e = new_e
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # fixpoint edges form stars: child -> component min. Roots self-assign.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def duplicate_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "minhash",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, cluster_id): transitive near-dup clusters over the corpus,
    cluster_id = min doc id in the cluster. ``method`` picks the pair
    generator: 'minhash' (sub-quadratic scale path) or 'jaccard' (exact
    inverted index). Keep rows where doc_id == cluster_id for a
    one-survivor-per-cluster dedup policy."""
    if method == "minhash":
        pairs = minhash_lsh_pairs(
            df, threshold=threshold, n=n, text_col=text_col, id_col=id_col,
            hash_family=hash_family,
        )
    elif method == "jaccard":
        pairs = jaccard_pairs(
            df, threshold=threshold, n=n, text_col=text_col, id_col=id_col
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    return connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# 7. edit-distance near-dup (PassJoin segment banding — exact recall)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    k: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_key_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, edit_distance) for all id pairs with Levenshtein
    distance <= k. EXACT (recall 1.0), never all-pairs on the long path.

    The fuzzy sibling of exact transcript equality: finds re-recordings /
    re-labelings whose transcripts differ by a typo, OCR slip, or
    re-normalization — pairs byte-identity dedup and token-level Jaccard
    both miss (one edit inside a word changes every n-gram that spans it).

    Algorithm (PassJoin-style segment pigeonhole, Li/Deng/Feng's public
    partition scheme): if ed(s, t) <= k and s is split into k+1 segments,
    at least one segment of s occurs VERBATIM in t, start-position shifted
    by at most k. So:

      index side  every row with length >= k+1 emits its k+1 segments,
                  keyed (length, segment_idx, segment_text);
      probe side  every row emits, for each candidate partner length
                  L' in [max(k+1, len-k), len+k] and each segment spec of
                  L', its substrings at the <= 2k+1 admissible start
                  positions — O(k^2) short keys per row, constant for
                  fixed k;
      join        one equi-join on the key (AQE-sized; the segment text
                  makes keys selective), candidates deduped to id pairs;
      verify      join texts back by id and keep pairs whose exact
                  Levenshtein (threshold-bounded, JVM-side) is <= k.

    Rows shorter than k+1 characters cannot be pigeonholed but need no
    index: ANY two strings of length <= k are trivially within ed <= k
    (ed <= max length), so the short-short block is emitted directly from
    the distinct short TEXTS (a domain bounded by the alphabet, not the
    corpus); short-vs-long pairs are caught by the main join (the long row
    is the indexed side). The quadratic short-short OUTPUT is inherent to
    the answer, not a plan artifact.

    Scale: shuffles are the key join + one pair distinct; no windows, no
    driver round-trips, zero Python (Levenshtein is a codegen'd JVM
    builtin). ``max_key_freq`` is the same safety valve as
    ``jaccard_pairs.max_shingle_freq``: a segment shared by f rows creates
    O(f^2) candidates, so boilerplate-heavy corpora can cap it — recall
    then drops ONLY for pairs whose every matching segment is hot
    (documented lower-bound semantics). Unset = exact.
    """
    if k < 1:
        raise ValueError("k must be >= 1 (k=0 is exact_duplicates)")
    kp1 = k + 1
    base = (
        _parallelize(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")),
            "_id",
        )
        .filter(F.col("_text").isNotNull())
        .select("_id", "_text", F.length("_text").alias("_n"))
    )

    # ---- index side: k+1 segments of every partitionable row ----
    # segment spec for a string of length L: q = L div (k+1), r = L mod
    # (k+1); segment i (0-based) has length q+1 for i < r else q, start
    # i*q + min(i, r). Pure integer Column algebra, replayable in SQL.
    lng = base.filter(F.col("_n") >= kp1)
    idx = (
        lng.select(
            "_id",
            "_text",
            "_n",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("_i"),
        )
        .select(
            "_id",
            F.col("_n").alias("_L"),
            "_i",
            F.expr(
                f"substring(_text, _i * (_n DIV {kp1}) + least(_i, _n % {kp1}) + 1, "
                f"(_n DIV {kp1}) + if(_i < _n % {kp1}, 1, 0))"
            ).alias("_seg"),
        )
    )
    if max_key_freq is not None:
        keep = (
            idx.groupBy("_L", "_i", "_seg")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_key_freq)
            .select("_L", "_i", "_seg")
        )
        idx = idx.join(keep, ["_L", "_i", "_seg"], "left_semi")

    # ---- probe side: admissible substrings for every partner length ----
    probe = (
        base.select(
            F.col("_id").alias("_pid"),
            "_text",
            F.col("_n").alias("_tn"),
            F.explode(
                F.sequence(
                    F.greatest(F.lit(kp1), F.col("_n") - k), F.col("_n") + k
                )
            ).alias("_L"),
        )
        .select(
            "_pid",
            "_text",
            "_tn",
            "_L",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("_i"),
        )
        .select(
            "_pid",
            "_text",
            "_tn",
            "_L",
            "_i",
            F.expr(f"_L DIV {kp1} + if(_i < _L % {kp1}, 1, 0)").alias("_len"),
            F.expr(f"_i * (_L DIV {kp1}) + least(_i, _L % {kp1})").alias("_st"),
        )
        .withColumn("_plo", F.greatest(F.lit(0), F.col("_st") - k))
        .withColumn("_phi", F.least(F.col("_tn") - F.col("_len"), F.col("_st") + k))
        .filter(F.col("_phi") >= F.col("_plo"))
        .select(
            "_pid",
            "_L",
            "_i",
            F.expr(
                "explode(transform(sequence(_plo, _phi), "
                "p -> substring(_text, p + 1, _len)))"
            ).alias("_seg"),
        )
    )

    cand = (
        idx.join(probe, ["_L", "_i", "_seg"])
        .filter(F.col("_id") != F.col("_pid"))
        .select(
            F.least("_id", "_pid").alias("id_a"),
            F.greatest("_id", "_pid").alias("id_b"),
        )
        .distinct()
    )

    # ---- short-short block: all pairs of short rows qualify trivially ----
    # (ed <= max length <= k). Non-equi self-join over the short slice only
    # — empty on corpora without sub-(k+1)-char rows, and the quadratic
    # output is the true answer when they exist, not a plan artifact.
    shorts = base.filter(F.col("_n") <= k)
    spairs = (
        shorts.select(F.col("_id").alias("id_a"))
        .join(
            shorts.select(F.col("_id").alias("id_b")),
            F.col("id_a") < F.col("id_b"),
        )
        .distinct()
    )

    pairs = cand.unionByName(spairs).distinct()

    # ---- verify: exact threshold-bounded Levenshtein, JVM-side ----
    ta = base.select(F.col("_id").alias("id_a"), F.col("_text").alias("_ta"))
    tb = base.select(F.col("_id").alias("id_b"), F.col("_text").alias("_tb"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            # threshold-bounded: the JVM kernel early-exits above k
            F.levenshtein(F.col("_ta"), F.col("_tb"), k).alias("edit_distance"),
        )
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= k))
    )
