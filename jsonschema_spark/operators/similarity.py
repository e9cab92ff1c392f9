"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``          — exact brute force: broadcast the (small) query
  set against the corpus; one scan, no shuffle of the corpus, window top-k
  partitioned by query. The correctness baseline.
- ``lsh_ann_topk``         — scale path: random-hyperplane LSH. Plane
  signs come from xxhash64(plane || dim) so planes are deterministic and
  regenerable on any executor (no random state shipped). Candidates =
  bucket collisions (multi-probe via bands), ranked exactly within bucket.
- ``ivf_topk``             — IVF-style alternative: corpus is bucketed by
  nearest of K deterministic "centroid" vectors; queries probe the
  ``n_probe`` nearest buckets only.
- ``pq_encode``/``pq_topk``/``ivfpq_topk`` — product quantization: the
  memory-bound path (the ADC scan reads only (id, code) — ~32x narrower
  than fp32 vectors at m=8); IVF-PQ compounds the probe fraction on top.

Vector math is pure Column expressions (zip_with/aggregate) — JVM-side.
Keep lambda bodies SMALL: fully unrolled literal chains blow janino's
64 KB codegen limit and silently fall back to interpreted eval (see
``_sq_l2_sub``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from jsonschema_spark.functions.grid import grid_round


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    a, b = _to_double(a), _to_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def _maybe_broadcast(df: DataFrame, broadcast: bool) -> DataFrame:
    """Broadcast hint gate for the query side of similarity joins.

    ``broadcast=True`` (the default) is right for interactive top-k: a
    handful of query vectors against a huge corpus. For large query SETS
    (batch re-ranking, all-pairs style jobs) a forced broadcast would
    exceed the driver/broadcast limits — pass ``broadcast_queries=False``
    and let AQE pick shuffle vs broadcast from the runtime size."""
    return F.broadcast(df) if broadcast else df


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, vec_id, cos, rank) — exact top-k by cosine.

    ``queries``: (query_id, embedding). Broadcast side = queries (small);
    the corpus streams through map-side; the only shuffle is the per-query
    top-k window over corpus_rows x n_queries candidates (cut k-fold by a
    cheap pre-rank if needed).
    """
    q = _maybe_broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv")),
        broadcast_queries,
    )
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(q)
    scored = joined.select(
        query_id_col,
        id_col,
        grid_round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _plane_weights(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random weights in [-1, 1), computed ONCE on the
    driver (md5-derived). Embedding them as literals matters at scale:
    expression-side hash derivation sits inside a higher-order function that
    Catalyst does not constant-fold, so it would re-hash dim values per ROW."""
    import hashlib

    out = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"p{plane}|{d}".encode()).digest()[:8], "little"
        )
        out.append((h % 2000003 - 1000001.5) / 1000001.5)
    return out


def _hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    """Sign of <vec, r_plane> with driver-computed literal plane weights."""
    weights = F.array(*[F.lit(w) for w in _plane_weights(plane, dim)])
    return (dot(_to_double(vec), weights) > 0).cast("int")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: rank exactly within LSH bucket collisions.

    ``n_tables`` independent sign-LSH tables (plane sets offset per table);
    a candidate collides in >= 1 table. Recall grows with tables, cost with
    bucket width (2^-n_planes of the corpus per bucket in expectation).
    """
    def with_buckets(df: DataFrame, idc: str) -> DataFrame:
        out = df
        for t in range(n_tables):
            planes0 = t * n_planes
            sig = F.lit(t)  # disambiguate tables in one join key space
            for p in range(n_planes):
                sig = sig * 2 + _hyperplane_sign(F.col(vec_col), planes0 + p, dim)
            out = out.withColumn(f"_b{t}", sig)
        buckets = F.array(*[F.col(f"_b{t}") for t in range(n_tables)])
        return out.select(idc, vec_col, F.explode(buckets).alias("bucket")).distinct()

    c = with_buckets(corpus.select(id_col, vec_col), id_col)
    q = with_buckets(queries.select(query_id_col, vec_col), query_id_col).withColumnRenamed(
        vec_col, "_qv"
    )
    cand = c.join(_maybe_broadcast(q, broadcast_queries), "bucket").select(
        query_id_col, id_col, F.col(vec_col), F.col("_qv")
    ).distinct()
    scored = cand.select(
        query_id_col, id_col, grid_round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos")
    ).groupBy(query_id_col, id_col).agg(F.max("cos").alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _pseudo_centroid(cell: int, dim: int) -> list[float]:
    """Deterministic hash-derived pseudo-centroid (data-independent
    fallback; any executor or external oracle can reproduce it)."""
    import hashlib

    vals = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"c{cell}|{d}".encode()).digest()[:8], "little"
        )
        vals.append((h % 1999993 - 999996.5) / 999996.5)
    return vals


def seed_centroids(
    df: DataFrame, n_cells: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Data-derived centroids: the first ``n_cells`` corpus vectors by id
    (deterministic medoid-style seeds — real data points, reproducible by
    any engine that can sort by id). Collects k rows to the driver; the
    centroids then travel as expression literals, never per-row state."""
    rows = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r._v] for r in rows]


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 16,
    sample_size: int = 1024,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Real k-means centroids from a deterministic driver-side sample.

    The sample is the first ``sample_size`` vectors by id (deterministic —
    rerunning yields identical centroids); Lloyd iterations run in numpy on
    the driver (sample_size x dim floats, trivially small next to the
    cluster). Initial centroids are the first k sample vectors. Empty cells
    keep their previous centroid. The result is a plain list of lists —
    broadcast into the plan as literals by ``ivf_assign``/``ivf_topk``."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r._v for r in rows], dtype=np.float64)
    if len(x) == 0:
        raise ValueError("kmeans_centroids: empty input")
    k = min(n_cells, len(x))
    c = x[:k].copy()
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(xn @ cn.T, axis=1)  # cosine assignment
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in c]


def _centroid_lit(vals: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in vals])


def _resolve_centroids(
    centroids: list[list[float]] | None, n_cells: int, dim: int
) -> list[list[float]]:
    if centroids is not None:
        return centroids
    return [_pseudo_centroid(cell, dim) for cell in range(n_cells)]


def _cell_sims(
    vec_col: str, n_cells: int, dim: int, centroids: list[list[float]] | None = None
) -> Column:
    """array<struct<sim,cell>> of similarities to every centroid.

    Linear expression size; array_max / array_sort pick cells, unlike a
    chained-when argmax (quadratic) would. Expression size grows with
    n_cells x dim literals — fine for O(10^2) cells / O(10^2) dims; for
    larger codebooks switch the assignment to a broadcast centroid-table
    join (same plan shape as ``ivf_topk``'s probe join)."""
    cents = _resolve_centroids(centroids, n_cells, dim)
    return F.array(
        *[
            F.struct(
                grid_round(cosine(F.col(vec_col), _centroid_lit(cents[cell])), 9).alias("sim"),
                F.lit(cell).alias("cell"),
            )
            for cell in range(len(cents))
        ]
    )


def ivf_assign(
    df: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (``centroids`` from
    ``kmeans_centroids``/``seed_centroids``; hash-derived pseudo-centroids
    as the data-independent fallback)."""
    return df.withColumn(
        "ivf_cell",
        F.array_max(_cell_sims(vec_col, n_cells, dim, centroids)).getField("cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF probing: the corpus is bucketed ONCE by
    nearest centroid; each query scores only the vectors in its ``n_probe``
    nearest cells (exact cosine rank within the probed subset).

    With ``n_probe == n_cells`` this degenerates to exact search — the
    recall/cost dial the scale path needs (probe fraction ~ n_probe/n_cells
    of the corpus per query). The join is corpus-bucket x broadcast query
    probes: the corpus is never reshuffled per query.
    """
    c = ivf_assign(corpus.select(id_col, vec_col), n_cells, dim, vec_col, centroids)
    probe_cells = F.transform(
        F.slice(
            F.reverse(F.array_sort(_cell_sims(vec_col, n_cells, dim, centroids))),
            1,
            n_probe,
        ),
        lambda s: s.getField("cell"),
    )
    q = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qv"),
            probe_cells.alias("_cells"),
        )
        .select(query_id_col, "_qv", F.explode("_cells").alias("ivf_cell"))
    )
    cand = c.join(_maybe_broadcast(q, broadcast_queries), "ivf_cell")
    scored = cand.select(
        query_id_col, id_col, grid_round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound scale path
# ---------------------------------------------------------------------------
# At 10^12 vectors the bottleneck is bytes-per-vector scanned per query:
# fp32x64 = 256 B; PQ with m subspaces stores m small codes (conceptually m
# bytes at 256 centroids; m ints here). The asymmetric-distance (ADC) scan
# reads ONLY the code column — a ~32x narrower scan — and the codebooks ride
# the plan as literals (no broadcast, no shuffle; Jegou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011). Compose with
# ``ivf_assign`` (bucket by coarse centroid, encode residuals per bucket)
# for IVF-PQ; here the flat ADC scan is the contract-pinned core.
#
# Everything is correctly-rounded IEEE (cast/sub/mul/add in a FIXED
# left-associative order), so DuckDB replays encode + ADC bit-for-bit —
# the contract oracle rebuilds the same seed codebooks from the same
# parquet by sorting (no full-precision literal shipping needed).


def pq_seed_codebooks(
    df: DataFrame,
    m: int = 8,
    k_per_space: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Codebook[s] = the s-th subvector of the first ``k_per_space`` corpus
    vectors by id — deterministic medoid seeds, SQL-reproducible (the PQ
    analogue of ``seed_centroids``). Returns m lists of k subvectors."""
    rows = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(k_per_space)
        .collect()
    )
    if not rows:
        raise ValueError("pq_seed_codebooks: empty input")
    dim = len(rows[0]._v)
    if dim % m != 0:
        raise ValueError(f"pq_seed_codebooks: dim {dim} not divisible by m {m}")
    d_s = dim // m
    return [
        [[float(x) for x in r._v[s * d_s : (s + 1) * d_s]] for r in rows]
        for s in range(m)
    ]


def pq_train(
    df: DataFrame,
    m: int = 8,
    k_per_space: int = 16,
    sample_size: int = 1024,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Real per-subspace Lloyd (euclidean) codebooks from a deterministic
    driver-side sample (first ``sample_size`` by id — rerunning yields
    identical codebooks; same stance as ``kmeans_centroids``). Empty cells
    keep their previous centroid."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: empty input")
    x = np.asarray([r._v for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    d_s = dim // m
    books = []
    for s in range(m):
        xs = x[:, s * d_s : (s + 1) * d_s]
        k = min(k_per_space, len(xs))
        c = xs[:k].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=-1)
            assign = d2.argmin(axis=1)
            for j in range(k):
                members = xs[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        books.append([[float(v) for v in row] for row in c])
    return books


def _book_lit(book: list[list[float]]) -> Column:
    """One subspace codebook as a literal array<array<double>> (k x d_s)."""
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in cent]) for cent in book]
    )


def _sq_l2_sub(vec_col: str, ce: Column, start: int, d_s: int) -> Column:
    """Squared L2 between vec[start+1 .. start+d_s] and a centroid
    subvector column, as a left fold from +0.0 — bit-identical to the
    left-associative chain the DuckDB oracle emits (+0.0 + t == t for the
    non-negative squared terms), every op correctly-rounded IEEE.

    HOF form on purpose: the fully unrolled literal chain (m x k x d_s
    terms) blows the 64 KB janino method limit — whole-stage codegen FAILS
    and the giant tree runs interpreted with its shared subtrees
    re-evaluated (measured 23 s for a 5k x 8-query ADC at m=8, k=16).
    Small lambda bodies over a 2-D literal keep per-row work linear."""
    sub = F.slice(F.col(vec_col), start + 1, d_s)
    return F.aggregate(
        F.zip_with(sub, ce, lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _pq_code_array(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """array<int> of 0-based nearest-centroid codes, one per subspace.
    The (dist, idx) struct array is referenced ONCE by array_min (struct
    ordering = lexicographic, so equal distances resolve to the smallest
    index — the same first-minimum rule as DuckDB list_position); a
    array_position(dists, array_min(dists)) formulation would re-expand
    the whole distance tree twice under interpreted eval."""
    m = len(codebooks)
    d_s = len(codebooks[0][0])

    def _dstruct(book: Column, start: int, k: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.struct(
                _sq_l2_sub(vec_col, F.element_at(book, i), start, d_s).alias(
                    "d"
                ),
                i.alias("i"),
            ),
        )

    codes = []
    for s in range(m):
        dstruct = _dstruct(_book_lit(codebooks[s]), s * d_s, len(codebooks[s]))
        codes.append((F.array_min(dstruct).getField("i") - 1).cast("int"))
    return F.array(*codes)


def _pq_lut(vec_col: str, book: list[list[float]], start: int) -> Column:
    """array<double>: squared L2 from the query subvector to every centroid
    of one subspace, in codebook order."""
    d_s = len(book[0])
    return F.transform(
        _book_lit(book), lambda ce: _sq_l2_sub(vec_col, ce, start, d_s)
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Corpus -> compact PQ codes (the write-once encode pass). The code
    column is what the ADC scan reads; persist/write it next to the id and
    drop the raw vectors from the hot path. Pure codegen expressions —
    expression size grows with m x k x d_s literals (fine for O(10^2)
    centroids; larger codebooks switch to a broadcast centroid-table join,
    the ``_cell_sims`` disposition)."""
    return df.withColumn(code_col, _pq_code_array(vec_col, codebooks))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
    code_col: str = "pq_code",
) -> DataFrame:
    """(query_id, vec_id, approx_dist, rank) — approximate top-k by
    asymmetric PQ distance (ADC): per query, a lookup table of squared L2
    from the query subvector to every centroid; per corpus code, the
    distance is m table lookups summed in fixed order. The corpus side
    carries ONLY (id, code); the query side (tiny) is broadcast. No
    shuffle of the corpus, one narrow scan, window top-k per query."""
    m = len(codebooks)
    d_s = len(codebooks[0][0])
    if code_col not in corpus.columns:
        corpus = pq_encode(corpus, codebooks, vec_col=vec_col, code_col=code_col)
    c = corpus.select(F.col(id_col), F.col(code_col).alias("_code"))
    luts = [
        _pq_lut(vec_col, codebooks[s], s * d_s).alias(f"_lut{s}")
        for s in range(m)
    ]
    q = queries.select(F.col(query_id_col), *luts)
    joined = c.crossJoin(_maybe_broadcast(q, broadcast_queries))
    total = None
    for s in range(m):
        term = F.element_at(
            F.col(f"_lut{s}"), F.element_at(F.col("_code"), s + 1) + 1
        )
        total = term if total is None else total + term
    scored = joined.select(
        query_id_col, id_col, grid_round(total, 6).alias("approx_dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
    centroids: list[list[float]] | None = None,
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ (the full Jegou et al. recipe): coarse-bucket the corpus by
    nearest centroid ONCE, store only (id, cell, code); each query probes
    its ``n_probe`` nearest cells and ranks by ADC within the probed
    subset. Per-query cost ~ (n_probe/n_cells) x m-code bytes of the
    corpus — the two knobs compound at 10^12 vectors.

    Codes quantize RAW vectors (not per-cell residuals), so
    ``n_probe == n_cells`` degenerates EXACTLY to the flat ``pq_topk`` —
    which pins the bucket/probe/join plumbing against the same bit-exact
    DuckDB oracle regardless of the coarse codebook (the ``ivf_topk``
    full-probe stance). Residual encoding would buy accuracy at the cost
    of that degeneracy and per-cell codebooks."""
    m = len(codebooks)
    d_s = len(codebooks[0][0])
    c = ivf_assign(corpus.select(id_col, vec_col), n_cells, dim, vec_col, centroids)
    c = pq_encode(c, codebooks, vec_col=vec_col, code_col=code_col).select(
        id_col, "ivf_cell", F.col(code_col).alias("_code")
    )
    probe_cells = F.transform(
        F.slice(
            F.reverse(F.array_sort(_cell_sims(vec_col, n_cells, dim, centroids))),
            1,
            n_probe,
        ),
        lambda s: s.getField("cell"),
    )
    luts = [
        _pq_lut(vec_col, codebooks[s], s * d_s).alias(f"_lut{s}")
        for s in range(m)
    ]
    q = queries.select(
        F.col(query_id_col), probe_cells.alias("_cells"), *luts
    ).select(
        query_id_col,
        F.explode("_cells").alias("ivf_cell"),
        *[f"_lut{s}" for s in range(m)],
    )
    cand = c.join(_maybe_broadcast(q, broadcast_queries), "ivf_cell")
    total = None
    for s in range(m):
        term = F.element_at(
            F.col(f"_lut{s}"), F.element_at(F.col("_code"), s + 1) + 1
        )
        total = term if total is None else total + term
    scored = cand.select(
        query_id_col, id_col, grid_round(total, 6).alias("approx_dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )
