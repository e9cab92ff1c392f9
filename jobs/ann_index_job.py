"""spark-submit entry point: build a compact ANN index table over an
embedding corpus, then (optionally) answer top-k queries from it.

The write-once/query-many shape for 10^12-vector similarity search:
``build`` trains PQ codebooks (per-subspace Lloyd on a deterministic
driver-side sample), coarse-buckets the corpus by nearest k-means
centroid, and writes an index table of ONLY (id, ivf_cell, pq_code) plus
a JSON sidecar holding the codebooks/centroids — the raw fp32 vectors
never travel again. ``query`` reads the sidecar, probes ``--n-probe``
cells and ranks by asymmetric PQ distance (ADC); the scan touches m small
codes per candidate row (~32x narrower than the vectors at m=8).

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip jobs/ann_index_job.py \\
        build --input <embeddings-parquet> --index /ann/index \\
        --m 8 --k-per-space 256 --n-cells 1024
    spark-submit --py-files jsonschema_spark.zip jobs/ann_index_job.py \\
        query --index /ann/index --queries <queries-parquet> \\
        --output /ann/results --k 10 --n-probe 32

Sandbox smoke:

    python jobs/ann_index_job.py build \\
        --input /root/testdata/sf0.001/embeddings.parquet \\
        --index /tmp/ann_index --master 'local[8]'
    python jobs/ann_index_job.py query --index /tmp/ann_index \\
        --queries /root/testdata/sf0.001/embeddings.parquet \\
        --query-limit 4 --output /tmp/ann_hits --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from jsonschema_spark.functions.grid import grid_round

from jsonschema_spark.operators import similarity  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402

SIDECAR = "_ann_meta.json"


def build(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    m: int = 8,
    k_per_space: int = 16,
    n_cells: int = 8,
    sample_size: int = 1024,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    emb = spark.read.parquet(input_path)
    books = similarity.pq_train(
        emb, m=m, k_per_space=k_per_space, sample_size=sample_size,
        iters=iters, id_col=id_col, vec_col=vec_col,
    )
    dim = m * len(books[0][0])
    coarse = similarity.kmeans_centroids(
        emb, n_cells=n_cells, sample_size=sample_size, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    assigned = similarity.ivf_assign(
        emb.select(id_col, vec_col), n_cells, dim, vec_col, coarse
    )
    encoded = similarity.pq_encode(assigned, books, vec_col=vec_col).select(
        id_col, "ivf_cell", "pq_code"
    )
    # partition the index files by coarse cell: a query probing p cells
    # reads p/n_cells of the files (partition pruning does the probing)
    encoded.write.mode("overwrite").partitionBy("ivf_cell").parquet(index_dir)
    meta = {
        "m": m,
        "k_per_space": k_per_space,
        "n_cells": n_cells,
        "dim": dim,
        "id_col": id_col,
        "vec_col": vec_col,
        "codebooks": books,
        "centroids": coarse,
    }
    with open(os.path.join(index_dir, SIDECAR), "w") as f:
        json.dump(meta, f)
    n = spark.read.parquet(index_dir).count()
    return {"indexed_rows": n, "n_cells": n_cells, "m": m,
            "k_per_space": k_per_space, "index": index_dir}


def query(
    spark: SparkSession,
    index_dir: str,
    queries_path: str,
    output: str | None,
    k: int = 10,
    n_probe: int | None = None,
    query_limit: int | None = None,
) -> dict:
    with open(os.path.join(index_dir, SIDECAR)) as f:
        meta = json.load(f)
    m, d_s = meta["m"], meta["dim"] // meta["m"]
    books = meta["codebooks"]
    idx = spark.read.parquet(index_dir)
    q = spark.read.parquet(queries_path).select(
        F.col(meta["id_col"]).alias("query_id"),
        F.col(meta["vec_col"]).alias("embedding"),
    )
    if query_limit:
        q = q.filter(F.col("query_id") < query_limit)
    n_probe = n_probe or max(1, meta["n_cells"] // 4)
    # probe: nearest cells per query (centroids from the sidecar), then ADC
    # over the pre-encoded index — the raw corpus vectors are never read.
    probe_cells = F.transform(
        F.slice(
            F.reverse(
                F.array_sort(
                    similarity._cell_sims(
                        "embedding", meta["n_cells"], meta["dim"],
                        meta["centroids"],
                    )
                )
            ),
            1,
            n_probe,
        ),
        lambda s: s.getField("cell"),
    )
    luts = [
        similarity._pq_lut("embedding", books[s], s * d_s).alias(f"_lut{s}")
        for s in range(m)
    ]
    qp = q.select(
        "query_id", probe_cells.alias("_cells"), *luts
    ).select(
        "query_id", F.explode("_cells").alias("ivf_cell"),
        *[f"_lut{s}" for s in range(m)],
    )
    cand = idx.join(F.broadcast(qp), "ivf_cell")
    total = None
    for s in range(m):
        term = F.element_at(
            F.col(f"_lut{s}"), F.element_at(F.col("pq_code"), s + 1) + 1
        )
        total = term if total is None else total + term
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col(meta["id_col"]).asc()
    )
    hits = (
        cand.select(
            "query_id", meta["id_col"], grid_round(total, 6).alias("approx_dist")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if output:
        hits.write.mode("overwrite").parquet(output)
        n = spark.read.parquet(output).count()
    else:
        n = hits.count()
    return {"hits": n, "k": k, "n_probe": n_probe, "output": output}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("mode", choices=["build", "query"])
    p.add_argument("--input", help="embeddings parquet (build)")
    p.add_argument("--index", required=True, help="index table dir")
    p.add_argument("--queries", help="query vectors parquet (query)")
    p.add_argument("--output", help="results dir (query)")
    p.add_argument("--m", type=int, default=8)
    p.add_argument("--k-per-space", type=int, default=16)
    p.add_argument("--n-cells", type=int, default=8)
    p.add_argument("--sample-size", type=int, default=1024)
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--n-probe", type=int, default=None)
    p.add_argument("--query-limit", type=int, default=None)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-ann-index", args.master) as spark:
        if args.mode == "build":
            if not args.input:
                p.error("build requires --input")
            stats = build(
                spark, args.input, args.index, m=args.m,
                k_per_space=args.k_per_space, n_cells=args.n_cells,
                sample_size=args.sample_size, iters=args.iters,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        else:
            if not args.queries:
                p.error("query requires --queries")
            stats = query(
                spark, args.index, args.queries, args.output, k=args.k,
                n_probe=args.n_probe, query_limit=args.query_limit,
            )
        print(json.dumps(stats))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
