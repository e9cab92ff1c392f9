"""Two-parallelism scaling evidence: local[1] against local[nproc] on the
same input, nproc and the driver heap sized as bench.py sizes them (the
cores this process may run on, or $SPARK_GRAFT_CPUS; 30% of physical RAM).

Runs the north-star job (full clips validation incl. audio decode) and a
JVM-only aggregate at both parallelism levels, several passes each, and
reports min-of-passes throughput + scaling efficiency:

    efficiency = (throughput_nproc / throughput_1) / nproc

Usage: python tools/scaling.py [n_clips] [passes]
Writes one JSON line to stdout; paste into BASELINE.md §Scaling.
"""

from __future__ import annotations

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.functions.audio import audio_snr_ok  # noqa: E402
from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.plans.compile import CompileOptions  # noqa: E402
from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, synth_clips  # noqa: E402

from bench import CPUS, HEAP_GB  # noqa: E402

JVM_ROWS = 20_000_000

JVM_SCHEMA = {
    "type": "object",
    "required": ["id", "code", "name", "amount"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "code": {"type": "integer", "minimum": 0, "maximum": 90},
        "name": {"type": "string", "pattern": "^user-[0-9]+$", "maxLength": 40},
        "amount": {"type": "number", "multipleOf": 3},
    },
}


def jvm_table(spark: SparkSession, cpus: int):
    """20M-row generated table: validation runs fully inside whole-stage
    codegen (no I/O, no Python) — isolates the JVM engine's scaling."""
    return spark.range(0, JVM_ROWS, 1, cpus * 4).select(
        F.col("id"),
        (F.col("id") % 97).alias("code"),
        F.concat(F.lit("user-"), F.col("id")).alias("name"),
        (F.col("id") % 1000 * 3).cast("double").alias("amount"),
    )

N = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 3
PATH = f"/tmp/spark_graft_clips_{N}.parquet"
LO, HI = 1, CPUS


def session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{HEAP_GB}g")
        .config("spark.python.worker.reuse", "true")
        # payload-scan GC discipline (see bench.py build_spark): sub-
        # humongous reader batches + 32m G1 regions stop multi-second
        # allocation-storm stalls on the 42KB binary column
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .config("spark.executor.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .getOrCreate()
    )


def compute_probe(cpus: int, passes: int = 3) -> float:
    """Compute-bound control: 24 chained sha2 rounds over 4M tiny rows —
    zero payload traffic, pure whole-stage codegen. Measures how much
    compute the HOST actually grants 1 vs nproc runnable threads in this
    window; no job can scale past this, so scaling numbers below are
    reported alongside it (a 0.22 'efficiency' against a 0.37 host grant
    is the host, not the plan)."""
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"probe-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    col = F.col("id").cast("string")
    for _ in range(24):
        col = F.sha2(col, 256)
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        spark.range(4_000_000).repartition(cpus * 4).select(
            F.max(col).alias("m")
        ).collect()
        best = min(best, time.perf_counter() - t0)
    spark.stop()
    return best


def main():
    if HI < 2:
        sys.exit("scaling.py needs at least 2 cores to compare against 1")
    # materialize once (untimed)
    if not os.path.exists(PATH):
        spark = session(HI)
        spark.sparkContext.setLogLevel("ERROR")
        synth_clips(spark, N, partitions=64).write.mode("overwrite").parquet(PATH)
        spark.stop()

    # INTERLEAVED rounds: each round restarts a session per parallelism
    # level and times one pass at local[1] immediately followed by one at
    # local[nproc], so host-noise windows (CPU steal, memory-bandwidth
    # contention on this shared VM) hit both levels equally — sequential
    # blocks let a quiet half-hour flatter whichever config ran in it.
    # Efficiency is reported two ways: from the per-level minima (the
    # capability ratio) and as the best PAIRED round (same-window ratio,
    # the fairest single number on a drifting host).
    opts = CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})
    times: dict[int, dict[str, list]] = {
        LO: {"validate": [], "jvm": []},
        HI: {"validate": [], "jvm": []},
    }
    paired = []
    for _ in range(PASSES):
        round_t = {}
        for cpus in (LO, HI):
            spark = session(cpus)
            spark.sparkContext.setLogLevel("ERROR")
            clips = spark.read.parquet(PATH)
            jvm = jvm_table(spark, cpus)
            t0 = time.perf_counter()
            validate(clips, CLIPS_JSON_SCHEMA, opts).totals().collect()
            tv = time.perf_counter() - t0
            t0 = time.perf_counter()
            validate(jvm, JVM_SCHEMA).totals().collect()
            tj = time.perf_counter() - t0
            times[cpus]["validate"].append(tv)
            times[cpus]["jvm"].append(tj)
            round_t[cpus] = (tv, tj)
            spark.stop()
        paired.append(
            {
                "eff_validate": round(round_t[LO][0] / round_t[HI][0] / HI, 3),
                "eff_jvm": round(round_t[LO][1] / round_t[HI][1] / HI, 3),
            }
        )

    results = {}
    for cpus in (LO, HI):
        tv, tj = times[cpus]["validate"], times[cpus]["jvm"]
        results[str(cpus)] = {
            "validate_sec": [round(t, 2) for t in tv],
            "validate_min": round(min(tv), 2),
            "clips_per_sec": round(N / min(tv), 1),
            "jvm_sec": [round(t, 2) for t in tj],
            "jvm_min": round(min(tj), 2),
            "jvm_rows_per_sec": round(JVM_ROWS / min(tj), 0),
        }

    lo, hi = results[str(LO)], results[str(HI)]
    eff_validate = (hi["clips_per_sec"] / lo["clips_per_sec"]) / HI
    eff_jvm = (lo["jvm_min"] / hi["jvm_min"]) / HI

    # same-session host-grant ceiling (compute-bound control)
    probe_lo = compute_probe(LO)
    probe_hi = compute_probe(HI)
    host_grant_eff = round(probe_lo / probe_hi / HI, 3)
    print(
        json.dumps(
            {
                "n_clips": N,
                "jvm_rows": JVM_ROWS,
                "passes": PASSES,
                f"local{LO}": lo,
                f"local{HI}": hi,
                "scaling_efficiency_validate": round(eff_validate, 3),
                "scaling_efficiency_jvm": round(eff_jvm, 3),
                "paired_rounds": paired,
                "paired_best_validate": max(p["eff_validate"] for p in paired),
                "paired_best_jvm": max(p["eff_jvm"] for p in paired),
                "host_grant": {
                    f"probe{LO}_sec": round(probe_lo, 2),
                    f"probe{HI}_sec": round(probe_hi, 2),
                    "efficiency_ceiling": host_grant_eff,
                },
                "validate_vs_ceiling": round(
                    eff_validate / host_grant_eff, 3
                ) if host_grant_eff > 0 else None,
            }
        )
    )


if __name__ == "__main__":
    main()
