"""spark-submit entry point: STREAMING clips validation (Structured Streaming).

The batch job's ``validate()`` call — the same compiled constraint plan,
including the vectorized audio decode+SNR content check — applied to a
``readStream`` file source (the Iceberg/parquet landing dir of the north
rule); ``annotated`` and ``violations`` are stateless projections, so no
streaming-specific API is needed. Two sinks:

- ``<out>/violations``     — stateless append stream of violation rows
  (clip_id, keyword_path, keyword, column, message): exactly-once via the
  sink checkpoint; safe at any volume (no state store).
- ``<out>/batch_summary``  — per-micro-batch pass/fail lineage written from
  ``foreachBatch`` (batch_id, rows, passed, failed, violation_count): the
  streaming analogue of the batch job's partition manifest.

Restarting with the same --checkpoint resumes from the last committed
offsets — the streaming counterpart of the batch manifest anti-join.

Cluster usage:

    spark-submit --py-files jsonschema_spark.zip jobs/stream_clips_job.py \\
        --input <landing-dir> --out <dir> --checkpoint <dir>

Sandbox smoke (bounded run: process what's there, then stop):

    python jobs/stream_clips_job.py --synthesize 1000 \\
        --input /tmp/clips_land --out /tmp/clips_out \\
        --checkpoint /tmp/clips_ckpt --available-now --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.functions.audio import audio_snr_ok  # noqa: E402
from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.plans.compile import CompileOptions  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402
from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, CLIPS_SCHEMA, synth_clips  # noqa: E402


def violation_sink(stream, out: str, checkpoint: str, opts: CompileOptions):
    """The append-mode parquet writer of violation rows (clip_id,
    keyword_path, keyword, column, message), not yet started. Built with
    the batch ``validate(...).violations``, whose explode infers no filter
    below it, so the decode UDF runs once per row."""
    return (
        validate(stream, CLIPS_JSON_SCHEMA, opts).violations(["clip_id"])
        .writeStream.format("parquet")
        .option("path", os.path.join(out, "violations"))
        .option("checkpointLocation", os.path.join(checkpoint, "violations"))
        .outputMode("append")
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="clips landing dir (parquet files)")
    p.add_argument("--out", required=True, help="output dir (violations + batch_summary)")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--synthesize", type=int, default=0,
                   help="pre-populate --input with N synthetic clips (smoke)")
    p.add_argument("--available-now", action="store_true",
                   help="bounded run: process available files, then stop")
    p.add_argument("--trigger-seconds", type=int, default=30)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-stream-clips", args.master) as spark:
        if args.synthesize:
            synth_clips(spark, args.synthesize, partitions=4).write.mode(
                "overwrite"
            ).parquet(args.input)

        opts = CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})
        stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(args.input)
        ann = validate(stream, CLIPS_JSON_SCHEMA, opts).annotated

        q_viol = violation_sink(stream, args.out, args.checkpoint, opts)

        summary_path = os.path.join(args.out, "batch_summary")

        def write_summary(batch_df, batch_id: int) -> None:
            # foreachBatch is at-least-once: a replayed batch must overwrite its
            # OWN partition, not append a duplicate summary row — batch_id is
            # stable across retries, so dynamic partition overwrite is idempotent
            (
                batch_df.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("_valid").cast("long")).alias("passed"),
                    F.sum((~F.col("_valid")).cast("long")).alias("failed"),
                    F.sum(F.size("_violations").cast("long")).alias("violation_count"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(summary_path)
            )

        q_sum = (
            ann.writeStream.foreachBatch(write_summary)
            .option("checkpointLocation", os.path.join(args.checkpoint, "summary"))
        )

        if args.available_now:
            q1 = q_viol.trigger(availableNow=True).start()
            q2 = q_sum.trigger(availableNow=True).start()
            q1.awaitTermination()
            q2.awaitTermination()
            # totals are CUMULATIVE over every run sharing this output dir —
            # that is the point of the checkpoint: a resumed run adds only new
            # batches, so cumulative totals stay stable across restarts
            out = {"cumulative_rows": 0, "cumulative_passed": 0,
                   "cumulative_failed": 0, "cumulative_violation_count": 0,
                   "violation_rows_written": 0}
            if os.path.isdir(summary_path):
                totals = spark.read.parquet(summary_path).agg(
                    F.sum("rows").alias("rows"),
                    F.sum("passed").alias("passed"),
                    F.sum("failed").alias("failed"),
                    F.sum("violation_count").alias("violation_count"),
                ).collect()[0]
                out.update({
                    "cumulative_rows": totals["rows"] or 0,
                    "cumulative_passed": totals["passed"] or 0,
                    "cumulative_failed": totals["failed"] or 0,
                    "cumulative_violation_count": totals["violation_count"] or 0,
                })
            viol_path = os.path.join(args.out, "violations")
            if os.path.isdir(viol_path) and any(
                f.endswith(".parquet") for f in os.listdir(viol_path)
            ):
                out["violation_rows_written"] = spark.read.parquet(viol_path).count()
            print(json.dumps(out))
            return 0

        trig = {"processingTime": f"{args.trigger_seconds} seconds"}
        q_viol.trigger(**trig).start()
        q_sum.trigger(**trig).start()
        # surfaces whichever stream fails first (awaiting only one would let the
        # other die silently while the job keeps running)
        spark.streams.awaitAnyTermination()
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
