"""spark-submit entry point: validate raw JSONL documents against a schema.

The reference library's front-door workflow (compile a JSON Schema, validate
decoded JSON documents) as a batch or streaming Spark job over
newline-delimited JSON files: each line parses to a VARIANT
(``try_parse_json`` — malformed lines become NULL variants, never a scan
failure), the compiled keyword algebra evaluates the document schema, and
malformed lines are routed to explicit ``/parse`` violation rows. Output is
a violations table (parquet) plus a one-line JSON summary on stdout.

Cluster usage:

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/validate_jsonl_job.py \\
        --input s3://bucket/crawl/*.jsonl --schema doc.schema.json \\
        --violations /out/violations

Streaming (watch a landing directory, exactly-once via the checkpoint):

    ... --stream --checkpoint /ckpt/jsonl --available-now

Sandbox smoke:

    python jobs/validate_jsonl_job.py --synthesize 1300 \\
        --violations /tmp/jsonl_viols --master 'local[8]'

Scale shape: ``spark.read.text`` splits files by line ranges across
executors; parse + validation are codegen'd expressions (zero Python);
the only shuffle is the final summary aggregate.
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

# validate stays importable from here: perfbench's traced run wraps
# jobs.validate_jsonl_job.validate by name
from jsonschema_spark.operators.validate import validate  # noqa: E402,F401
from jsonschema_spark.session import job_session  # noqa: E402
from jsonschema_spark.sources import jsonl as J  # noqa: E402
from jsonschema_spark.sources.jsonl import violation_rows  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="JSONL file, directory, or glob")
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate a deterministic synthetic corpus of N "
                        "lines instead of reading --input")
    p.add_argument("--schema", help="path to a JSON schema document "
                                    "(default: built-in synthetic-doc schema)")
    p.add_argument("--violations", help="violation-rows output dir (parquet)")
    p.add_argument("--stream", action="store_true",
                   help="run as a structured-streaming job over --input")
    p.add_argument("--checkpoint", help="streaming checkpoint dir "
                                        "(required with --stream)")
    p.add_argument("--available-now", action="store_true",
                   help="streaming: drain what exists, then stop")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    schema = J.JSONL_DOC_SCHEMA
    if args.schema:
        with open(args.schema) as f:
            schema = json.load(f)

    with job_session("jsonschema-spark-validate-jsonl", args.master) as spark:
        path = args.input
        if args.synthesize:
            path = J.materialized_jsonl(args.synthesize)

        if args.stream:
            if not (args.checkpoint and args.violations):
                p.error("--stream requires --checkpoint and --violations")
            if path and os.path.isfile(path):
                # FileStreamSource requires a directory; stage single files.
                stage = path + ".streamdir"
                os.makedirs(stage, exist_ok=True)
                dst = os.path.join(stage, os.path.basename(path))
                if not os.path.exists(dst):
                    os.link(path, dst)
                path = stage
            raw = spark.readStream.text(path).select(
                F.col("value").alias("raw"),
                F.try_parse_json(F.col("value")).alias("doc"),
            )
            out = violation_rows(raw, schema)
            writer = (
                out.writeStream.format("parquet")
                .option("path", args.violations)
                .option("checkpointLocation", args.checkpoint)
                .outputMode("append")
            )
            if args.available_now:
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
            else:
                q = writer.start()
                q.awaitTermination()
            n_viol = spark.read.parquet(args.violations).count()
            print(json.dumps({"mode": "stream", "violations": n_viol}))
            return 0

        if not path:
            p.error("--input or --synthesize is required")
        df = J.read_jsonl(spark, path)
        out = violation_rows(df, schema)
        if args.violations:
            out.write.mode("overwrite").parquet(args.violations)
            out = spark.read.parquet(args.violations)  # reuse the written result
        summary = out.agg(
            F.count(F.lit(1)).alias("violations"),
            F.count_distinct("doc_id").alias("docs_with_violations"),
            F.sum((F.col("keyword") == "parse").cast("long")).alias("parse_failures"),
        ).collect()[0]
        n_lines = df.count()
        print(json.dumps({
            "mode": "batch",
            "lines": n_lines,
            "violations": summary["violations"],
            "docs_with_violations": summary["docs_with_violations"],
            "parse_failures": summary["parse_failures"] or 0,
        }))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
