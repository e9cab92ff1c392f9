"""spark-submit entry point for the clips validation pipeline (north rule).

Cluster usage (the --py-files shape the north rule requires):

    zip -r jsonschema_spark.zip jsonschema_spark
    spark-submit --py-files jsonschema_spark.zip \\
        jobs/validate_clips_job.py \\
        --input  <iceberg-table-or-parquet-path> \\
        --manifest <manifest-dir> --violations <violations-dir> \\
        --partition-col ingest_bucket --max-partitions 100

Sandbox smoke (local master, synthetic table):

    python jobs/validate_clips_job.py --synthesize 5000 \\
        --manifest /tmp/clips_manifest --violations /tmp/clips_viols

The job is resumable: rerunning with the same --manifest continues where
the previous (possibly killed) invocation stopped; completed partitions
are pruned from the scan via the manifest anti-join.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit runs this file as __main__ from anywhere; make the package
# importable when running from the repo without --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from jsonschema_spark.functions.audio import audio_snr_ok  # noqa: E402
from jsonschema_spark.operators.checkpoint import validate_resumable, with_bucket  # noqa: E402
from jsonschema_spark.plans.compile import CompileOptions  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402
from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, synth_clips  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="clips table path (parquet/iceberg) or "
                                   "catalog table name with --format table")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "iceberg", "table"],
                   help="input source: a path-based format, or 'table' for a "
                        "catalog table (spark.read.table, the Iceberg "
                        "catalog shape the north rule names)")
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N synthetic clips instead of reading --input")
    p.add_argument("--schema", help="path to a JSON schema document "
                                    "(default: the built-in clips schema)")
    p.add_argument("--manifest", required=True, help="manifest checkpoint dir")
    p.add_argument("--violations", help="violation-rows output dir")
    p.add_argument("--partition-col", default="_bucket")
    p.add_argument("--buckets", type=int, default=32,
                   help="hash buckets when deriving --partition-col")
    p.add_argument("--max-partitions", type=int, default=None)
    p.add_argument("--master", default=None,
                   help="override master (default: from spark-submit)")
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-validate-clips", args.master) as spark:
        if args.synthesize:
            df = synth_clips(spark, args.synthesize)
        elif args.input and args.format == "table":
            df = spark.read.table(args.input)
        elif args.input:
            df = spark.read.format(args.format).load(args.input)
        else:
            p.error("one of --input / --synthesize is required")

        derived = args.partition_col not in df.columns
        if derived:
            df = with_bucket(df, "clip_id", args.buckets, args.partition_col)

        if args.schema:
            with open(args.schema) as f:
                schema = json.load(f)
        else:
            schema = CLIPS_JSON_SCHEMA

        opts = CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})
        run = validate_resumable(
            df,
            schema,
            manifest_dir=args.manifest,
            partition_col=args.partition_col,
            options=opts,
            max_partitions=args.max_partitions,
            violations_dir=args.violations,
            key_cols=["clip_id"] if args.violations else (),
            exclude_cols=[args.partition_col] if derived else (),
        )

        totals = run.manifest.groupBy().sum("rows", "passed", "failed", "violation_count")
        r = totals.collect()[0]
        print(json.dumps({
            "run_id": run.run_id,
            "processed_partitions": len(run.processed),
            "skipped_partitions": run.skipped,
            "manifest_rows": r["sum(rows)"],
            "passed": r["sum(passed)"],
            "failed": r["sum(failed)"],
            "violation_count": r["sum(violation_count)"],
        }))
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
