"""spark-submit entry point: daily-delta incremental validation.

The snapshot-evolution workflow the north rule's resumability story ends
in: a table advances snapshot-by-snapshot (Iceberg snapshots on a
cluster; versioned parquet dirs here — same semantics, the diff is
key-based either way), and each run validates ONLY the added+changed
rows, carrying the previous run's violation rows across the diff. The
output violations are row-for-row identical to a full re-validation
(proven by the incremental_* contract oracles), at O(|delta|) constraint
evaluation instead of O(table).

    spark-submit --py-files jsonschema_spark.zip \\
        jobs/incremental_validate_job.py \\
        --old /data/orders/v41 --new /data/orders/v42 \\
        --keys o_orderkey --schema orders.schema.json \\
        --prior-violations /state/violations/v41 \\
        --violations /state/violations/v42

First run (no --prior-violations): validates the whole snapshot (the
base case of the induction). Each run's output is the next run's
--prior-violations — the composition is associative across snapshots.

Sandbox smoke: tests/test_incremental_job.py drives two snapshot steps
and asserts the incremental chain equals full validation at every step.

Scale shape: the delta keys ride AQE-sized semi/anti joins (no forced
broadcast — a 100%-churn day must not OOM the driver); constraint
evaluation touches only the delta slice; the carried violations never
re-evaluate anything.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from jsonschema_spark.operators.incremental import incremental_violations  # noqa: E402
from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--old", help="previous snapshot (parquet path); omit on the first run")
    p.add_argument("--new", required=True, help="current snapshot (parquet path)")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--schema", required=True, help="JSON Schema document path")
    p.add_argument("--prior-violations", help="previous run's violations output")
    p.add_argument("--violations", required=True, help="violations output (parquet)")
    p.add_argument("--compare-cols", help="comma-separated columns the diff compares "
                   "(default: all shared non-key columns)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with open(args.schema) as f:
        schema = json.load(f)
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    compare_cols = (
        [c.strip() for c in args.compare_cols.split(",") if c.strip()]
        if args.compare_cols
        else None
    )

    with job_session("jsonschema-spark-incremental", args.master) as spark:
        new = spark.read.parquet(args.new)
        if args.old and args.prior_violations:
            old = spark.read.parquet(args.old)
            prior = spark.read.parquet(args.prior_violations)
            viols = incremental_violations(
                old, new, keys, schema, prior, compare_cols=compare_cols
            )
            mode = "incremental"
        else:
            viols = validate(new, schema).violations(keys)
            mode = "full"
        viols.write.mode("overwrite").parquet(args.violations)

        written = spark.read.parquet(args.violations)
        report = {
            "mode": mode,
            "new_rows": new.count(),
            "violation_rows": written.count(),
            "violated_keys": written.select(*keys).distinct().count(),
            "output": args.violations,
        }
        print(json.dumps(report))
        return 0


if __name__ == "__main__":
    sys.exit(main())
