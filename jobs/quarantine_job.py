"""spark-submit entry point: split a table into valid / quarantine sinks.

The operational rendering of ``validate()``: one validated scan of the
input produces BOTH outputs — clean rows (original schema, ready for the
downstream pipeline) and quarantined rows annotated with their violation
records (``_violations`` serialized to a JSON string column so the
quarantine parquet is self-describing and schema-stable) — plus a
one-line JSON report on stdout. Exit code 1 when the violation rate
exceeds ``--max-violation-rate`` (CI / orchestrator gate).

    spark-submit --py-files jsonschema_spark.zip jobs/quarantine_job.py \\
        --input /data/orders --schema orders.schema.json \\
        --valid /out/orders_valid --quarantine /out/orders_quarantine

Sandbox smoke:

    python jobs/quarantine_job.py --input /root/testdata/sf0.001/orders.parquet \\
        --schema /tmp/orders.schema.json --valid /tmp/qv --quarantine /tmp/qq \\
        --master 'local[8]'

Scale shape (10^12 rows):
- ONE scan: the annotated frame (input + codegen'd ``_valid`` +
  ``_violations``) is persisted, and both writes filter ABOVE the
  barrier — without it, each sink re-plans the full validation scan
  (and Catalyst would push the ``_valid`` filter beneath the projection,
  evaluating expensive checks twice; see CLAUDE.md).
- Zero shuffles end-to-end: two filtered projections of the persisted
  frame; the report numbers are ONE aggregate over the same barrier.
- Writers are plain parquet here; on a cluster the same frame writes to
  Iceberg tables (``writeTo(...).append()``) unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jsonschema_spark.operators.validate import validate  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402


def split_quarantine(
    df: DataFrame, schema: dict, observation=None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(valid, quarantine, annotated): one validated scan, persisted; the
    two outputs filter above the persist barrier. ``quarantine`` carries
    the original columns plus ``_violations_json``. Caller must unpersist
    ``annotated`` after BOTH writes.

    With ``observation`` (a pyspark Observation), the pass/fail totals
    ride the FIRST write as observe() metrics — no separate aggregate
    job over the cache at all. The observe node sits BELOW the persist,
    so the metrics fire exactly once (when the cache materializes)."""
    r = validate(df, schema)
    base = r.observed_annotated(observation) if observation is not None \
        else r.annotated
    annotated = base.persist(StorageLevel.MEMORY_AND_DISK)
    orig_cols = [c for c in df.columns]
    valid = annotated.where(F.col("_valid")).select(*orig_cols)
    quarantine = annotated.where(~F.col("_valid")).select(
        *orig_cols, F.to_json(F.col("_violations")).alias("_violations_json")
    )
    return valid, quarantine, annotated


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="input table (parquet path)")
    p.add_argument("--schema", required=True, help="JSON Schema document path")
    p.add_argument("--valid", required=True, help="valid-rows output (parquet)")
    p.add_argument("--quarantine", required=True, help="quarantine output (parquet)")
    p.add_argument("--max-violation-rate", type=float, default=1.0,
                   help="exit 1 when failed/rows exceeds this rate")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with open(args.schema) as f:
        schema = json.load(f)

    with job_session("jsonschema-spark-quarantine", args.master) as spark:
        from pyspark.sql import Observation

        df = spark.read.parquet(args.input)
        obs = Observation("validate_totals")
        valid, quarantine, annotated = split_quarantine(df, schema, observation=obs)
        valid.write.mode("overwrite").parquet(args.valid)
        quarantine.write.mode("overwrite").parquet(args.quarantine)

        # totals accumulated during the first write (Observation API) —
        # zero extra jobs, zero extra scans
        tot = obs.get
        annotated.unpersist()

        rate = (tot["failed"] / tot["rows"]) if tot["rows"] else 0.0
        report = {
            "rows": tot["rows"],
            "valid": tot["rows"] - tot["failed"],
            "quarantined": tot["failed"],
            "violation_count": tot["violation_count"],
            "violation_rate": round(rate, 6),
            "max_violation_rate": args.max_violation_rate,
            "ok": rate <= args.max_violation_rate,
        }
        print(json.dumps(report))
        return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
