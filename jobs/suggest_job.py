"""spark-submit entry point: draft a validation-suite config from data.

Profiles a table once (operators/suggest — the Deequ
ConstraintSuggestion analogue: one wide aggregate + one stacked distinct
pass) and writes a RUNNABLE ``jobs/suite_job.py`` config: not_null /
unique / enum-completeness / numeric-range checks with thresholds taken
from the observed data. The suggested suite passes on the profiled
table by construction; commit it, then let suite_job gate every later
batch against it.

    spark-submit --py-files jsonschema_spark.zip jobs/suggest_job.py \\
        --input /data/orders --table orders --output suite.json
    spark-submit ... jobs/suite_job.py --config suite.json

Sandbox smoke:

    python jobs/suggest_job.py --input /root/testdata/sf0.001/orders.parquet \\
        --table orders --output /tmp/suggested.json --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


from jsonschema_spark.operators.suggest import (  # noqa: E402
    DEFAULT_CATEGORY_MAX,
    as_suite_config,
    column_suggestions,
)
from jsonschema_spark.session import job_session  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="table parquet path")
    p.add_argument("--table", default="t",
                   help="table name used in the emitted config")
    p.add_argument("--columns", help="comma-separated columns "
                                     "(default: every column)")
    p.add_argument("--category-max", type=int, default=DEFAULT_CATEGORY_MAX,
                   help="max distinct values to treat a column as an enum")
    p.add_argument("--output", required=True, help="suite config JSON path")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-suggest", args.master) as spark:
        df = spark.read.parquet(args.input)
        cols = (
            [c.strip() for c in args.columns.split(",") if c.strip()]
            if args.columns
            else list(df.columns)
        )
        sugg = column_suggestions(df, cols, category_max=args.category_max)
        cfg = as_suite_config(df, sugg, table=args.table,
                              category_max=args.category_max)
        cfg["tables"] = {args.table: args.input}
        with open(args.output, "w") as f:
            json.dump(cfg, f, indent=2)
        print(json.dumps({
            "columns_profiled": len(cols),
            "checks_suggested": len(cfg["checks"]),
            "by_type": {
                t: sum(1 for c in cfg["checks"] if c["type"] == t)
                for t in sorted({c["type"] for c in cfg["checks"]})
            },
            "output": args.output,
        }))
        return 0


if __name__ == "__main__":
    sys.exit(main())
