"""spark-submit entry point: run a declarative validation suite.

The front-door workflow for a data-quality team: a JSON config names
tables and checks (schema / unique / not_null / row_count / referential /
completeness_days — see operators/suite.py), the job runs every check
and emits one report row per check plus a pass/fail summary line.

    spark-submit --py-files jsonschema_spark.zip jobs/suite_job.py \\
        --config suite.json --report /out/report

Config shape:

    {"tables": {"orders": "/data/orders", "lineitem": "/data/lineitem"},
     "checks": [
       {"type": "schema", "name": "orders_schema", "table": "orders",
        "schema_path": "orders.schema.json", "max_violation_rate": 0.01},
       {"type": "unique", "name": "pk", "table": "orders",
        "keys": ["o_orderkey"]},
       ...]}

``schema_path`` is resolved relative to the config file; inline
``schema`` documents are also accepted. Exit code is 1 if any check
fails — the job doubles as a CI gate.

Sandbox smoke:

    python jobs/suite_job.py --config /tmp/suite.json --master 'local[8]'
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

from jsonschema_spark.operators.suite import run_suite, suite_summary  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", required=True, help="suite config JSON path")
    p.add_argument("--report", help="report output dir (parquet)")
    p.add_argument("--history", help="metrics-history table (parquet dir): "
                   "judge this run's metrics against the trailing runs "
                   "(median/MAD regression detection) and append them")
    p.add_argument("--run-id", help="run identifier recorded in --history")
    p.add_argument("--fail-on-regression", action="store_true",
                   help="exit 1 when any metric regresses vs its history "
                   "(default: regressions are reported but advisory)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with open(args.config) as f:
        config = json.load(f)
    cfg_dir = os.path.dirname(os.path.abspath(args.config))
    for spec in config.get("checks", []):
        if spec.get("type") == "schema" and "schema_path" in spec:
            path = spec["schema_path"]
            if not os.path.isabs(path):
                path = os.path.join(cfg_dir, path)
            with open(path) as f:
                spec["schema"] = json.load(f)

    with job_session("jsonschema-spark-suite", args.master) as spark:
        tables = {
            name: spark.read.parquet(path)
            for name, path in config.get("tables", {}).items()
        }
        report = run_suite(tables, config)
        if args.report:
            report.write.mode("overwrite").parquet(args.report)
            report = spark.read.parquet(args.report)  # reuse the written result
        rows = report.collect()
        summ = suite_summary(report).collect()[0]
        out = {
            "checks": [r.asDict() for r in rows],
            "n_checks": summ["n_checks"],
            "n_passed": summ["n_passed"],
            "n_failed": summ["n_failed"],
        }

        # Deequ MetricsRepository-style anomaly detection: judge this run's
        # metrics against the TRAILING history first, then append this run.
        n_regressed = 0
        if args.history:
            from jsonschema_spark.operators.history import (
                append_run,
                metric_regressions,
            )

            current = report.select(
                F.col("check_name").alias("check"), "metric"
            )
            try:
                history = spark.read.parquet(args.history)
            except Exception:
                history = None  # first run: nothing to judge against
            if history is not None:
                reg_rows = metric_regressions(history, current).collect()
                out["regressions"] = [r.asDict() for r in reg_rows]
                n_regressed = sum(1 for r in reg_rows if r["regressed"])
                out["n_regressed"] = n_regressed
            append_run(
                report, args.run_id or "run", args.history,
                check_col="check_name",
            )

        print(json.dumps(out, default=str))
        failed = summ["n_failed"] > 0 or (args.fail_on_regression and n_regressed > 0)
        return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
