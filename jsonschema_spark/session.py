"""The SparkSession every job in ``jobs/`` runs on.

It lives in the library because ``spark-submit --py-files`` ships only the
package, not ``jobs/``.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, Optional

from pyspark.sql import SparkSession

# 32 MB G1 regions lift the humongous-allocation threshold above the
# reader and Arrow buffers of ~40 KB payloads (measured 10-20x on the clips
# path; BASELINE.md §1). In local mode the driver JVM runs the tasks, so
# the driver needs the flag as much as the executors.
_G1_REGIONS = "-XX:G1HeapRegionSize=32m"


@contextmanager
def job_session(app: str, master: Optional[str] = None) -> Iterator[SparkSession]:
    """``with job_session(app, master) as spark:`` gets or creates the job's
    session: AQE with skew-join splitting, 128-row parquet reader batches
    (sub-humongous scan buffers for payload columns) and 32 MB G1 regions on
    driver and executors. ``master`` overrides spark-submit's; log level
    WARN. On exit it stops the session only if it created it, so an
    embedding caller (a test) keeps its own."""
    created = SparkSession.getActiveSession() is None
    builder = SparkSession.builder.appName(app)
    if master:
        builder = builder.master(master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.driver.extraJavaOptions", _G1_REGIONS)
        .config("spark.executor.extraJavaOptions", _G1_REGIONS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    try:
        yield spark
    finally:
        if created:
            spark.stop()
