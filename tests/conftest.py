import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# JSON Schema example documents (json-schema.org "miscellaneous examples"),
# read from the read-only reference checkout rather than copied.
TESTDATA_DIR = "/root/reference"  # fixture docs use file:///testdata/... $ids

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def require_testdata() -> str:
    if not os.path.isdir(TESTDATA_DIR):
        pytest.skip("reference testdata not available")
    return TESTDATA_DIR


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for all Spark-dependent tests."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("jsonschema_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def pytest_terminal_summary(terminalreporter):
    """A skipped test is a named gap, never a pass: one ``GAP:`` line per
    distinct skip reason."""
    reasons: dict[str, int] = {}
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        reason = reason.removeprefix("Skipped: ")
        reasons[reason] = reasons.get(reason, 0) + 1
    for reason, n in sorted(reasons.items(), key=lambda kv: (-kv[1], kv[0])):
        terminalreporter.write_line(f"GAP: {n} skipped: {reason}")
