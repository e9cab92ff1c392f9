"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare against oracle_sql() via DuckDB with
an order-insensitive value comparison (columns sorted by name, rows sorted).

Each query's line ends with its Spark seconds (build + collect) and its
DuckDB oracle seconds.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm_cell(v):
    # Full shortest-round-trip precision (repr), NOT %.9g: the round-2 driver
    # hash failure (reconcile_orders_lineitem) was a 1-ulp cross-engine drift
    # that %.9g masked locally. Decimal cells carry a type tag so a Spark
    # double silently compared against a DuckDB DECIMAL fails loudly instead
    # of matching by string accident.
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    data = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, data


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e} "
                  f"(spark {time.perf_counter() - t0:.1f} s)")
            continue
        secs = f"spark {time.perf_counter() - t0:.1f} s"
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(spark_rows)} rows ({secs})")
            continue
        t0 = time.perf_counter()
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e} ({secs})")
            continue
        secs += f", duckdb {time.perf_counter() - t0:.1f} s"
        sc, sd = frame_key(spark_cols, spark_rows)
        dc, dd = frame_key(duck_cols, duck_rows)
        if sc != dc:
            failures.append(name)
            print(f"FAIL {name}: column mismatch spark={sc} duck={dc} ({secs})")
            continue
        if len(sd) != len(dd):
            failures.append(name)
            print(f"FAIL {name}: row count spark={len(sd)} duck={len(dd)} ({secs})")
            continue
        diffs = [(a, b) for a, b in zip(sd, dd) if a != b]
        if diffs:
            failures.append(name)
            print(f"FAIL {name}: {len(diffs)}/{len(sd)} differing rows; first: "
                  f"spark={diffs[0][0]} duck={diffs[0][1]} ({secs})")
            continue
        print(f"ok {name}: {len(sd)} rows match ({secs})")

    print(f"\n{'FAILURES: ' + ', '.join(failures) if failures else 'ALL OK'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
