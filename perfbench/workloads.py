"""The benchmark workloads and their Spark-free expected results.

Each workload prepares its inputs once (``setup``) and then runs one full
validation pass per ``op`` call. Every pass's result is compared with a
value computed without Spark (DuckDB over the same files, or the corpus
generator's planting arithmetic).
"""

from __future__ import annotations

import importlib
import os
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jobs.validate_jsonl_job import violation_rows
from jsonschema_spark.functions.audio import SNR_THRESHOLD_DB, audio_snr_ok, decode_pcm_batch
from jsonschema_spark.plans.compile import CompileOptions
from jsonschema_spark.sources import jsonl as J
from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, materialized_clips

# the module, not the function of the same name that the package re-exports
V = importlib.import_module("jsonschema_spark.operators.validate")

CLIPS_N = 20_000
JSONL_N = 160_000  # >= 4 x 4 MB: one text split per core
CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

# i % 13 -> keyword of the one violation row planted on that line
# (sources/jsonl.py:synth_jsonl_lines); 9 is the truncated, unparsable line
JSONL_PLANTED = {
    3: "required", 4: "pattern", 5: "maximum", 6: "minLength", 7: "maxItems",
    8: "type", 9: "parse", 10: "uniqueItems", 11: "items", 12: "type",
}


def _totals(row) -> tuple[int, int, int, int]:
    return (int(row["rows"]), int(row["passed"] or 0), int(row["failed"] or 0),
            int(row["violation_count"] or 0))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


class Workload:
    """One validation pass per ``op``; rows_per_s is the median over
    passes. ``warmup_passes`` passes run untimed during set-up."""

    name = ""
    warmup_passes = 1

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer) -> tuple[int, bool, int]:
        """Run operation ``i``; return (input rows, result correct,
        violation rows reported)."""
        raise NotImplementedError


def run_action(df, tracer) -> list:
    """Plan, then execute: the split between query planning and the job."""
    with tracer.span("engine.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("engine.exec"):
        return df.collect()


class ClipsValidate(Workload):
    """North-star path: parquet payload scan, compiled keyword predicates and
    one Arrow hop for the audio decode + SNR kernel."""

    name = "clips_validate"
    # the first pass after a cold one still runs ~10% slow
    warmup_passes = 2

    def setup(self) -> None:
        _, self.path = materialized_clips(self.spark, CLIPS_N)
        self.file_bytes = _dir_bytes(self.path)
        from __spark_entry__ import _clips_totals_sql

        with duckdb.connect() as con:
            row = con.sql(
                _clips_totals_sql(f"read_parquet('{self.path}/*.parquet')")
            ).fetchone()
        self.expected = tuple(int(x) for x in row)

    def op(self, i, tracer):
        with tracer.span("sources.read"):
            clips = self.spark.read.parquet(self.path).select(*CLIP_COLS)
        opts = CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})
        totals = V.validate(clips, CLIPS_JSON_SCHEMA, opts).totals()
        got = _totals(run_action(totals, tracer)[0])
        return CLIPS_N, got == self.expected, got[3]

    def kernel_clips_per_s(self, n: int = 4000) -> float:
        """Spark-free, single-threaded SNR kernel over the first ``n`` clips
        of the same corpus; checks each verdict against the ledger."""
        cols = ["bytes", "clip_id", "sr_hz", "dur_ms", "_row_idx"]
        batches, got = [], 0
        for f in sorted(os.listdir(self.path)):
            if f.endswith(".parquet") and got < n:
                t = pq.read_table(os.path.join(self.path, f), columns=cols)
                batches.append(t.slice(0, n - got))
                got += batches[-1].num_rows
        pdf = pa.concat_tables(batches).to_pandas()
        t0 = time.perf_counter()
        snr = decode_pcm_batch(pdf["bytes"], pdf["clip_id"], pdf["sr_hz"], pdf["dur_ms"])
        dt = time.perf_counter() - t0
        planted = (pdf["_row_idx"] % 109 == 108).to_numpy()
        if not np.array_equal(snr.to_numpy() < SNR_THRESHOLD_DB, planted):
            raise RuntimeError("SNR kernel verdicts differ from the corpus ledger")
        return len(pdf) / dt


class JsonlValidate(Workload):
    """Zero-Python path: text scan, VARIANT parse, compiled algebra over
    variants, violation explode, a parquet write and a keyword aggregate."""

    name = "jsonl_validate"
    # the JIT keeps speeding this pipeline up over the first three passes
    warmup_passes = 3

    def setup(self) -> None:
        self.path = J.materialized_jsonl(JSONL_N)
        self.out = os.path.join(self.work_dir, "jsonl_violations")
        residues = Counter(i % 13 for i in range(JSONL_N))
        expected: Counter = Counter()
        for m, kw in JSONL_PLANTED.items():
            expected[kw] += residues[m]
        self.expected = dict(expected)

    def op(self, i, tracer):
        with tracer.span("sources.read"):
            docs = J.read_jsonl(self.spark, self.path)
        viol = violation_rows(docs, J.JSONL_DOC_SCHEMA)
        with tracer.span("engine.write"):
            viol.write.mode("overwrite").parquet(self.out)
        with tracer.span("sources.read"):
            written = self.spark.read.parquet(self.out)
        by_kw = written.groupBy("keyword").count()
        got = {r["keyword"]: int(r["count"]) for r in run_action(by_kw, tracer)}
        return JSONL_N, got == self.expected, sum(got.values())


WORKLOADS = {w.name: w for w in (ClipsValidate, JsonlValidate)}
