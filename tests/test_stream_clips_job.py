"""jobs/stream_clips_job.py violation sink: the decode+SNR UDF runs once
per row (one ArrowEvalPython in the executed plan) and the sink writes
the same rows as the filter-then-explode it replaced."""

from pyspark.sql import functions as F

from jobs.stream_clips_job import violation_sink
from jsonschema_spark.functions.audio import audio_snr_ok
from jsonschema_spark.operators.validate import validate
from jsonschema_spark.plans.compile import CompileOptions
from jsonschema_spark.sources.clips import (
    CLIPS_JSON_SCHEMA,
    CLIPS_SCHEMA,
    synth_clips,
)


def test_violation_sink_decodes_once_and_rows_unchanged(spark, tmp_path):
    land, out = str(tmp_path / "land"), str(tmp_path / "out")
    synth_clips(spark, 200, partitions=2).write.parquet(land)
    opts = CompileOptions(
        content_checks={"audio/*": lambda col: audio_snr_ok()}
    )
    stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(land)
    q = violation_sink(stream, out, str(tmp_path / "ckpt"), opts)
    q = q.trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300)
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert plan.count("ArrowEvalPython") == 1, plan

    ann = validate(spark.read.parquet(land), CLIPS_JSON_SCHEMA, opts).annotated
    old = ann.filter(~F.col("_valid")).select(
        "clip_id", F.explode("_violations").alias("_v")
    ).select("clip_id", "_v.keyword_path", "_v.keyword", "_v.column",
             "_v.message")
    got = spark.read.parquet(f"{out}/violations")
    assert got.columns == old.columns
    want = sorted(map(tuple, old.collect()))
    assert want and sorted(map(tuple, got.collect())) == want
