"""Streaming validation parity with batch + resumable checkpoint runs."""

import os

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.checkpoint import (
    pending_partitions,
    read_manifest,
    validate_resumable,
    with_bucket,
)
from jsonschema_spark.operators.validate import validate
from jsonschema_spark.sources.tables import load_table
from jsonschema_spark.streaming.validate import windowed_summary

from .conftest import SF_DIR

EVENTS_SCHEMA = {
    "type": "object",
    "required": ["event_id", "ts", "user_id", "event_type"],
    "properties": {
        "event_id": {"type": "integer", "minimum": 0},
        "event_type": {"enum": ["view", "click", "signup", "error"]},  # purchase missing
        "value": {"type": "number", "minimum": 0},
    },
}


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-stage events as a multi-file parquet dir so readStream has files
    to discover incrementally."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stream_matches_batch(spark, events_dir, tmp_path):
    batch_df = spark.read.parquet(events_dir)
    want = sorted(
        tuple(r)
        for r in validate(batch_df, EVENTS_SCHEMA)
        .violations(["event_id"])
        .select("event_id", "keyword")
        .collect()
    )

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    out = validate(stream, EVENTS_SCHEMA).violations(["event_id"]).select(
        "event_id", "keyword"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("viol_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM viol_stream").collect())
    assert got == want
    assert len(got) > 0


def test_windowed_summary_counts(spark, events_dir, tmp_path):
    batch_df = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    summary = windowed_summary(
        stream, EVENTS_SCHEMA, ts_col="ts", window="1 day", watermark="0 seconds"
    )
    q = (
        summary.writeStream.format("memory")
        .queryName("win_summary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_summary").collect()
    # append mode finalizes windows up to the watermark; totals over emitted
    # windows must agree with a batch aggregate over the same window range
    assert len(rows) > 0
    emitted = {r.window_start for r in rows}
    batch_counts = (
        validate(batch_df, EVENTS_SCHEMA)
        .annotated.groupBy(F.window(F.col("ts").cast("timestamp"), "1 day").alias("_w"))
        .agg(F.count(F.lit(1)).alias("rows"), F.sum((~F.col("_valid")).cast("long")).alias("failed"))
        .select(F.col("_w.start").alias("window_start"), "rows", "failed")
        .collect()
    )
    batch_by_win = {r.window_start: (r.rows, r.failed) for r in batch_counts}
    for r in rows:
        assert batch_by_win[r.window_start] == (r.rows, r.failed)


def test_resumable_validation_resumes(spark, tmp_path):
    df = with_bucket(load_table(spark, SF_DIR, "events"), "event_id", n_buckets=8)
    manifest_dir = str(tmp_path / "manifest")

    # first invocation: preempted after 3 partitions
    run1 = validate_resumable(
        df, EVENTS_SCHEMA, manifest_dir, "_bucket", max_partitions=3
    )
    assert len(run1.processed) == 3 and run1.skipped == 5
    assert sorted(run1.processed) == run1.processed

    # resume: picks up the remaining 5, never reprocesses
    run2 = validate_resumable(df, EVENTS_SCHEMA, manifest_dir, "_bucket")
    assert len(run2.processed) == 5
    assert set(run1.processed).isdisjoint(run2.processed)

    manifest = read_manifest(spark, manifest_dir)
    rows = manifest.collect()
    assert len(rows) == 8  # each bucket exactly once
    assert {r.partition_value for r in rows} == {str(i) for i in range(8)}
    assert sum(r.rows for r in rows) == df.count()

    # per-partition totals agree with a direct per-bucket batch validation
    direct = (
        validate(df, EVENTS_SCHEMA)
        .annotated.groupBy(F.col("_bucket").alias("partition_value"))
        .agg(F.sum((~F.col("_valid")).cast("long")).alias("failed"))
        .collect()
    )
    direct_failed = {r.partition_value: r.failed for r in direct}
    for r in rows:
        assert direct_failed[r.partition_value] == r.failed

    # idempotent: a third run finds nothing pending
    run3 = validate_resumable(df, EVENTS_SCHEMA, manifest_dir, "_bucket")
    assert run3.processed == []
    assert pending_partitions(df, read_manifest(spark, manifest_dir), "_bucket") == []


def test_resumable_persists_violation_lineage(spark, tmp_path):
    df = with_bucket(load_table(spark, SF_DIR, "events"), "event_id", n_buckets=4)
    manifest_dir = str(tmp_path / "m2")
    viol_dir = str(tmp_path / "viols")
    validate_resumable(
        df,
        EVENTS_SCHEMA,
        manifest_dir,
        "_bucket",
        violations_dir=viol_dir,
        key_cols=["event_id"],
    )
    viols = spark.read.parquet(viol_dir)
    assert "partition_value" in viols.columns
    total_failed = sum(
        r.violation_count for r in read_manifest(spark, manifest_dir).collect()
    )
    assert viols.count() == total_failed
    assert os.path.isdir(viol_dir)


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-key totals accumulate across micro-batches
    and converge to the batch ground truth."""
    from jsonschema_spark.streaming.stateful import running_validation_totals

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = running_validation_totals(stream, EVENTS_SCHEMA, "event_type")
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.processAllAvailable()
    mid = {r.key: r.rows for r in spark.sql(
        "SELECT * FROM running_totals").collect()}
    assert sum(mid.values()) == first.count()

    # second micro-batch arrives; state carries the running totals forward
    second.coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    # totals are monotone per key, so the max row is the latest regardless
    # of the memory sink's row order
    latest = {}
    for r in spark.sql("SELECT * FROM running_totals").collect():
        cur = (r.rows, r.failed, r.violation_count)
        if r.key not in latest or cur[0] > latest[r.key][0]:
            latest[r.key] = cur

    from jsonschema_spark.operators.validate import validate
    truth = {
        r.key: (r.rows, r.failed, r.violation_count)
        for r in validate(ev, EVENTS_SCHEMA)
        .annotated.groupBy(F.col("event_type").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
            F.sum(F.size("_violations").cast("long")).alias("violation_count"),
        )
        .collect()
    }
    assert latest == truth


def test_streaming_psi_matches_batch(spark, events_dir, tmp_path):
    """Windowed histograms + foreachBatch PSI vs baseline: every completed
    window's PSI equals the batch psi() over that window's rows."""
    from jsonschema_spark.operators import drift as drift_ops
    from jsonschema_spark.streaming.drift import (
        psi_foreach_batch,
        windowed_category_histogram,
    )

    batch_df = spark.read.parquet(events_dir)
    baseline = batch_df  # whole table as the baseline snapshot

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    hist = windowed_category_histogram(
        stream, "event_type", ts_col="ts", window="1 day", watermark="0 seconds"
    )
    results = []

    def sink(df, batch_id):
        results.extend(df.collect())

    q = (
        hist.writeStream.outputMode("append")
        .foreachBatch(psi_foreach_batch(baseline, "event_type", sink))
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(results) > 0
    for r in results:
        window_rows = batch_df.filter(
            (F.col("ts").cast("timestamp") >= r.window_start)
            & (F.col("ts").cast("timestamp") < r.window_end)
        )
        expected = drift_ops.psi(window_rows, baseline, "event_type")
        assert r.psi == pytest.approx(expected, abs=1e-9), r


def test_streaming_binned_ks_matches_batch(spark, events_dir, tmp_path):
    """Windowed numeric histograms + foreachBatch binned KS vs baseline:
    every completed window's ks_stat equals the batch ks_statistic_binned
    over that window's rows — all windows computed in ONE grouped plan."""
    from jsonschema_spark.operators import drift as drift_ops
    from jsonschema_spark.streaming.drift import (
        ks_foreach_batch,
        windowed_binned_histogram,
    )

    lo, hi, nb = 0.0, 600.0, 60
    batch_df = spark.read.parquet(events_dir)
    baseline = batch_df

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    hist = windowed_binned_histogram(
        stream, "value", ts_col="ts", lo=lo, hi=hi, n_bins=nb,
        window="1 day", watermark="0 seconds",
    )
    results = []

    def sink(df, batch_id):
        results.extend(df.collect())

    q = (
        hist.writeStream.outputMode("append")
        .foreachBatch(ks_foreach_batch(baseline, "value", sink, lo, hi, nb))
        .option("checkpointLocation", str(tmp_path / "ckpt_ks"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(results) > 1  # multiple windows in one batch -> grouped path
    for r in results:
        window_rows = batch_df.filter(
            (F.col("ts").cast("timestamp") >= r.window_start)
            & (F.col("ts").cast("timestamp") < r.window_end)
        )
        want = drift_ops.ks_statistic_binned(
            window_rows, baseline, "value", lo, hi, nb
        ).collect()[0]
        assert r.ks_stat == pytest.approx(want.ks_stat, abs=1e-9), r
        assert (r.n_cur, r.n_base) == (want.n_cur, want.n_base)


def test_stream_clips_with_audio_udf(spark, tmp_path):
    """The north rule's 'same compiled DAG under readStream' claim must hold
    for the FULL clips plan — including the vectorized audio decode+SNR
    pandas UDF content check — not just pure-Column schemas."""
    from jsonschema_spark.functions.audio import audio_snr_ok
    from jsonschema_spark.plans.compile import CompileOptions
    from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA, synth_clips

    d = str(tmp_path / "clips_stream")
    synth_clips(spark, 600, partitions=4).write.mode("overwrite").parquet(d)
    batch_df = spark.read.parquet(d)
    opts = CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})

    want = sorted(
        tuple(r)
        for r in validate(batch_df, CLIPS_JSON_SCHEMA, opts)
        .violations(["clip_id"])
        .select("clip_id", "keyword")
        .collect()
    )
    assert any(kw == "contentMediaType" for _, kw in want)  # UDF check fires

    stream = spark.readStream.schema(batch_df.schema).parquet(d)
    out = validate(stream, CLIPS_JSON_SCHEMA, opts).violations(["clip_id"]).select(
        "clip_id", "keyword"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("clip_viol_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_clips"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM clip_viol_stream").collect())
    assert got == want


def test_streaming_drift_matrix_matches_batch(spark, events_dir, tmp_path):
    """Sliced windowed histograms + foreachBatch drift matrix: every
    completed (window, slice) verdict equals the batch drift_matrix over
    that window's rows — all windows x slices in ONE grouped plan."""
    from jsonschema_spark.operators import drift as drift_ops
    from jsonschema_spark.streaming.drift import (
        drift_matrix_foreach_batch,
        sliced_windowed_category_histogram,
    )

    seg = (F.col("user_id") % 2).cast("long")
    batch_df = spark.read.parquet(events_dir).withColumn("segment", seg)
    baseline = batch_df

    stream = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir).withColumn("segment", seg)
    hist = sliced_windowed_category_histogram(
        stream, "event_type", ts_col="ts", slice_cols=["segment"],
        window="1 day", watermark="0 seconds",
    )
    results = []

    def sink(df, batch_id):
        results.extend(df.collect())

    q = (
        hist.writeStream.outputMode("append")
        .foreachBatch(
            drift_matrix_foreach_batch(baseline, "event_type", ["segment"], sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_dm"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(results) > 2  # multiple (window, slice) cells in one plan
    windows = sorted({(r.window_start, r.window_end) for r in results})
    assert len(windows) > 1
    for ws, we in windows:
        window_rows = batch_df.filter(
            (F.col("ts").cast("timestamp") >= ws)
            & (F.col("ts").cast("timestamp") < we)
        )
        want = {
            r.segment: r
            for r in drift_ops.drift_matrix(
                window_rows, baseline, ["segment"], "event_type"
            ).collect()
        }
        got = {
            r.segment: r
            for r in results
            if (r.window_start, r.window_end) == (ws, we)
        }
        assert set(got) == set(want)
        for s in want:
            assert got[s].psi == pytest.approx(want[s].psi, abs=1e-9)
            assert got[s].chi2 == pytest.approx(want[s].chi2, abs=1e-9)
            assert got[s].verdict == want[s].verdict
            assert (got[s].n_cur, got[s].n_base) == (
                want[s].n_cur, want[s].n_base,
            )


def test_streaming_wasserstein_matches_batch(spark, events_dir, tmp_path):
    """Windowed W1 drift via foreachBatch: every completed window's
    w1_dist equals the batch wasserstein_binned over that window's rows —
    all windows in ONE grouped plan (present-bin gap weights included)."""
    from jsonschema_spark.operators import drift as drift_ops
    from jsonschema_spark.streaming.drift import (
        wasserstein_foreach_batch,
        windowed_binned_histogram,
    )

    lo, hi, nb = 0.0, 600.0, 60
    batch_df = spark.read.parquet(events_dir)
    baseline = batch_df

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    hist = windowed_binned_histogram(
        stream, "value", ts_col="ts", lo=lo, hi=hi, n_bins=nb,
        window="1 day", watermark="0 seconds",
    )
    results = []

    def sink(df, batch_id):
        results.extend(df.collect())

    q = (
        hist.writeStream.outputMode("append")
        .foreachBatch(wasserstein_foreach_batch(baseline, "value", sink, lo, hi, nb))
        .option("checkpointLocation", str(tmp_path / "ckpt_w1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(results) > 1
    for r in results:
        window_rows = batch_df.filter(
            (F.col("ts").cast("timestamp") >= r.window_start)
            & (F.col("ts").cast("timestamp") < r.window_end)
        )
        want = drift_ops.wasserstein_binned(
            window_rows, baseline, "value", lo, hi, nb
        ).collect()[0]
        assert r.w1_dist == pytest.approx(want.w1_dist, abs=1e-9), r
        assert (r.n_cur, r.n_base) == (want.n_cur, want.n_base)


def test_streaming_window_and_transcode_match_batch(spark, tmp_path):
    """The new payload-rewrite ops are stateless projections, so the SAME
    plan runs under readStream: snippet windows (container-aware seek)
    and lossless FLAC transcode must produce byte-identical rows to the
    batch run over the same files."""
    import numpy as np

    from jsonschema_spark.functions.audio import (
        pcm16_from_float,
        reference_signal,
        transcode_flac,
        window_pcm,
    )
    from jsonschema_spark.functions.flac import encode_flac

    rows = []
    for i in range(40):
        cid = f"clip-{i:012d}"
        n = 16000 * 1500 // 1000
        pcm = pcm16_from_float(reference_signal(cid, n))
        raw = (encode_flac(pcm, 16000, seek_every=4) if i % 2
               else pcm.astype("<i2").tobytes())
        rows.append((cid, bytearray(raw), 16000, 1500))
    d = str(tmp_path / "clips_payload_stream")
    spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int"
    ).repartition(4).write.mode("overwrite").parquet(d)
    batch_df = spark.read.parquet(d)

    def transform(df):
        return df.select(
            "clip_id",
            window_pcm("bytes", "sr_hz", F.lit(600), F.lit(250)).alias("w"),
            transcode_flac("bytes", "sr_hz").alias("t"),
        ).select(
            "clip_id",
            F.md5(F.hex("w.out_bytes")).alias("win_md5"),
            F.col("w.n_out").alias("n_win"),
            F.md5(F.hex("t.out_bytes")).alias("tc_md5"),
        )

    want = sorted(tuple(r) for r in transform(batch_df).collect())
    stream = spark.readStream.schema(batch_df.schema).parquet(d)
    q = (
        transform(stream).writeStream.format("memory")
        .queryName("payload_rw_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_payload_rw"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM payload_rw_stream").collect()
    )
    assert got == want and len(got) == 40
