"""Declarative validation suites: one config in, one check-report out.

The user-facing front door that composes the engine's operators —
schema validation, uniqueness, referential integrity, domain
completeness, cross-table reconciliation, drift — into a single run
driven by a JSON config (the shape teams check into their repo next to
the schema document):

    {"checks": [
      {"type": "schema", "name": "orders_schema", "table": "orders",
       "schema": {...}, "max_violation_rate": 0.05},
      {"type": "unique", "name": "orders_pk", "table": "orders",
       "keys": ["o_orderkey"]},
      {"type": "not_null", "name": "custkey_set", "table": "orders",
       "column": "o_custkey", "max_null_rate": 0.0},
      {"type": "row_count", "name": "orders_nonempty", "table": "orders",
       "min_rows": 1},
      {"type": "referential", "name": "li_orders", "table": "lineitem",
       "keys": ["l_orderkey"], "ref_table": "orders",
       "ref_keys": ["o_orderkey"]},
      {"type": "completeness_days", "name": "orderdate_gaps",
       "table": "orders", "column": "o_orderdate", "max_missing": 0}
    ]}

Any check may carry a ``"where"`` SQL predicate: the check then runs on
the matching slice only (e.g. ``"where": "codec = 'pcm_s16le'"`` gates a
per-codec contract; ``"where": "o_orderdate >= date'2026-01-01'"``
scopes a freshness or FD check to the live partition). The predicate is
a codegen'd filter that pushes into the scan — a scoped check reads
less, not more.

Each check yields one row (check_name, check_type, metric, threshold,
status) — `metric` is the measured quantity (violation rate, duplicate
key count, orphan count, missing days, null rate, row count) and
`status` is 'pass'/'fail' against the config threshold. The report is a
DataFrame: at most one row per check ever reaches the driver.

Scale notes (10^12 rows): every check is an aggregate or anti-join the
underlying operator already shapes for scale (salted uniqueness,
AQE-sized referential joins, sequence-generated day domains). Checks on
the SAME table still scan it once per check — at 100 TB, group your
aggregate-style checks into few suites per table, or persist the table
frame across the suite run; the report union itself is n_checks rows.

Cited behavior: the reference validates one schema document per call
(jsonschema.go); a suite is the table-scale analogue — many named
checks, one report, thresholds decided by config not code.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from jsonschema_spark.functions.aac import audio_adts_profile
from jsonschema_spark.functions.grid import grid_round
from jsonschema_spark.functions.h264 import video_h264_profile
from jsonschema_spark.functions.mp3_sideinfo import audio_mp3_sideinfo_profile
from jsonschema_spark.functions.mp4 import video_mp4_profile
from jsonschema_spark.functions.ogg import (
    audio_opus_packet_profile,
    audio_vorbis_packet_profile,
)
from jsonschema_spark.functions.webm import video_webm_profile

REPORT_SCHEMA = (
    "check_name string, check_type string, metric double, "
    "threshold double, status string"
)


def _report_row(
    name: str, ctype: str, metric, threshold, passed
) -> Callable[[DataFrame], DataFrame]:
    """Shape a 1-row aggregate into the report schema (all JVM-side)."""

    def shape(agg: DataFrame) -> DataFrame:
        return agg.select(
            F.lit(name).alias("check_name"),
            F.lit(ctype).alias("check_type"),
            metric.cast("double").alias("metric"),
            F.lit(float(threshold)).alias("threshold"),
            F.when(passed, F.lit("pass")).otherwise(F.lit("fail")).alias(
                "status"
            ),
        )

    return shape


def _check_schema(df: DataFrame, spec: dict) -> DataFrame:
    from jsonschema_spark.operators.validate import validate

    rate = float(spec.get("max_violation_rate", 0.0))
    ann = validate(df, spec["schema"]).annotated
    agg = ann.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("_valid")).cast("long")).alias("bad"),
    )
    # guard: empty table -> rate 0 (floor the denominator, see CLAUDE.md)
    metric = F.col("bad") / F.greatest(F.col("n"), F.lit(1))
    return _report_row(
        spec["name"], "schema", metric, rate, metric <= rate
    )(agg)


def _check_unique(df: DataFrame, spec: dict) -> DataFrame:
    keys = spec["keys"]
    max_dups = int(spec.get("max_duplicate_keys", 0))
    dups = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_keys"))
    )
    metric = F.coalesce(F.col("dup_keys"), F.lit(0))
    return _report_row(
        spec["name"], "unique", metric, max_dups, metric <= max_dups
    )(dups)


def _check_not_null(df: DataFrame, spec: dict) -> DataFrame:
    rate = float(spec.get("max_null_rate", 0.0))
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(spec["column"]).isNull().cast("long")).alias("nulls"),
    )
    metric = F.col("nulls") / F.greatest(F.col("n"), F.lit(1))
    return _report_row(
        spec["name"], "not_null", metric, rate, metric <= rate
    )(agg)


def _check_row_count(df: DataFrame, spec: dict) -> DataFrame:
    min_rows = int(spec["min_rows"])
    agg = df.agg(F.count(F.lit(1)).alias("n"))
    metric = F.col("n")
    return _report_row(
        spec["name"], "row_count", metric, min_rows, metric >= min_rows
    )(agg)


def _check_referential(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    max_orphans = int(spec.get("max_orphans", 0))
    ref = tables[spec["ref_table"]]
    keys, ref_keys = spec["keys"], spec["ref_keys"]
    child = df.select(
        *[F.col(k).alias(rk) for k, rk in zip(keys, ref_keys)]
    )
    orphans = (
        child.join(ref.select(*ref_keys), ref_keys, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    metric = F.coalesce(F.col("orphans"), F.lit(0))
    return _report_row(
        spec["name"], "referential", metric, max_orphans, metric <= max_orphans
    )(orphans)


def _check_completeness_days(df: DataFrame, spec: dict) -> DataFrame:
    from jsonschema_spark.operators.reconcile import date_completeness

    max_missing = int(spec.get("max_missing", 0))
    missing = date_completeness(df, spec["column"]).agg(
        F.count(F.lit(1)).alias("missing")
    )
    metric = F.coalesce(F.col("missing"), F.lit(0))
    return _report_row(
        spec["name"], "completeness_days", metric, max_missing,
        metric <= max_missing,
    )(missing)


def _check_drift_chi2(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    from jsonschema_spark.operators import drift

    max_stat = float(spec["max_stat"])
    base = tables[spec["baseline_table"]]
    agg = drift.chi_square_table(df, base, spec["column"]).agg(
        grid_round(F.sum("contribution"), 6).alias("stat")
    )
    metric = F.col("stat")
    return _report_row(
        spec["name"], "drift_chi2", metric, max_stat, metric <= max_stat
    )(agg)


def _check_drift_psi(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    from jsonschema_spark.operators import drift

    max_psi = float(spec["max_psi"])
    base = tables[spec["baseline_table"]]
    agg = drift.psi_table(df, base, spec["column"]).agg(
        grid_round(F.sum("contribution"), 6).alias("psi")
    )
    metric = F.col("psi")
    return _report_row(
        spec["name"], "drift_psi", metric, max_psi, metric <= max_psi
    )(agg)


def _check_reconcile(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    """Header-vs-detail reconciliation as a suite check: metric = number
    of header rows whose detail sum mismatches beyond rel_tol (or that
    have no detail rows). ``detail_amount`` is a SQL expression string
    evaluated on the detail table (F.expr) — config stays declarative."""
    from jsonschema_spark.operators.reconcile import reconcile

    max_mismatches = int(spec.get("max_mismatches", 0))
    detail = tables[spec["detail_table"]]
    mismatches = reconcile(
        df,
        detail,
        spec["key"],
        spec["detail_key"],
        spec["value"],
        F.expr(spec["detail_amount"]),
        rel_tol=float(spec.get("rel_tol", 0.01)),
    ).agg(F.count(F.lit(1)).alias("mismatches"))
    metric = F.coalesce(F.col("mismatches"), F.lit(0))
    return _report_row(
        spec["name"], "reconcile", metric, max_mismatches,
        metric <= max_mismatches,
    )(mismatches)


def _check_completeness_categories(df: DataFrame, spec: dict) -> DataFrame:
    """Contract-category completeness: metric = number of expected values
    (config list) absent from the column."""
    from jsonschema_spark.operators.reconcile import categorical_completeness

    max_missing = int(spec.get("max_missing", 0))
    missing = categorical_completeness(df, spec["column"], spec["expected"]).agg(
        F.count(F.lit(1)).alias("missing")
    )
    metric = F.coalesce(F.col("missing"), F.lit(0))
    return _report_row(
        spec["name"], "completeness_categories", metric, max_missing,
        metric <= max_missing,
    )(missing)


def _check_fd(df: DataFrame, spec: dict) -> DataFrame:
    """Functional dependency as a suite check: metric = number of
    determinant groups carrying >1 dependent value."""
    from jsonschema_spark.operators.fd import fd_report

    max_groups = int(spec.get("max_violating_groups", 0))
    rep = fd_report(
        df, {spec["name"]: (spec["determinant"], spec["dependent"])}
    ).agg(F.coalesce(F.sum("violating_groups"), F.lit(0)).alias("v"))
    metric = F.col("v")
    return _report_row(
        spec["name"], "fd", metric, max_groups, metric <= max_groups
    )(rep)


def _check_sequence(df: DataFrame, spec: dict) -> DataFrame:
    """Per-key ordering health as a suite check: metric = total issues
    (timestamp regressions + duplicate instants + keys over the gap SLA)."""
    from jsonschema_spark.operators.sequence import sequence_report

    max_issues = int(spec.get("max_issues", 0))
    gap = spec.get("max_gap_s")
    rep = sequence_report(
        df, spec["key"], spec["ts"], spec["id"],
        max_gap_s=float(gap) if gap is not None else None,
    )
    agg = rep.select(
        (
            F.col("total_regressions")
            + F.col("total_dup_ts")
            + F.col("keys_over_gap_sla")
        ).alias("issues")
    )
    metric = F.col("issues")
    return _report_row(
        spec["name"], "sequence", metric, max_issues, metric <= max_issues
    )(agg)


def _check_session(df: DataFrame, spec: dict) -> DataFrame:
    """Stuck-session detector: metric = the longest gap-session duration
    in seconds (``gap_s`` defines the session boundary). A session longer
    than the SLA means some key never goes idle — bot traffic, a replayed
    feed, or a stuck producer re-emitting under one id. An empty feed
    yields NULL and FAILS (no sessions is never healthy)."""
    from jsonschema_spark.operators.temporal import session_report

    max_duration_s = float(spec["max_duration_s"])
    rep = session_report(
        df, spec["key"], spec["ts"], float(spec["gap_s"]), spec["id"]
    )
    agg = rep.select(
        (F.col("max_duration_us") / F.lit(1_000_000.0)).alias("dur_s")
    )
    metric = F.col("dur_s")
    return _report_row(
        spec["name"], "session", metric, max_duration_s,
        F.coalesce(metric <= max_duration_s, F.lit(False)),
    )(agg)


def _check_freshness(df: DataFrame, spec: dict) -> DataFrame:
    """Data freshness: metric = age in seconds of the newest timestamp vs
    ``as_of`` (ISO string in the config — declarative and replayable;
    orchestrators inject the wall clock). An empty/all-NULL column yields
    a NULL age, which FAILS (no data is never fresh)."""
    max_age_s = float(spec["max_age_s"])
    as_of = F.lit(spec["as_of"]).cast("timestamp")
    agg = df.agg(
        (
            (
                F.unix_micros(as_of)
                - F.max(F.unix_micros(F.col(spec["column"]).cast("timestamp")))
            )
            / F.lit(1_000_000.0)
        ).alias("age_s")
    )
    metric = F.col("age_s")
    return _report_row(
        spec["name"], "freshness", metric, max_age_s,
        F.coalesce(metric <= max_age_s, F.lit(False)),
    )(agg)


def _check_skew(df: DataFrame, spec: dict) -> DataFrame:
    """Key-skew gate: metric = exact ppm share of the hottest key value
    (the salting-decision input, enforced declaratively)."""
    from jsonschema_spark.operators.stats import skew_report

    max_ppm = int(spec.get("max_share_ppm", 250_000))
    rep = skew_report(df, spec["column"], salt_threshold_ppm=max_ppm).select(
        F.col("max_share_ppm").alias("ppm")
    )
    metric = F.coalesce(F.col("ppm"), F.lit(0))
    return _report_row(
        spec["name"], "skew", metric, max_ppm, metric <= max_ppm
    )(rep)


def _check_expr(df: DataFrame, spec: dict) -> DataFrame:
    """Catch-all row predicate (GE's custom expectation): ``expr`` is any
    SQL boolean over the row; metric = fraction of rows NOT satisfying
    it. Three-valued logic is resolved loudly: a NULL predicate counts
    as a violation (wrap in your own coalesce to opt out) — silent NULL
    pass-through is how `WHERE x > t` checks lose rows (CLAUDE.md)."""
    max_rate = float(spec.get("max_violation_rate", 0.0))
    ok = F.coalesce(F.expr(spec["expr"]), F.lit(False))
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~ok).cast("long")).alias("bad"),
    )
    metric = F.coalesce(F.col("bad"), F.lit(0)) / F.greatest(
        F.col("n"), F.lit(1)
    )
    return _report_row(
        spec["name"], "expr", metric, max_rate, metric <= max_rate
    )(agg)


def _check_values_in_set(df: DataFrame, spec: dict) -> DataFrame:
    """Great-Expectations' expect_column_values_to_be_in_set — the
    REVERSE direction of completeness_categories: that check asks "is
    every expected value still present?", this one asks "did any NEW
    value appear?". metric = fraction of non-NULL values outside
    ``expected``."""
    max_rate = float(spec.get("max_unexpected_rate", 0.0))
    col = F.col(spec["column"]).cast("string")
    expected = [str(v) for v in spec["expected"]]
    agg = df.where(col.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~col.isin(expected)).cast("long")).alias("bad"),
    )
    metric = F.coalesce(F.col("bad"), F.lit(0)) / F.greatest(
        F.col("n"), F.lit(1)
    )
    return _report_row(
        spec["name"], "values_in_set", metric, max_rate, metric <= max_rate
    )(agg)


def _check_matches_regex(df: DataFrame, spec: dict) -> DataFrame:
    """Great-Expectations' expect_column_values_to_match_regex: metric =
    fraction of NON-NULL values not matching ``pattern`` (keep patterns
    in the RE2∩java.regex subset so external replays agree). NULLs are
    not_null's job."""
    max_rate = float(spec.get("max_violation_rate", 0.0))
    col = F.col(spec["column"])
    agg = df.where(col.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (~col.cast("string").rlike(spec["pattern"])).cast("long")
        ).alias("bad"),
    )
    metric = F.coalesce(F.col("bad"), F.lit(0)) / F.greatest(
        F.col("n"), F.lit(1)
    )
    return _report_row(
        spec["name"], "matches_regex", metric, max_rate, metric <= max_rate
    )(agg)


def _check_encoding(df: DataFrame, spec: dict) -> DataFrame:
    """Encoding-health gate (operators/webtext): metric = fraction of
    non-NULL documents failing the mojibake/replacement/control gates."""
    from jsonschema_spark.operators.webtext import (
        encoding_gates,
        encoding_profile,
    )

    max_rate = float(spec.get("max_bad_rate", 0.0))
    col = F.col(spec["column"])
    ok = encoding_gates(encoding_profile(col))["encoding_ok"]
    agg = df.where(col.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~ok).cast("long")).alias("bad"),
    )
    metric = F.coalesce(F.col("bad"), F.lit(0)) / F.greatest(
        F.col("n"), F.lit(1)
    )
    return _report_row(
        spec["name"], "encoding", metric, max_rate, metric <= max_rate
    )(agg)


def _check_join_explosion(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    """Join-blowup gate: metric = the EXACT inner-join explosion ratio
    (output rows / larger input) of table x ref_table on key/ref_key,
    computed from per-key count profiles WITHOUT running the join
    (operators/joincard). The declarative guard a pipeline puts in front
    of every planned join step."""
    from jsonschema_spark.operators.joincard import join_cardinality_report

    max_ratio = float(spec.get("max_ratio", 4.0))
    ref = tables[spec["ref_table"]]
    rep = join_cardinality_report(
        df, ref, spec["key"], spec["ref_key"], explosion_threshold=max_ratio
    )
    metric = F.col("explosion_ratio")
    return _report_row(
        spec["name"], "join_explosion", metric, max_ratio, metric <= max_ratio
    )(rep)


def _check_mean_between(df: DataFrame, spec: dict) -> DataFrame:
    """Great-Expectations' expect_column_mean_to_be_between on the
    exact-DECIMAL-sum mean (order-independent, replayable). metric = the
    mean; threshold column carries max_mean (min_mean rides the status
    logic). An empty/all-NULL column yields NULL and FAILS."""
    from jsonschema_spark.operators.stats import moments

    lo = float(spec["min_mean"])
    hi = float(spec["max_mean"])
    # agg() guarantees ONE report row even when the stacked profile is
    # empty (all-NULL column -> zero groups -> the check row would vanish)
    m = moments(df, [spec["column"]]).agg(F.min("mean").alias("m"))
    metric = F.col("m")
    passed = F.coalesce((metric >= lo) & (metric <= hi), F.lit(False))
    return _report_row(spec["name"], "mean_between", metric, hi, passed)(m)


def _check_entropy_min(df: DataFrame, spec: dict) -> DataFrame:
    """Degenerate-distribution gate: a categorical column whose Shannon
    entropy collapses below the floor signals a broken upstream (one
    value flooding the feed). metric = entropy in nats."""
    from jsonschema_spark.operators.stats import distinctness_profile

    floor = float(spec["min_entropy"])
    e = distinctness_profile(df, [spec["column"]]).agg(
        F.min("entropy").alias("e")
    )
    metric = F.col("e")
    passed = F.coalesce(metric >= floor, F.lit(False))
    return _report_row(spec["name"], "entropy_min", metric, floor, passed)(e)


def _check_benford(df: DataFrame, spec: dict) -> DataFrame:
    """Benford first-digit conformity gate (Nigrini MAD test): metric =
    mean absolute deviation of the observed first-significant-digit
    fractions from log10(1 + 1/d). Thresholds per the published bands:
    ``max_mad`` defaults to 0.015 (the nonconformity line; close
    conformity is < 0.006). A column with no significant digits at all
    (empty / all-zero / all-NULL) yields NULL observed fractions and
    FAILS loudly."""
    from jsonschema_spark.operators.stats import benford_report

    max_mad = float(spec.get("max_mad", 0.015))
    rep = benford_report(df, spec["column"]).agg(
        F.avg("abs_dev").alias("mad")
    )
    metric = grid_round(F.col("mad"), 6)
    passed = F.coalesce(metric <= max_mad, F.lit(False))
    return _report_row(spec["name"], "benford", metric, max_mad, passed)(rep)


def _check_manifest(
    df: DataFrame, spec: dict, tables: dict[str, DataFrame]
) -> DataFrame:
    """Source-vs-destination content reconciliation as a suite check:
    compute the commutative transfer manifest (integrity.content_manifest)
    over BOTH tables and count buckets whose (n_rows, total_bytes,
    digest_sum) differ — the declarative gate a copy/restore/backfill
    pipeline runs before promoting a destination table. Metric = number
    of mismatched buckets (missing-on-either-side counts as mismatched);
    threshold ``max_mismatched`` (default 0)."""
    from jsonschema_spark.operators.integrity import content_manifest

    max_mismatched = int(spec.get("max_mismatched", 0))
    n_buckets = int(spec.get("n_buckets", 64))
    key = spec.get("key_col", "clip_id")
    payload = spec.get("payload_col", "bytes")
    ref = tables[spec["ref_table"]]
    a = content_manifest(df, key, payload, n_buckets).alias("a")
    b = content_manifest(ref, key, payload, n_buckets).alias("b")
    j = a.join(b, "bucket", "full_outer")
    same = (
        F.col("a.n_rows").eqNullSafe(F.col("b.n_rows"))
        & F.col("a.total_bytes").eqNullSafe(F.col("b.total_bytes"))
        & F.col("a.digest_sum").eqNullSafe(F.col("b.digest_sum"))
    )
    agg = j.agg(
        F.coalesce(F.sum((~same).cast("long")), F.lit(0)).alias("mismatched")
    )
    metric = F.col("mismatched")
    return _report_row(
        spec["name"], "manifest", metric, max_mismatched,
        metric <= max_mismatched,
    )(agg)


def _check_audio_decode(df: DataFrame, spec: dict) -> DataFrame:
    """The payload axis as a declarative gate: decode every audio payload
    in ONE Arrow hop (functions/audio.audio_decode_profile) and require a
    minimum fraction of rows to (a) decode at all, (b) optionally meet
    the per-row SNR invariant vs the reference signal (``min_snr_db`` —
    the engine's decoded-PCM content check), and (c) optionally
    length-reconcile (``check_length``: n_samples == sr*dur div 1000 —
    the torn-upload catch for raw PCM, which has no integrity chain).
    Metric = passing fraction; threshold ``min_pass_rate``. Empty tables
    pass vacuously (pair with a row_count check)."""
    from jsonschema_spark.functions.audio import audio_decode_profile

    payload = spec.get("payload_col", "bytes")
    id_col = spec.get("id_col", "clip_id")
    sr_col = spec.get("sr_col", "sr_hz")
    dur_col = spec.get("dur_col", "dur_ms")
    min_rate = float(spec.get("min_pass_rate", 1.0))
    min_snr = spec.get("min_snr_db")
    check_length = bool(spec.get("check_length", False))

    prof = df.select(
        audio_decode_profile(payload, id_col, sr_col, dur_col).alias("p"),
        F.col(sr_col).cast("bigint").alias("_sr"),
        F.col(dur_col).cast("bigint").alias("_dur"),
    )
    ok = F.col("p.n_samples").isNotNull()
    if min_snr is not None:
        ok = ok & F.coalesce(
            F.col("p.snr") >= F.lit(float(min_snr)), F.lit(False)
        )
    if check_length:
        ok = ok & F.coalesce(
            F.col("p.n_samples") == F.expr("_sr * _dur div 1000"),
            F.lit(False),
        )
    agg = prof.agg(
        F.coalesce(
            F.sum(ok.cast("long")) / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(1.0),
        ).alias("rate"),
        F.count(F.lit(1)).alias("n"),
    )
    metric = F.when(F.col("n") == 0, F.lit(1.0)).otherwise(F.col("rate"))
    return _report_row(
        spec["name"], "audio_decode", metric, min_rate, metric >= min_rate
    )(agg)


def _check_audio_silence(df: DataFrame, spec: dict) -> DataFrame:
    """Segment-level dead-air gate: route every clip through the
    segmentation fan-out (operators/segments.segment_auto — PCM rows
    byte-slice JVM-side, containers decode once per clip) and the
    integer-exact energy hop (segment_energy), then bound the fraction
    of SILENT windows (sumsq < n * ``msq_floor``) among decodable
    segments by ``max_silent_rate``. A corpus that decodes perfectly can
    still be unusable training data if half its windows are dead air —
    this is the gate that catches it. Undecodable clips don't count
    either way (gate them with audio_decode); empty tables pass
    vacuously (pair with row_count)."""
    from jsonschema_spark.operators.segments import (
        segment_auto,
        segment_energy,
    )

    codec_col = spec.get("codec_col", "codec")
    if codec_col not in df.columns:
        # no codec column: every row takes the sniffing decode path
        df = df.withColumn(codec_col, F.lit(None).cast("string"))
    seg = segment_energy(
        segment_auto(
            df,
            segment_ms=int(spec.get("segment_ms", 250)),
            id_col=spec.get("id_col", "clip_id"),
            payload_col=spec.get("payload_col", "bytes"),
            sr_col=spec.get("sr_col", "sr_hz"),
            codec_col=codec_col,
        ),
        msq_floor=int(spec.get("msq_floor", 16)),
    )
    max_rate = float(spec.get("max_silent_rate", 0.0))
    agg = seg.where(F.col("seg_idx").isNotNull()).agg(
        F.coalesce(
            F.sum(F.coalesce(F.col("silent"), F.lit(False)).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate"),
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_silence", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_loudness(df: DataFrame, spec: dict) -> DataFrame:
    """Broadcast-loudness gate (BS.1770-4 / EBU R128): bound the
    fraction of clips whose integrated program loudness falls outside
    [``min_lufs``, ``max_lufs``] (defaults -30 / -10: the band real
    speech-corpus specs target around the -23 LUFS broadcast anchor) or
    whose true peak exceeds ``max_true_peak_dbtp`` (default -1 dBTP,
    the EBU R128 ceiling). Clips with UNDEFINED loudness (undecodable,
    shorter than one 400 ms gating block, or fully gated) count as
    violating — a gate that cannot certify a clip must not pass it.
    Metric = violating fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.audio import audio_loudness

    lo = float(spec.get("min_lufs", -30.0))
    hi = float(spec.get("max_lufs", -10.0))
    tp_max = float(spec.get("max_true_peak_dbtp", -1.0))
    max_rate = float(spec.get("max_violation_rate", 0.0))
    l = audio_loudness(
        spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
    )
    li = l["lufs_integrated"]
    tp = l["true_peak_dbtp"]
    ok = (
        F.coalesce(~F.isnan(li) & (li >= lo) & (li <= hi), F.lit(False))
        & F.coalesce(~F.isnan(tp) & (tp <= tp_max), F.lit(False))
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~ok).cast("long")) / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_loudness", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_hum(df: DataFrame, spec: dict) -> DataFrame:
    """Mains-hum / DC-offset gate: bound the fraction of clips carrying
    a 50/60 Hz-family mains line (pooled level above ``max_hum_dbr``
    relative to signal AND ±7 Hz line prominence above ``min_prom_db``)
    or a DC offset beyond ``max_dc_offset`` of full scale. Undecodable
    clips count as violating — a gate that cannot measure must not pass;
    clips too short to resolve 50 vs 60 Hz gate on DC alone.
    Metric = violating fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.audio import audio_hum, hum_gates

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = hum_gates(
        audio_hum(
            spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
        ),
        max_hum_dbr=float(spec.get("max_hum_dbr", -25.0)),
        min_prom_db=float(spec.get("min_prom_db", 10.0)),
        max_dc_offset=float(spec.get("max_dc_offset", 0.02)),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["hum_ok"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_hum", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_pitch(df: DataFrame, spec: dict) -> DataFrame:
    """Speech-plausibility gate: bound the fraction of clips that are
    NOT speechlike (voiced_frac >= ``min_voiced_frac`` with a median f0
    inside [``f0_lo_hz``, ``f0_hi_hz``]) — noise, tones, music or
    undecodable payloads mislabeled as speech all count as violating
    (a gate that cannot certify a clip must not pass it).
    Metric = violating fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.pitch import audio_pitch, pitch_gates

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = pitch_gates(
        audio_pitch(
            spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
        ),
        min_voiced_frac=float(spec.get("min_voiced_frac", 0.2)),
        f0_lo_hz=float(spec.get("f0_lo_hz", 60.0)),
        f0_hi_hz=float(spec.get("f0_hi_hz", 400.0)),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["speechlike"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_pitch", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_stereo(df: DataFrame, spec: dict) -> DataFrame:
    """Stereo-integrity gate: bound the fraction of clips that fail the
    channel-layout screen — dual mono (side/mid RMS under
    ``max_side_ratio``), out of phase (L/R correlation at or below
    ``max_phase_corr``; a mono downmix cancels these), a dead/near-dead
    channel (min/max channel RMS under ``min_balance``), or an
    undecodable payload (not measurable must not pass). Mono clips
    pass trivially. Metric = violating fraction; threshold
    ``max_violation_rate``."""
    from jsonschema_spark.functions.stereo import audio_stereo, stereo_gates

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = stereo_gates(
        audio_stereo(spec.get("payload_col", "bytes")),
        max_side_ratio=float(spec.get("max_side_ratio", 1e-3)),
        max_phase_corr=float(spec.get("max_phase_corr", -0.9)),
        min_balance=float(spec.get("min_balance", 0.01)),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["stereo_ok"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_stereo", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_tonality(df: DataFrame, spec: dict) -> DataFrame:
    """Synthetic-signal gate: bound the fraction of clips that fail the
    spectral screen — line spectra (test tones, DTMF, sweeps:
    flat_med <= ``max_tonal_flat``), static (flat_med >=
    ``min_noise_flat``), or silent/undecodable payloads (not
    measurable must not pass). Metric = violating fraction; threshold
    ``max_violation_rate``."""
    from jsonschema_spark.functions.tonality import (
        audio_tonality,
        tonality_gates,
    )

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = tonality_gates(
        audio_tonality(
            spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
        ),
        max_tonal_flat=float(spec.get("max_tonal_flat", 1e-3)),
        min_noise_flat=float(spec.get("min_noise_flat", 0.4)),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["spectral_ok"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_tonality", metric, max_rate, metric <= max_rate
    )(agg)


def _check_ctc_feasible(df: DataFrame, spec: dict) -> DataFrame:
    """CTC trainability gate: bound the fraction of (clip, transcript)
    pairs whose subsampled frame count cannot emit the label under
    CTC's blank rule (T_sub >= len + adjacent_repeats). Metadata-only
    integer arithmetic — zero decode; NULL/empty transcripts count as
    infeasible. Metric = infeasible fraction; threshold
    ``max_violation_rate``; ``subsample`` models the encoder front
    end (default 4)."""
    from jsonschema_spark.functions.fbank import ctc_feasibility

    max_rate = float(spec.get("max_violation_rate", 0.0))
    gated = ctc_feasibility(
        df,
        transcript_col=spec.get("transcript_col", "transcript"),
        sr_col=spec.get("sr_col", "sr_hz"),
        dur_col=spec.get("dur_col", "dur_ms"),
        subsample=int(spec.get("subsample", 4)),
    )
    agg = gated.agg(
        F.coalesce(
            F.sum((~F.col("ctc_ok")).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "ctc_feasible", metric, max_rate, metric <= max_rate
    )(agg)


def _fail_rate_gate(df: DataFrame, spec: dict, ctype: str,
                    ok_col) -> DataFrame:
    """Shared shape for the walker-backed gates: metric = fraction of
    rows whose profile ``ok`` is false (NULL counts as failing);
    threshold ``max_violation_rate``. One Arrow hop, one aggregate."""
    max_rate = float(spec.get("max_violation_rate", 0.0))
    agg = df.select(ok_col.alias("_ok")).agg(
        F.coalesce(
            F.sum(
                (~F.coalesce(F.col("_ok"), F.lit(False))).cast("long")
            ) / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], ctype, metric, max_rate, metric <= max_rate
    )(agg)


def _check_vorbis_decode(df: DataFrame, spec: dict) -> DataFrame:
    """REAL Vorbis sample-decode gate (round 4): bound the fraction of
    clips that fail full decode OR the SNR invariant vs the reference
    (``min_snr_db``, default the corpus 30 dB gate). A clip counts as
    failing when it cannot decode or its decoded-PCM SNR is below the
    floor."""
    from jsonschema_spark.functions.vorbis import audio_vorbis_decode_profile

    min_snr = float(spec.get("min_snr_db", 30.0))
    g = audio_vorbis_decode_profile(
        spec.get("payload_col", "bytes"),
        spec.get("id_col", "clip_id"),
        spec.get("sr_col", "sr_hz"),
        spec.get("dur_col", "dur_ms"),
    )
    ok = g["ok"] & F.coalesce(g["snr_db"] >= min_snr, F.lit(False))
    return _fail_rate_gate(df, spec, "vorbis_decode", ok)


#: walker-backed check type -> the walker's Column function (one Arrow
#: hop over the payload column); the suite gates and suggest's measured
#: drafts both read this table
WALKER_CHECKS = {
    "opus_packets": audio_opus_packet_profile,
    "vorbis_packets": audio_vorbis_packet_profile,
    "adts": audio_adts_profile,
    "mp3_sideinfo": audio_mp3_sideinfo_profile,
    "h264": video_h264_profile,
    "mp4_structure": video_mp4_profile,
    "webm_structure": video_webm_profile,
}

#: container gates that, when ``require_consistent`` (default true), also
#: require the walker's table/track-accounting flag
_CONSISTENCY_FLAG = {
    "mp4_structure": "tables_consistent",
    "webm_structure": "blocks_consistent",
}


def _check_walker(df: DataFrame, spec: dict) -> DataFrame:
    """Walker-backed gate (``WALKER_CHECKS``): bound the fraction of rows
    whose structural walk fails —
    - opus_packets: RFC 6716 TOC/framing or the RFC 7845 granule
      cross-check;
    - vorbis_packets: header order/magic, blocksize + framing validity,
      audio packet-type rule;
    - adts: sync/layer/length-chain/parameter-constancy;
    - mp3_sideinfo: Layer III side-info parse or the bit-reservoir
      back-pointer discipline (reservoir_underflow is the signature of a
      byte-range-sliced stream);
    - h264: NAL discipline / SPS-PPS parse / frame-count walk;
    - mp4_structure / webm_structure: box / element discipline and, when
      ``require_consistent``, the sample-table / SimpleBlock
      track-accounting gate."""
    ctype = spec["type"]
    g = WALKER_CHECKS[ctype](spec.get("payload_col", "bytes"))
    ok = g["ok"]
    flag = _CONSISTENCY_FLAG.get(ctype)
    if flag and spec.get("require_consistent", True):
        ok = ok & F.coalesce(g[flag], F.lit(False))
    return _fail_rate_gate(df, spec, ctype, ok)


def _check_bloom_screen(
    df: DataFrame, spec: dict, tables: dict
) -> DataFrame:
    """Contamination-screen gate: bound the fraction of rows whose
    ``column`` MIGHT be in ``reference_table.reference_column`` (Bloom
    screen — no false negatives, so the metric upper-bounds the true
    contamination rate). Spec keys: column, reference_table,
    reference_column, max_hit_rate, optional fpr (default 0.01).
    The reference reduces to a broadcast-size bitmap; the scan side
    stays join-free."""
    from jsonschema_spark.operators.bloom import bloom_screen

    ref_name = spec["reference_table"]
    if ref_name not in tables:
        raise ValueError(
            f"bloom_screen check {spec.get('name')!r}: unknown "
            f"reference_table {ref_name!r}"
        )
    max_rate = float(spec.get("max_hit_rate", 0.0))
    screened = bloom_screen(
        df,
        spec["column"],
        tables[ref_name],
        spec["reference_column"],
        fpr=float(spec.get("fpr", 0.01)),
    )
    agg = screened.agg(
        F.coalesce(
            F.avg(F.coalesce(F.col("bloom_hit"), F.lit(False))
                  .cast("double")),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "bloom_screen", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_codec(df: DataFrame, spec: dict) -> DataFrame:
    """Codec-label gate: bound the fraction of clips whose codec COLUMN
    disagrees with the payload's sniffed container (or carries a label
    the CODEC_ACCEPT mapping cannot certify, or a NULL). Metric =
    violating fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.containers import (
        audio_container_profile,
        codec_match_gate,
    )

    max_rate = float(spec.get("max_violation_rate", 0.0))
    ok = codec_match_gate(
        audio_container_profile(spec.get("payload_col", "bytes")),
        spec.get("codec_col", "codec"),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~ok).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_codec", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_snr(df: DataFrame, spec: dict) -> DataFrame:
    """Recording-quality gate: bound the fraction of clips whose
    reference-free SNR estimate (percentile-energy method) falls under
    ``min_snr_db`` — or that are silent/undecodable (not measurable
    must not pass). Stationary static reads ~0 dB and violates, the
    correct verdict for noise mislabeled as speech. Metric = violating
    fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.snrest import audio_snr_est, snr_gates

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = snr_gates(
        audio_snr_est(
            spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
        ),
        min_snr_db=float(spec.get("min_snr_db", 15.0)),
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["snr_ok"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_snr", metric, max_rate, metric <= max_rate
    )(agg)


def _check_audio_artifacts(df: DataFrame, spec: dict) -> DataFrame:
    """Transport-damage gate: bound the fraction of clips carrying
    packet-loss dropouts (exact-zero runs >= 20 ms inside the signal
    region), click impulses (two-sided opposite-sign criterion), or no
    certifiable signal at all (silence/undecodable must not pass).
    Metric = violating fraction; threshold ``max_violation_rate``."""
    from jsonschema_spark.functions.dropouts import (
        artifact_gates,
        audio_artifacts,
    )

    max_rate = float(spec.get("max_violation_rate", 0.0))
    g = artifact_gates(
        audio_artifacts(
            spec.get("payload_col", "bytes"), spec.get("sr_col", "sr_hz")
        )
    )
    agg = df.agg(
        F.coalesce(
            F.sum((~g["artifact_ok"]).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            F.lit(0.0),
        ).alias("rate")
    )
    metric = F.col("rate")
    return _report_row(
        spec["name"], "audio_artifacts", metric, max_rate,
        metric <= max_rate,
    )(agg)


_CHECKS = {
    "schema": lambda df, spec, tables: _check_schema(df, spec),
    "unique": lambda df, spec, tables: _check_unique(df, spec),
    "not_null": lambda df, spec, tables: _check_not_null(df, spec),
    "row_count": lambda df, spec, tables: _check_row_count(df, spec),
    "referential": _check_referential,
    "completeness_days": lambda df, spec, tables: _check_completeness_days(
        df, spec
    ),
    "drift_chi2": _check_drift_chi2,
    "drift_psi": _check_drift_psi,
    "reconcile": _check_reconcile,
    "fd": lambda df, spec, tables: _check_fd(df, spec),
    "sequence": lambda df, spec, tables: _check_sequence(df, spec),
    "session": lambda df, spec, tables: _check_session(df, spec),
    "freshness": lambda df, spec, tables: _check_freshness(df, spec),
    "skew": lambda df, spec, tables: _check_skew(df, spec),
    "mean_between": lambda df, spec, tables: _check_mean_between(df, spec),
    "entropy_min": lambda df, spec, tables: _check_entropy_min(df, spec),
    "benford": lambda df, spec, tables: _check_benford(df, spec),
    "completeness_categories": lambda df, spec, tables:
        _check_completeness_categories(df, spec),
    "manifest": _check_manifest,
    "join_explosion": _check_join_explosion,
    "matches_regex": lambda df, spec, tables: _check_matches_regex(df, spec),
    "encoding": lambda df, spec, tables: _check_encoding(df, spec),
    "values_in_set": lambda df, spec, tables: _check_values_in_set(df, spec),
    "expr": lambda df, spec, tables: _check_expr(df, spec),
    "audio_decode": lambda df, spec, tables: _check_audio_decode(df, spec),
    "audio_silence": lambda df, spec, tables: _check_audio_silence(df, spec),
    "audio_loudness": lambda df, spec, tables: _check_audio_loudness(df, spec),
    "audio_hum": lambda df, spec, tables: _check_audio_hum(df, spec),
    "audio_pitch": lambda df, spec, tables: _check_audio_pitch(df, spec),
    "audio_stereo": lambda df, spec, tables: _check_audio_stereo(df, spec),
    "audio_tonality": lambda df, spec, tables: _check_audio_tonality(
        df, spec
    ),
    "audio_codec": lambda df, spec, tables: _check_audio_codec(df, spec),
    "ctc_feasible": lambda df, spec, tables: _check_ctc_feasible(df, spec),
    "bloom_screen": _check_bloom_screen,
    "audio_snr": lambda df, spec, tables: _check_audio_snr(df, spec),
    "audio_artifacts": lambda df, spec, tables: _check_audio_artifacts(
        df, spec
    ),
    "vorbis_decode": lambda df, spec, tables: _check_vorbis_decode(df, spec),
    **{
        ctype: lambda df, spec, tables: _check_walker(df, spec)
        for ctype in WALKER_CHECKS
    },
}


def run_suite(
    tables: dict[str, DataFrame], config: dict
) -> DataFrame:
    """Run every check in ``config["checks"]`` against ``tables``;
    returns the unioned report DataFrame (one row per check). Unknown
    check types and missing tables raise at PLAN time — a suite with a
    typo must fail loudly before a single task runs, not emit a report
    with silently absent rows."""
    checks = config.get("checks", [])
    if not checks:
        raise ValueError("suite config has no checks")
    reports = []
    for spec in checks:
        ctype = spec.get("type")
        if ctype not in _CHECKS:
            raise ValueError(f"unknown check type: {ctype!r} in {spec.get('name')!r}")
        for key in ("table", "ref_table", "baseline_table", "detail_table"):
            if key in spec or key == "table":
                if spec.get(key) not in tables:
                    raise ValueError(
                        f"check {spec.get('name')!r} references unknown "
                        f"{key} {spec.get(key)!r}"
                    )
        target = tables[spec["table"]]
        if "where" in spec:
            target = target.filter(F.expr(spec["where"]))
        reports.append(_CHECKS[ctype](target, spec, tables))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def suite_summary(report: DataFrame) -> DataFrame:
    """(n_checks, n_passed, n_failed) — one row."""
    return report.agg(
        F.count(F.lit(1)).alias("n_checks"),
        F.sum((F.col("status") == "pass").cast("long")).alias("n_passed"),
        F.sum((F.col("status") == "fail").cast("long")).alias("n_failed"),
    )
