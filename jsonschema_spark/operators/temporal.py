"""Temporal relational operators: gap sessionization and as-of joins.

Two classic event-stream operators the validation engine needs around the
events feed (and any ``clip_id``-sharded ingest log):

- :func:`sessionize` — split each key's timeline into sessions separated
  by idle gaps ``>= gap_s`` and report per-session activity metrics. Built
  on Spark's native ``F.session_window`` aggregation (the same operator
  Structured Streaming runs under a watermark), so a streaming run would
  share its merge semantics: an event extends the current session iff it
  arrives AT MOST ``gap_s`` after the previous event (the session window
  [t, t+gap) merges with a next window whose start equals its end — an
  exactly-gap-spaced event still merges; pinned by test).
- :func:`asof_join` — for every left row, the most recent right row of
  the same key at-or-before the left timestamp (backward as-of, the
  point-in-time / attribution join). NOT a per-row range scan: both
  sides are union-tagged into one frame and matched with a single
  running ``last(..., ignorenulls)`` window — one exchange on the key,
  one sort, zero joins.

Scale design (10^12 rows):
- Both operators shuffle exactly once, on the key. Parallelism equals
  the number of keys; a hot key bounds one task by its own row count
  (inherent to per-key ordering semantics — salting cannot help when
  order within the key is the output).
- ``sessionize``'s second pass (session index / idle gap) windows over
  the already-aggregated per-session rows — orders of magnitude smaller
  than the input — reusing the same hash partitioning by key.
- ``asof_join`` is the union-tag formulation: versus the naive
  ``left JOIN right ON key AND r.ts <= l.ts`` + row_number (which
  materializes every (left, earlier-right) candidate pair — quadratic
  per key), this is linear in rows and never builds candidate pairs.

Determinism (oracle contract; see CLAUDE.md gotchas):
- Parquet feeds carry TIMESTAMP_NTZ; ``unix_micros`` needs TIMESTAMP, so
  cast first and only ever emit DIFFERENCES of the resulting t_us values
  (duration, idle, latency) — the constant session-timezone offset
  cancels; absolute epochs are never emitted.
- All orderings spell out NULLS FIRST (DuckDB defaults ASC to NULLS
  LAST) and tie-break on the id column.
- Session boundary: new session iff ``t_us - lag(t_us) > gap_us``
  (exactly ``F.session_window``'s merge rule, pinned by test).
- Monetary sums use ``floor(value*100 + 0.5)`` cents (correctly-rounded
  IEEE ops only — identical in Spark, numpy and DuckDB).

The reference library validates single documents; these operators are
engine capabilities with no reference counterpart (SURVEY.md §2C).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _t_us(col: Column) -> Column:
    # NTZ -> session-tz timestamp -> BIGINT micros. Offset is constant
    # (no-DST host); callers only emit differences, so it cancels.
    return F.unix_micros(col.cast("timestamp"))


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_s: float,
    id_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Gap-based sessions per key; one output row per session.

    Columns: key, ``session_idx`` (1-based per key in time order),
    ``n_events``, ``min_event_id`` / ``max_event_id``, ``duration_us``
    (last event - first event), ``idle_before_us`` (gap to the previous
    session's last event; NULL for the key's first session), and — when
    ``value_col`` is given — ``sum_value_c`` (exact cents,
    ``floor(v*100+0.5)``).

    Rows with a NULL key or NULL timestamp are excluded: a session is a
    contiguous run on a key's timeline, and a row with no position on
    that timeline belongs to no session (count such rows with
    :func:`jsonschema_spark.operators.sequence.sequence_profile`'s
    ``n_null_ts`` instead).
    """
    gap_us = int(round(gap_s * 1_000_000))
    base = df.where(
        F.col(key).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key).alias("k"),
        F.col(ts_col).alias("t"),
        _t_us(F.col(ts_col)).alias("t_us"),
        F.col(id_col).cast("bigint").alias("i"),
        *(
            [F.floor(F.col(value_col) * 100 + F.lit(0.5)).alias("v_c")]
            if value_col is not None
            else []
        ),
    )
    # Native session-window aggregation: Spark merges an event into the
    # current session iff its window [t, t+gap) starts at or before the
    # session's current end, i.e. iff t - prev_t <= gap. One shuffle on
    # (k) with session merge in the aggregation.
    per_session = base.groupBy(
        "k", F.session_window("t", f"{gap_us} microseconds").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("i").alias("min_event_id"),
        F.max("i").alias("max_event_id"),
        F.min("t_us").alias("s_min"),
        F.max("t_us").alias("s_max"),
        *(
            [F.sum("v_c").alias("sum_value_c")]
            if value_col is not None
            else []
        ),
    )
    # Session index + idle gap: windows over per-SESSION rows (tiny vs the
    # input), same partitioning by key. s_min is unique per (k, session)
    # by construction — sessions on one key cannot share a start instant.
    order = Window.partitionBy("k").orderBy(F.col("s_min").asc_nulls_first())
    return per_session.select(
        F.col("k").alias(key),
        F.row_number().over(order).cast("bigint").alias("session_idx"),
        "n_events",
        "min_event_id",
        "max_event_id",
        (F.col("s_max") - F.col("s_min")).alias("duration_us"),
        (F.col("s_min") - F.lag("s_max").over(order)).alias("idle_before_us"),
        *(["sum_value_c"] if value_col is not None else []),
    )


def session_report(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_s: float,
    id_col: str,
) -> DataFrame:
    """One-row fleet rollup over :func:`sessionize`: n_keys, n_sessions,
    n_events, singleton_sessions, max session length/duration, max idle."""
    s = sessionize(df, key, ts_col, gap_s, id_col)
    return s.agg(
        F.count_distinct(F.col(key)).alias("n_keys"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum((F.col("n_events") == 1).cast("bigint")).alias(
            "singleton_sessions"
        ),
        F.max("n_events").alias("max_session_events"),
        F.max("duration_us").alias("max_duration_us"),
        F.max("idle_before_us").alias("max_idle_us"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    right_cols: list[str],
    tolerance_s: float | None = None,
    dedup_tie_col: str | None = None,
    prefix: str = "matched_",
) -> DataFrame:
    """Backward as-of join: every left row gains the ``right_cols`` of the
    most recent right row with the same ``key`` and ``right.ts <= left.ts``
    (left join: unmatched rows keep NULLs), plus ``{prefix}latency_us``
    (left t - matched t, exact BIGINT micros).

    ``right`` must be unique per (key, ts) for the match to be
    value-deterministic — pass ``dedup_tie_col`` to enforce it (keeps the
    row with the greatest tie value per instant; ties on the tie column
    itself are rejected by determinism of max aggregation only if the
    payload is functionally dependent on it — use a unique id).

    ``tolerance_s`` bounds the lookback: matches older than the tolerance
    are nulled out (same latency contract as pandas ``merge_asof``).

    Right rows with a NULL key or NULL ts can never match (no position);
    left rows with a NULL key or NULL ts pass through unmatched.
    """
    # unionByName(allowMissingColumns=True) fills each side's absent
    # struct with NULL — no need to spell the struct type twice.
    lt = left.select(
        F.col(key).alias("_k"),
        _t_us(F.col(ts_col)).alias("_t_us"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
    )
    rbase = right.where(
        F.col(key).isNotNull() & F.col(ts_col).isNotNull()
    )
    if dedup_tie_col is not None:
        pick = Window.partitionBy(
            F.col(key), F.col(ts_col)
        ).orderBy(F.col(dedup_tie_col).desc_nulls_last())
        rbase = (
            rbase.withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    rt = rbase.select(
        F.col(key).alias("_k"),
        _t_us(F.col(ts_col)).alias("_t_us"),
        F.lit(0).alias("_side"),
        F.struct(
            _t_us(F.col(ts_col)).alias("_r_t_us"),
            *[F.col(c) for c in right_cols],
        ).alias("_r"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    # Right rows (side 0) sort BEFORE left rows at the same instant, so an
    # equal-timestamp right row IS eligible (inclusive <=). Post-dedup the
    # right side has at most one row per (key, instant), so the running
    # last() is value-deterministic regardless of further tie order.
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t_us").asc_nulls_first(), F.col("_side").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.select(
        "_l",
        "_t_us",
        "_side",
        F.last("_r", ignorenulls=True).over(w).alias("_m"),
    ).where(F.col("_side") == 1)
    if tolerance_s is not None:
        tol_us = int(round(tolerance_s * 1_000_000))
        in_tol = F.col("_m._r_t_us") >= F.col("_t_us") - F.lit(tol_us)
        matched = matched.withColumn(
            "_m", F.when(F.coalesce(in_tol, F.lit(False)), F.col("_m"))
        )
    return matched.select(
        F.col("_l.*"),
        *[F.col(f"_m.{c}").alias(f"{prefix}{c}") for c in right_cols],
        (F.col("_t_us") - F.col("_m._r_t_us")).alias(f"{prefix}latency_us"),
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Banded interval join: every (point, interval) pair with
    lo <= point < hi — WITHOUT the nested-loop plan a naive non-equi
    join compiles to.

    Spark turns ``points JOIN intervals ON p BETWEEN lo AND hi`` into a
    BroadcastNestedLoopJoin — O(points x intervals), a 100 TB
    death sentence. The standard fix is banding: explode each interval
    into the fixed-width buckets it covers, bucket the points once, and
    equi-join on the bucket (hash join, AQE-sized), then re-check the
    exact predicate. A point lives in exactly ONE bucket, so no pair
    can match twice — no dedup pass needed.

    ``bin_width`` tunes fanout: buckets-per-interval ~= interval_len /
    bin_width (+1). Pick it near the median interval length — one or
    two buckets per interval, a constant-factor explode. Empty or
    inverted intervals (hi <= lo) match nothing (F.sequence DESCENDS
    when hi < lo — CLAUDE.md — so they are guarded out explicitly).

    Column name collisions between the two inputs must be resolved by
    the caller (select/alias first), like any Spark join."""
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    w = float(bin_width)
    p = points.withColumn(
        "_rj_bucket", F.floor(F.col(point_col) / F.lit(w)).cast("long")
    )
    lo, hi = F.col(lo_col), F.col(hi_col)
    iv = (
        intervals.where(hi > lo)
        .withColumn(
            "_rj_bucket",
            F.explode(
                F.sequence(
                    F.floor(lo / F.lit(w)).cast("long"),
                    F.floor(hi / F.lit(w)).cast("long"),
                )
            ),
        )
    )
    joined = p.join(iv, "_rj_bucket").where(
        (F.col(point_col) >= F.col(lo_col))
        & (F.col(point_col) < F.col(hi_col))
    )
    return joined.drop("_rj_bucket")


def time_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hypertable-style continuous aggregate: minute, hour, and day
    resolutions of (count, sum, min, max) in ONE aggregate pass via
    GROUP BY ROLLUP over the truncated-time hierarchy — instead of one
    job per resolution (the TimescaleDB continuous-aggregate shape,
    Spark-first: a single Expand feeds a single shuffle with partial
    aggregation).

      depth 3 = per-minute rows, 2 = per-hour, 1 = per-day,
      0 = the grand total; rolled-up key columns are NULL.

    Keys are emitted as explicit-format STRINGS (date_format) so they
    replay byte-identically in any engine; the value sum accumulates as
    two-part exact fixed-point integers (floor(v) / floor(frac·2^30+0.5)
    per row, DECIMAL(38,0) sums — order-independent AND engine/build-
    portable; a per-row double→DECIMAL(38,12) cast is the build-dependent
    trap of the rounds-2/3 driver failures, see functions/grid.py) and
    reconstructs to double once. NULL ts/value rows are excluded loudly
    (count them with a not_null check)."""
    from jsonschema_spark.functions.grid import fixed_parts, fixed_parts_total

    ts = F.col(ts_col)
    v = F.col(value_col).cast("double")
    base = df.where(ts.isNotNull() & v.isNotNull()).select(
        F.date_format(F.date_trunc("day", ts), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH").alias("hour"),
        F.date_format(F.date_trunc("minute", ts), "yyyy-MM-dd HH:mm").alias(
            "minute"
        ),
        v.alias("v"),
    )
    gid = F.grouping_id(F.col("day"), F.col("hour"), F.col("minute"))
    v_i, v_f = fixed_parts(F.col("v"))
    return (
        base.rollup("day", "hour", "minute")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v_i).alias("_sv_i"),
            F.sum(v_f).alias("_sv_f"),
            F.min("v").alias("value_min"),
            F.max("v").alias("value_max"),
            gid.alias("_gid"),
        )
        .select(
            "day",
            "hour",
            "minute",
            (F.lit(3)
             - F.log2(F.col("_gid").cast("double") + 1).cast("long"))
            .alias("depth"),
            "n",
            fixed_parts_total("_sv_i", "_sv_f").alias("value_sum"),
            "value_min",
            "value_max",
        )
    )
