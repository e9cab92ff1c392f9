"""Constraint suggestion: profile a table once, emit the check suite a
human would write (the Deequ ConstraintSuggestion face of the engine).

``column_suggestions`` computes per-column facts in TWO passes total —
one wide aggregate (row/null counts, numeric min/max) and one stacked
distinct pass (all columns through a single groupBy(column, value), the
distinctness_profile idiom; shuffle bounded by total distinct values)
— then derives suggestion rows with deterministic rules:

  not_null                 zero NULLs observed
  unique                   every non-NULL value distinct
  completeness_categories  2..category_max distinct values (an enum)
  mean_between [min, max]  numeric with real spread (> category_max)

``as_suite_config`` turns those rows into a runnable operators/suite
config (collecting the <= category_max expected values for enum columns
— bounded driver traffic, same stance as Deequ). The suggested suite is
PASSING BY CONSTRUCTION on the profiled table; its value is catching the
next batch that drifts. Rules are exact integer/comparison arithmetic,
so a DuckDB oracle replays every suggestion decision.

Reference parity note: the reference engine validates documents against
a HAND-WRITTEN schema; this operator closes the loop by drafting the
table-level contract from data.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

DEFAULT_CATEGORY_MAX = 12

# Fixed value-shape library (GE's expect_column_values_to_match_regex
# suggestions): the FIRST pattern every observed non-NULL value matches is
# suggested. RE2 ∩ java.regex subset, explicit classes (no \\d — engine
# defaults differ under unicode flags).
PATTERN_LIBRARY: tuple[tuple[str, str], ...] = (
    ("int_lexeme", r"^[+-]?[0-9]+$"),
    ("iso_date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("upper_code", r"^[A-Z]+$"),
    ("lower_snake", r"^[a-z_]+$"),
    ("word_digits", r"^[a-z]+[0-9]+$"),
)


def _is_numeric(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, _NUMERIC)


def column_suggestions(
    df: DataFrame,
    columns: Sequence[str],
    category_max: int = DEFAULT_CATEGORY_MAX,
) -> DataFrame:
    """Suggestion rows: (column, check_type, param_lo, param_hi). A
    column may yield several suggestions (unique implies not_null-able
    facts, etc.); ordering is by the output's own columns, so the set is
    deterministic."""
    # pass 1: ONE wide aggregate — total rows, per-column null counts,
    # numeric min/max as double
    def _is_string(c: str) -> bool:
        return isinstance(df.schema[c].dataType, T.StringType)

    aggs = [F.count(F.lit(1)).alias("__n_total")]
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        if _is_numeric(df, c):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
        if _is_string(c):
            for i, (_, pat) in enumerate(PATTERN_LIBRARY):
                # bool_and over non-NULL values: 1 iff every value matches
                aggs.append(
                    F.min(
                        F.when(F.col(c).isNotNull(),
                               F.col(c).rlike(pat).cast("int"))
                    ).alias(f"__rx{i}_{c}")
                )
    wide = df.agg(*aggs)

    def _rx(c: str, i: int):
        if _is_string(c):
            return F.coalesce(F.col(f"__rx{i}_{c}"), F.lit(0))
        return F.lit(0)

    facts_entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n_total").alias("n_total"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            (F.col(f"__mn_{c}") if _is_numeric(df, c)
             else F.lit(None).cast("double")).alias("mn"),
            (F.col(f"__mx_{c}") if _is_numeric(df, c)
             else F.lit(None).cast("double")).alias("mx"),
            F.lit(_is_numeric(df, c)).alias("is_num"),
            F.array(*[_rx(c, i) for i in range(len(PATTERN_LIBRARY))])
            .alias("rx"),
        )
        for c in columns
    ]
    facts = wide.select(F.explode(F.array(*facts_entries)).alias("f")).select(
        "f.*"
    )

    # pass 2: stacked distinct counts (all columns, one shuffle)
    stacked = [
        F.when(
            F.col(c).isNotNull(),
            F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("string").alias("value")),
        )
        for c in columns
    ]
    distinct = (
        df.select(F.explode(F.array(*stacked)).alias("e"))
        .where(F.col("e").isNotNull())
        .select("e.column", "e.value")
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("column")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    # full outer: an all-NULL column has no distinct rows but still has facts
    j = facts.join(distinct, "column", "left_outer").na.fill(
        {"n_distinct": 0}
    )

    cm = int(category_max)
    anchor = columns[0]
    no_s = F.lit(None).cast("string").alias("param_str")

    def _elem(ct, lo, hi, ps=None):
        return F.struct(
            F.lit(ct).alias("check_type"),
            lo.alias("param_lo"),
            hi.alias("param_hi"),
            (ps if ps is not None else F.lit(None).cast("string"))
            .alias("param_str"),
        )

    nul = F.lit(None).cast("double")
    # first library pattern every non-NULL value matched (ordered whens)
    pattern_lit = F.lit(None).cast("string")
    for i, (_, pat) in reversed(list(enumerate(PATTERN_LIBRARY))):
        pattern_lit = F.when(F.col("rx")[i] == 1, F.lit(pat)).otherwise(
            pattern_lit
        )
    sugg = F.array(
        # table-level size floor (Deequ's hasSize suggestion): emitted once,
        # anchored to the first profiled column; half the observed rows is
        # the catastrophic-drop tripwire, not a tight bound
        F.when(
            (F.col("column") == anchor) & (F.col("n_total") > 0),
            _elem("row_count", F.floor(F.col("n_total") / 2).cast("double"),
                  nul),
        ),
        F.when(
            (F.col("n_total") > 0) & (F.col("n_nonnull") == F.col("n_total")),
            _elem("not_null", nul, nul),
        ),
        F.when(
            (F.col("n_nonnull") > 0)
            & (F.col("n_distinct") == F.col("n_nonnull")),
            _elem("unique", nul, nul),
        ),
        F.when(
            (F.col("n_distinct") >= 2) & (F.col("n_distinct") <= cm),
            _elem("completeness_categories",
                  F.col("n_distinct").cast("double"), nul),
        ),
        # the reverse-direction enum gate: no NEW category may appear
        F.when(
            (F.col("n_distinct") >= 2) & (F.col("n_distinct") <= cm),
            _elem("values_in_set",
                  F.col("n_distinct").cast("double"), nul),
        ),
        F.when(
            F.col("is_num") & (F.col("n_distinct") > cm),
            _elem("mean_between", F.col("mn"), F.col("mx")),
        ),
        # Benford candidate: strictly-positive high-cardinality numerics
        # spanning >= 2 decades (first-digit law only emerges on
        # multi-magnitude data); the drafted threshold is measured from
        # the data in as_suite_config so the suite passes on its source
        F.when(
            F.col("is_num") & (F.col("n_distinct") > cm)
            & (F.col("mn") > 0) & (F.col("mx") >= 100 * F.col("mn")),
            _elem("benford", nul, nul),
        ),
        F.when(
            (F.col("n_nonnull") > 0) & pattern_lit.isNotNull(),
            _elem("matches_regex", nul, nul, pattern_lit),
        ),
    )
    return (
        j.select("column", F.explode(sugg).alias("s"))
        .where(F.col("s").isNotNull())
        .select(
            F.when(F.col("s")["check_type"] == "row_count", F.lit("*"))
            .otherwise(F.col("column")).alias("column"),
            F.col("s")["check_type"].alias("check_type"),
            F.col("s")["param_lo"].alias("param_lo"),
            F.col("s")["param_hi"].alias("param_hi"),
            F.col("s")["param_str"].alias("param_str"),
        )
    )


def as_suite_config(
    df: DataFrame,
    suggestions: DataFrame,
    table: str = "t",
    category_max: int = DEFAULT_CATEGORY_MAX,
) -> dict:
    """Materialize suggestion rows into a runnable suite config. Collects
    the expected-value list for enum columns (<= category_max values per
    column — bounded driver traffic)."""
    rows = suggestions.collect()
    enum_cols = sorted(
        {r["column"] for r in rows
         if r["check_type"] in ("completeness_categories", "values_in_set")}
    )
    expected: dict[str, list] = {}
    for c in enum_cols:
        vals = [
            r[0]
            for r in df.select(F.col(c).cast("string"))
            .where(F.col(c).isNotNull())
            .distinct()
            .collect()
        ]
        if len(vals) > category_max:  # raced profile vs now — stay bounded
            vals = vals[: category_max]
        expected[c] = sorted(vals)
    checks = []
    for r in sorted(rows, key=lambda r: (r["column"], r["check_type"])):
        c, ct = r["column"], r["check_type"]
        name = f"{c}_{ct}"
        if ct == "not_null":
            checks.append({"type": "not_null", "name": name, "table": table,
                           "column": c})
        elif ct == "unique":
            checks.append({"type": "unique", "name": name, "table": table,
                           "keys": [c]})
        elif ct == "completeness_categories":
            checks.append({"type": "completeness_categories", "name": name,
                           "table": table, "column": c,
                           "expected": expected[c]})
        elif ct == "values_in_set":
            checks.append({"type": "values_in_set", "name": name,
                           "table": table, "column": c,
                           "expected": expected[c],
                           "max_unexpected_rate": 0.0})
        elif ct == "mean_between":
            checks.append({"type": "mean_between", "name": name,
                           "table": table, "column": c,
                           "min_mean": r["param_lo"],
                           "max_mean": r["param_hi"]})
        elif ct == "row_count":
            checks.append({"type": "row_count", "name": f"{table}_row_count",
                           "table": table,
                           "min_rows": int(r["param_lo"])})
        elif ct == "matches_regex":
            checks.append({"type": "matches_regex", "name": name,
                           "table": table, "column": c,
                           "pattern": r["param_str"],
                           "max_violation_rate": 0.0})
        elif ct == "benford":
            # measured conformity, ceiled to 3 decimals (must-pass-on-
            # draft-data stance); a column that is NOT currently
            # Benford-ish still gets its measured band — the check then
            # gates drift AWAY from the observed distribution shape
            mad = _measured_benford_mad(df, c)
            checks.append({"type": "benford", "name": name,
                           "table": table, "column": c,
                           "max_mad": math.ceil(mad * 1000) / 1000})
    audio = _audio_shape(df)
    if audio is not None:
        payload, id_col, sr_col, dur_col = audio
        rate = _measured_decode_rate(df, payload, id_col, sr_col, dur_col)
        # floor to 3 decimals: the drafted suite must PASS on the data it
        # was drafted from, while still gating regressions
        checks.append({
            "type": "audio_decode", "name": f"{table}_audio_decode",
            "table": table, "payload_col": payload, "id_col": id_col,
            "sr_col": sr_col, "dur_col": dur_col,
            "min_pass_rate": math.floor(rate * 1000) / 1000,
        })
        srate = _measured_silent_rate(df, payload, id_col, sr_col)
        # ceil to 3 decimals (same must-pass-on-draft-data stance as the
        # decode floor, mirrored for an upper bound)
        checks.append({
            "type": "audio_silence", "name": f"{table}_audio_silence",
            "table": table, "payload_col": payload, "id_col": id_col,
            "sr_col": sr_col,
            "max_silent_rate": math.ceil(srate * 1000) / 1000,
        })
        hrate = _measured_hum_rate(df, payload, sr_col)
        checks.append({
            "type": "audio_hum", "name": f"{table}_audio_hum",
            "table": table, "payload_col": payload, "sr_col": sr_col,
            "max_violation_rate": math.ceil(hrate * 1000) / 1000,
        })
        prate = _measured_pitch_rate(df, payload, sr_col)
        checks.append({
            "type": "audio_pitch", "name": f"{table}_audio_pitch",
            "table": table, "payload_col": payload, "sr_col": sr_col,
            "max_violation_rate": math.ceil(prate * 1000) / 1000,
        })
        strate = _measured_stereo_rate(df, payload)
        checks.append({
            "type": "audio_stereo", "name": f"{table}_audio_stereo",
            "table": table, "payload_col": payload,
            "max_violation_rate": math.ceil(strate * 1000) / 1000,
        })
        tnrate = _measured_tonality_rate(df, payload, sr_col)
        checks.append({
            "type": "audio_tonality", "name": f"{table}_audio_tonality",
            "table": table, "payload_col": payload, "sr_col": sr_col,
            "max_violation_rate": math.ceil(tnrate * 1000) / 1000,
        })
        arate = _measured_artifact_rate(df, payload, sr_col)
        checks.append({
            "type": "audio_artifacts",
            "name": f"{table}_audio_artifacts",
            "table": table, "payload_col": payload, "sr_col": sr_col,
            "max_violation_rate": math.ceil(arate * 1000) / 1000,
        })
        snrate = _measured_snr_rate(df, payload, sr_col)
        checks.append({
            "type": "audio_snr", "name": f"{table}_audio_snr",
            "table": table, "payload_col": payload, "sr_col": sr_col,
            "max_violation_rate": math.ceil(snrate * 1000) / 1000,
        })
        if isinstance(
            dict(
                (f.name, f.dataType) for f in df.schema.fields
            ).get("codec"),
            T.StringType,
        ):
            crate = _measured_codec_rate(df, payload, "codec")
            checks.append({
                "type": "audio_codec", "name": f"{table}_audio_codec",
                "table": table, "payload_col": payload,
                "codec_col": "codec",
                "max_violation_rate": math.ceil(crate * 1000) / 1000,
            })
        # compressed-container corpora: draft the packet-level framing
        # gates when the codec column says the corpus is opus/vorbis
        # (one cheap distinct over the codec labels)
        if "codec" in df.columns:
            codecs = {
                r["codec"]
                for r in df.select("codec").distinct().collect()
                if r["codec"]
            }
            for cname, ctype in (
                ("opus", "opus_packets"), ("vorbis", "vorbis_packets"),
                ("aac", "adts"), ("mp3", "mp3_sideinfo"),
            ):
                if codecs == {cname}:
                    prate = _measured_packet_rate(df, payload, ctype)
                    checks.append({
                        "type": ctype, "name": f"{table}_{ctype}",
                        "table": table, "payload_col": payload,
                        "max_violation_rate": math.ceil(prate * 1000) / 1000,
                    })
        types = dict((f.name, f.dataType) for f in df.schema.fields)
        if isinstance(types.get("transcript"), T.StringType) and (
            "dur_ms" in types
        ):
            ctcrate = _measured_ctc_rate(df, sr_col, "dur_ms")
            checks.append({
                "type": "ctc_feasible", "name": f"{table}_ctc_feasible",
                "table": table, "transcript_col": "transcript",
                "sr_col": sr_col, "dur_col": "dur_ms",
                "max_violation_rate": math.ceil(ctcrate * 1000) / 1000,
            })
    return {"checks": checks}


def _measured_benford_mad(df: DataFrame, column: str) -> float:
    """Observed Benford MAD of ``column`` (one aggregate; driver gets
    one scalar)."""
    from jsonschema_spark.operators.stats import benford_report

    row = benford_report(df, column).agg(F.avg("abs_dev").alias("m")).first()
    return float(row["m"]) if row["m"] is not None else 1.0


def _audio_shape(df: DataFrame) -> tuple[str, str, str, str] | None:
    """Detect the engine's audio-table shape (input_hint: clip_id string,
    bytes binary, sr_hz int, dur_ms int) by name + type; None otherwise."""
    names = {f.name: f.dataType for f in df.schema.fields}
    if (
        isinstance(names.get("bytes"), T.BinaryType)
        and isinstance(names.get("clip_id"), T.StringType)
        and "sr_hz" in names
        and "dur_ms" in names
    ):
        return ("bytes", "clip_id", "sr_hz", "dur_ms")
    return None


def _measured_hum_rate(df: DataFrame, payload: str, sr_col: str) -> float:
    """Current mains-hum/DC violating fraction at the default gate
    thresholds — the ceiling the drafted audio_hum check is anchored
    to (must-pass-on-draft-data stance)."""
    from jsonschema_spark.functions.audio import audio_hum, hum_gates

    g = hum_gates(audio_hum(payload, sr_col))
    row = df.agg(
        F.avg((~g["hum_ok"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_pitch_rate(df: DataFrame, payload: str, sr_col: str) -> float:
    """Current not-speechlike fraction at the default pitch-gate
    thresholds — the ceiling the drafted audio_pitch check is anchored
    to (must-pass-on-draft-data stance)."""
    from jsonschema_spark.functions.pitch import audio_pitch, pitch_gates

    g = pitch_gates(audio_pitch(payload, sr_col))
    row = df.agg(
        F.avg((~g["speechlike"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_stereo_rate(df: DataFrame, payload: str) -> float:
    """Current stereo-integrity violating fraction at the default gate
    thresholds — the ceiling the drafted audio_stereo check is anchored
    to (must-pass-on-draft-data stance)."""
    from jsonschema_spark.functions.stereo import audio_stereo, stereo_gates

    g = stereo_gates(audio_stereo(payload))
    row = df.agg(
        F.avg((~g["stereo_ok"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_ctc_rate(df: DataFrame, sr_col: str, dur_col: str) -> float:
    """Current CTC-infeasible fraction (metadata-only) — the ceiling
    the drafted ctc_feasible check is anchored to (must-pass-on-
    draft-data stance)."""
    from jsonschema_spark.functions.fbank import ctc_feasibility

    gated = ctc_feasibility(df, sr_col=sr_col, dur_col=dur_col)
    row = gated.agg(
        F.avg((~F.col("ctc_ok")).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_tonality_rate(df: DataFrame, payload: str, sr_col: str) -> float:
    """Current spectral-screen violating fraction at the default gate
    thresholds — the ceiling the drafted audio_tonality check is
    anchored to (must-pass-on-draft-data stance)."""
    from jsonschema_spark.functions.tonality import (
        audio_tonality,
        tonality_gates,
    )

    g = tonality_gates(audio_tonality(payload, sr_col))
    row = df.agg(
        F.avg((~g["spectral_ok"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_artifact_rate(
    df: DataFrame, payload: str, sr_col: str
) -> float:
    """Current dropout/click violating fraction — the ceiling the
    drafted audio_artifacts check is anchored to (must-pass-on-
    draft-data stance)."""
    from jsonschema_spark.functions.dropouts import (
        artifact_gates,
        audio_artifacts,
    )

    g = artifact_gates(audio_artifacts(payload, sr_col))
    row = df.agg(
        F.avg((~g["artifact_ok"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_snr_rate(df: DataFrame, payload: str, sr_col: str) -> float:
    """Current reference-free-SNR violating fraction at the default
    gate threshold — the ceiling the drafted audio_snr check is
    anchored to (must-pass-on-draft-data stance)."""
    from jsonschema_spark.functions.snrest import audio_snr_est, snr_gates

    g = snr_gates(audio_snr_est(payload, sr_col))
    row = df.agg(
        F.avg((~g["snr_ok"]).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_codec_rate(df: DataFrame, payload: str, codec_col: str) -> float:
    """Current codec-label disagreement fraction — the ceiling the
    drafted audio_codec check is anchored to (must-pass-on-draft-data
    stance)."""
    from jsonschema_spark.functions.containers import (
        audio_container_profile,
        codec_match_gate,
    )

    ok = codec_match_gate(audio_container_profile(payload), codec_col)
    row = df.agg(F.avg((~ok).cast("double")).alias("r")).first()
    return float(row["r"]) if row["r"] is not None else 1.0


def _measured_silent_rate(
    df: DataFrame, payload: str, id_col: str, sr_col: str
) -> float:
    """Current silent-window fraction over decodable segments (the
    segmentation fan-out + energy hop) — the ceiling the drafted
    audio_silence check is anchored to."""
    from pyspark.sql import functions as F  # local alias parity

    from jsonschema_spark.operators.segments import (
        segment_auto,
        segment_energy,
    )

    if "codec" not in df.columns:
        df = df.withColumn("codec", F.lit(None).cast("string"))
    seg = segment_energy(
        segment_auto(
            df, segment_ms=250, id_col=id_col, payload_col=payload,
            sr_col=sr_col,
        )
    )
    row = (
        seg.where(F.col("seg_idx").isNotNull())
        .agg(
            F.avg(
                F.coalesce(F.col("silent"), F.lit(False)).cast("double")
            ).alias("r")
        )
        .collect()[0]
    )
    return 0.0 if row["r"] is None else float(row["r"])


def _measured_decode_rate(
    df: DataFrame, payload: str, id_col: str, sr_col: str, dur_col: str
) -> float:
    """Current decode-ok fraction (one Arrow hop, one aggregate) — the
    floor the drafted audio_decode check is anchored to."""
    from jsonschema_spark.functions.audio import audio_decode_profile

    prof = df.select(
        audio_decode_profile(payload, id_col, sr_col, dur_col).alias("p")
    )
    row = prof.agg(
        F.avg(F.col("p.n_samples").isNotNull().cast("double")).alias("r")
    ).collect()[0]
    return 1.0 if row["r"] is None else float(row["r"])


def _measured_packet_rate(df: DataFrame, payload: str, ctype: str) -> float:
    """Current packet/frame-walk failure fraction — the ceiling the
    drafted opus_packets / vorbis_packets / adts / mp3_sideinfo check
    is anchored to."""
    from jsonschema_spark.operators.suite import WALKER_CHECKS

    g = WALKER_CHECKS[ctype](payload)
    row = df.select(g["ok"].alias("_ok")).agg(
        F.avg((~F.col("_ok")).cast("double")).alias("r")
    ).first()
    return float(row["r"]) if row["r"] is not None else 1.0
