"""spark-submit entry point: one-shot table profile.

The "what is this table" front door composing the analyzer family:
per-column stats (nulls, min/max, distinct), value-distribution shape
(distinctness / unique-value ratio / entropy), exact-sum moments
(mean/stddev) for numeric columns, and key-skew verdicts for requested
shuffle-key candidates. Output: one long-format parquet report +
a JSON summary line.

    spark-submit --py-files jsonschema_spark.zip jobs/profile_job.py \\
        --input /data/orders --output /out/profile \\
        --skew-candidates o_custkey,o_orderstatus

Scale shape: column_stats is ONE wide aggregate; distinctness and
moments are one stacked pass each (shuffle bounded by distinct values /
n_columns); skew reports are one histogram chain per candidate. Nothing
here exceeds a handful of aggregates over the table.
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
from pyspark.sql import types as T  # noqa: E402

from jsonschema_spark.operators import stats  # noqa: E402
from jsonschema_spark.session import job_session  # noqa: E402

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
#: columns eligible for the distinctness/entropy pass — unbounded-payload
#: types (binary, deeply nested) are excluded
_PROFILABLE = (_NUMERIC + (T.StringType, T.BooleanType, T.DateType,
                           T.TimestampType, T.TimestampNTZType))


def profile_table(df, skew_candidates=None):
    """Long-format profile: (section, column, metric, value_str, value_num).
    Pure composition of the analyzer operators; returns a DataFrame."""
    sections = []

    def long_form(src, section, id_col, exclude=()):
        cols = [c for c in src.columns if c != id_col and c not in exclude]
        entries = [
            F.struct(
                F.lit(c).alias("metric"),
                F.col(c).cast("string").alias("value_str"),
                F.col(c).cast("string").try_cast("double").alias("value_num"),
            )
            for c in cols
            if isinstance(src.schema[c].dataType, _NUMERIC + (T.BooleanType,))
            or True  # keep all; value_num NULL where non-numeric
        ]
        return src.select(
            F.lit(section).alias("section"),
            F.col(id_col).cast("string").alias("column"),
            F.explode(F.array(*entries)).alias("e"),
        ).select("section", "column", "e.metric", "e.value_str", "e.value_num")

    profilable = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _PROFILABLE)
    ]
    numeric = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC)
    ]
    sections.append(long_form(stats.column_stats(df, profilable), "stats", "column"))
    if profilable:
        sections.append(
            long_form(stats.distinctness_profile(df, profilable), "shape", "column")
        )
    if numeric:
        sections.append(long_form(stats.moments(df, numeric), "moments", "column"))
    strings = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    if strings:
        # encoding health (operators/webtext): ONE wide aggregate across
        # all string columns — totals of the damage signatures plus the
        # damaged-row rate per column
        from jsonschema_spark.operators.webtext import encoding_profile

        aggs = []
        for c in strings:
            p = encoding_profile(F.col(c))
            bad = (
                (p["mojibake_count"] > 0)
                | (p["replacement_count"] > 0)
                | (p["control_count"] > 0)
            )
            aggs += [
                F.sum(p["mojibake_count"]).alias(f"__moj_{c}"),
                F.sum(p["replacement_count"]).alias(f"__rep_{c}"),
                F.sum(p["control_count"]).alias(f"__ctl_{c}"),
                F.sum(F.when(F.col(c).isNotNull() & bad, 1).otherwise(0))
                .alias(f"__bad_{c}"),
                F.count(F.col(c)).alias(f"__n_{c}"),
            ]
        wide = df.agg(*aggs)
        enc = wide.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"__moj_{c}").alias("mojibake_total"),
                        F.col(f"__rep_{c}").alias("replacement_total"),
                        F.col(f"__ctl_{c}").alias("control_total"),
                        (
                            F.col(f"__bad_{c}").cast("double")
                            / F.greatest(F.col(f"__n_{c}"), F.lit(1))
                        ).alias("bad_row_rate"),
                    )
                    for c in strings
                ])
            ).alias("e")
        ).select("e.*")
        sections.append(long_form(enc, "encoding", "column"))
    # audio payload health (engine input_hint shape: clip_id/bytes/sr_hz/
    # dur_ms): container-magic histogram (pure codegen), decode rate (one
    # Arrow hop) and dead-air rate over the segmentation fan-out
    from jsonschema_spark.operators.suggest import (
        _audio_shape,
        _measured_decode_rate,
        _measured_silent_rate,
    )

    audio = _audio_shape(df)
    if audio is not None:
        payload, id_col, sr_col, dur_col = audio
        pre = F.substring(F.col(payload), 1, 4)
        sniff = df.agg(
            F.avg((pre == F.lit(b"RIFF")).cast("double")).alias("riff"),
            F.avg((pre == F.lit(b"fLaC")).cast("double")).alias("flac"),
            F.avg(F.col(payload).isNull().cast("double")).alias("nul"),
        ).collect()[0]
        metrics = {
            "riff_frac": 0.0 if sniff["riff"] is None else sniff["riff"],
            "flac_frac": 0.0 if sniff["flac"] is None else sniff["flac"],
            "null_frac": 0.0 if sniff["nul"] is None else sniff["nul"],
            "decode_rate": _measured_decode_rate(
                df, payload, id_col, sr_col, dur_col
            ),
            "silent_seg_rate": _measured_silent_rate(
                df, payload, id_col, sr_col
            ),
        }
        # broadcast-loudness profile (BS.1770-4): median integrated LUFS,
        # measurable fraction, and the true-peak-over rate (> -1 dBTP,
        # the EBU R128 ceiling) — ONE Arrow hop + one aggregate
        from jsonschema_spark.functions.audio import audio_loudness

        l = audio_loudness(payload, sr_col)
        lrow = (
            df.select(
                l["lufs_integrated"].alias("_li"),
                l["true_peak_dbtp"].alias("_tp"),
            )
            .agg(
                F.avg(
                    (~F.isnan(F.coalesce(F.col("_li"), F.lit(float("nan")))))
                    .cast("double")
                ).alias("measurable"),
                F.median(
                    F.when(~F.isnan(F.col("_li")), F.col("_li"))
                ).alias("med_lufs"),
                F.avg(
                    F.coalesce(
                        ~F.isnan(F.col("_tp")) & (F.col("_tp") > -1.0),
                        F.lit(False),
                    ).cast("double")
                ).alias("tp_over"),
            )
            .collect()[0]
        )
        metrics["lufs_measurable_frac"] = float(lrow["measurable"] or 0.0)
        if lrow["med_lufs"] is not None:
            metrics["lufs_integrated_median"] = float(lrow["med_lufs"])
        metrics["true_peak_over_rate"] = float(lrow["tp_over"] or 0.0)
        # container-dispatch mix (one sniff routes every format: decode
        # for WAV/FLAC/AIFF/AU, frame/page walks for MP3/Ogg) and the
        # header-vs-column metadata agreement rate — ONE Arrow hop
        from jsonschema_spark.functions.containers import (
            audio_container_profile,
            container_meta_gates,
        )

        prof = df.select(
            F.col(sr_col), F.col(dur_col),
            audio_container_profile(payload).alias("_p"),
        )
        g = container_meta_gates(F.col("_p"), sr_col, dur_col)
        crow = prof.agg(
            F.avg(F.coalesce(F.col("_p.ok"), F.lit(False)).cast("double"))
            .alias("c_ok"),
            F.avg(g["meta_ok"].cast("double")).alias("meta"),
            F.avg(
                (F.col("_p.container") == F.lit("mp3")).cast("double")
            ).alias("mp3"),
            F.avg(
                (F.col("_p.container") == F.lit("ogg")).cast("double")
            ).alias("ogg"),
        ).collect()[0]
        metrics["container_ok_rate"] = float(crow["c_ok"] or 0.0)
        metrics["container_meta_ok_rate"] = float(crow["meta"] or 0.0)
        metrics["mp3_frac"] = float(crow["mp3"] or 0.0)
        metrics["ogg_frac"] = float(crow["ogg"] or 0.0)
        # mains-hum / DC screen: violating fraction at the default gates
        from jsonschema_spark.operators.suggest import _measured_hum_rate

        metrics["hum_dc_violation_rate"] = _measured_hum_rate(
            df, payload, sr_col
        )
        # pitch/voicing screen: not-speechlike fraction at default gates
        from jsonschema_spark.operators.suggest import _measured_pitch_rate

        metrics["not_speechlike_rate"] = _measured_pitch_rate(
            df, payload, sr_col
        )
        # stereo-integrity screen: dual-mono / out-of-phase / dead-
        # channel / undecodable fraction at default gates
        from jsonschema_spark.operators.suggest import _measured_stereo_rate

        metrics["stereo_violation_rate"] = _measured_stereo_rate(df, payload)
        # tonality screen: tone / static / silent fraction at default gates
        from jsonschema_spark.operators.suggest import (
            _measured_tonality_rate,
        )

        metrics["not_spectral_ok_rate"] = _measured_tonality_rate(
            df, payload, sr_col
        )
        # dropout/click screen: transport-damage fraction
        from jsonschema_spark.operators.suggest import (
            _measured_artifact_rate,
        )

        metrics["artifact_rate"] = _measured_artifact_rate(
            df, payload, sr_col
        )
        # reference-free SNR: too-noisy / silent / undecodable fraction
        from jsonschema_spark.operators.suggest import _measured_snr_rate

        metrics["low_snr_rate"] = _measured_snr_rate(df, payload, sr_col)
        # codec-label agreement: column metadata vs payload magic bytes
        if "codec" in df.columns:
            from jsonschema_spark.operators.suggest import (
                _measured_codec_rate,
            )

            metrics["codec_mismatch_rate"] = _measured_codec_rate(
                df, payload, "codec"
            )
        # CTC trainability: (frames, transcript) infeasible fraction
        if "transcript" in df.columns and "dur_ms" in df.columns:
            from jsonschema_spark.operators.suggest import (
                _measured_ctc_rate,
            )

            metrics["ctc_infeasible_rate"] = _measured_ctc_rate(
                df, sr_col, "dur_ms"
            )
        # compressed-container corpora: packet-framing failure fraction
        # (RFC 6716 / Vorbis I certification) when the codec column is
        # uniformly that codec
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
                    from jsonschema_spark.operators.suggest import (
                        _measured_packet_rate,
                    )

                    metrics[f"{cname}_packet_fail_rate"] = (
                        _measured_packet_rate(df, payload, ctype)
                    )
        spark = df.sparkSession
        sections.append(
            spark.createDataFrame(
                [("audio", payload, k, f"{v:.6f}", float(v))
                 for k, v in metrics.items()],
                "section string, column string, metric string, "
                "value_str string, value_num double",
            )
        )
    for c in skew_candidates or []:
        rep = stats.skew_report(df, c).withColumn("column", F.lit(c))
        sections.append(long_form(rep, "skew", "column"))

    out = sections[0]
    for s in sections[1:]:
        out = out.unionByName(s)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="input table (parquet path)")
    p.add_argument("--output", help="profile report output (parquet)")
    p.add_argument("--skew-candidates", help="comma-separated shuffle-key candidates")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    with job_session("jsonschema-spark-profile", args.master) as spark:
        df = spark.read.parquet(args.input)
        cands = (
            [c.strip() for c in args.skew_candidates.split(",") if c.strip()]
            if args.skew_candidates
            else []
        )
        report = profile_table(df, cands)
        if args.output:
            report.write.mode("overwrite").parquet(args.output)
            report = spark.read.parquet(args.output)
        rows = report.count()
        print(json.dumps({
            "columns": len(df.columns),
            "report_rows": rows,
            "sections": [r.section for r in report.select("section").distinct().collect()],
            "output": args.output,
        }))
        return 0


if __name__ == "__main__":
    sys.exit(main())
