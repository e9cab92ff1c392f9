"""The validation executor: apply a compiled constraint plan to a DataFrame.

Spark-first design notes (scale: 10^12 rows / 1000 executors):
- Every check is a boolean Column expression -> single scan, whole-stage
  codegen, zero shuffles for the violation pass.
- The violations DataFrame is built with array+explode (``_explode``) so
  only failing rows materialize structs; passing rows cost one codegen'd
  boolean vector each.
- The per-partition summary aggregates by ``spark_partition_id`` —
  partial aggregation happens map-side; the shuffle carries one row per
  (partition, check outcome), i.e. O(partitions), not O(rows).
- ``annotate`` returns the input plus `_valid`/`_violations` columns so a
  pipeline can persist once and derive both outputs without re-scanning.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from jsonschema_spark.functions.grid import grid_round

from jsonschema_spark.plans.compile import (
    CompiledSchema,
    CompileOptions,
    Extraction,
    compile_schema,
)
from jsonschema_spark.resolve import ResolveConfig
from jsonschema_spark.schema import Schema

VIOLATION_COLS = ("keyword_path", "keyword", "column", "message")


_APPLICATOR_2SEG = frozenset(
    {"properties", "patternProperties", "dependentSchemas", "$defs",
     "allOf", "anyOf", "oneOf", "prefixItems"}
)
_APPLICATOR_1SEG = frozenset(
    {"not", "if", "then", "else", "items", "contains",
     "additionalProperties", "propertyNames", "contentSchema",
     "unevaluatedProperties", "unevaluatedItems"}
)


def _schema_location_chain(ptr: str) -> list[str]:
    """Ancestor SUBSCHEMA locations of an assertion-keyword pointer, root
    ("") first, ending at the unit that directly holds the assertion —
    the static hierarchy the 2020-12 detailed/verbose output formats
    nest by. A check pointer's LAST segment is always the reporting
    keyword (``/allOf/0/if`` reports the ``if`` assertion AT the
    subschema ``/allOf/0``), so the walk covers the parent pointer only.
    Applicators with a name/index component consume two segments
    ("/properties/x", "/allOf/0"); bare-subschema applicators consume
    one ("/not", "/then"); an unrecognized segment stops the walk (a
    property literally NAMED "items" is covered by the two-segment rule
    first)."""
    segs = ptr.split("/")[1:-1] if ptr.startswith("/") else []
    units = [""]
    cur = ""
    i = 0
    while i < len(segs):
        s = segs[i]
        if s in _APPLICATOR_2SEG and i + 1 < len(segs):
            cur = f"{cur}/{s}/{segs[i + 1]}"
            units.append(cur)
            i += 2
        elif s in _APPLICATOR_1SEG:
            cur = f"{cur}/{s}"
            units.append(cur)
            i += 1
        else:
            break
    return units


def _explode(
    df: DataFrame, cols: Sequence, arr: Column | str, alias: str = "_v"
) -> DataFrame:
    """``df.select(*cols, explode(arr).alias(alias))`` without the filter
    Catalyst infers below a non-outer explode: ``size(arr) > 0``, pushed
    through the projection, carries a full copy of ``arr``'s expression
    (for ``_violations``, every compiled check and any content UDF), so
    each row evaluated it twice. An outer explode infers nothing; its
    empty-array row (NULL position) is dropped above the Generate."""
    x = df.select(*cols, F.posexplode_outer(arr).alias("_pos", alias))
    return x.filter(F.col("_pos").isNotNull()).drop("_pos")


@dataclass
class ValidationResult:
    annotated: DataFrame  # input + _valid boolean + _violations array
    compiled: CompiledSchema

    def violations(self, key_cols: Sequence[str]) -> DataFrame:
        """(key..., keyword_path, keyword, column, message) — one row per
        violated constraint per input row. Explode drops clean rows."""
        v = _explode(self.annotated, key_cols, "_violations")
        return v.select(*key_cols, *[F.col(f"_v.{c}").alias(c) for c in VIOLATION_COLS])

    def summary(self) -> DataFrame:
        """Per-partition pass/fail summary (north rule contract)."""
        return (
            self.annotated.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("_valid").cast("long")).alias("passed"),
                F.sum((~F.col("_valid")).cast("long")).alias("failed"),
                F.sum(F.size("_violations").cast("long")).alias("violation_count"),
            )
            .orderBy("partition_id")
        )

    def summary_by(
        self,
        group_cols: Sequence[str],
        salted: bool = False,
        salt_buckets: int = 64,
    ) -> DataFrame:
        """Pass/fail rollup grouped by natural keys (e.g. codec, sr_hz).

        ``salted`` = the north rule's hot-partition treatment: clips data is
        deliberately skewed (~70% of rows share one sr_hz), so the grouped
        aggregate runs two-phase — phase 1 on (keys, salt) fans the hot key
        over ``salt_buckets`` reducers with bounded partial state, phase 2
        merges partials per key. Counts/sums are algebraic, so results are
        identical either way (pinned by tests)."""
        cols = list(group_cols)
        aggs = lambda: [  # noqa: E731 — fresh Column objects per phase
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_valid").cast("long")).alias("passed"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
            F.sum(F.size("_violations").cast("long")).alias("violation_count"),
        ]
        if not salted:
            return self.annotated.groupBy(*cols).agg(*aggs()).orderBy(*cols)
        from jsonschema_spark.operators.uniqueness import salt_column

        partial = (
            self.annotated.withColumn("_salt", salt_column(salt_buckets))
            .groupBy(*cols, "_salt")
            .agg(*aggs())
        )
        return (
            partial.groupBy(*cols)
            .agg(
                F.sum("rows").alias("rows"),
                F.sum("passed").alias("passed"),
                F.sum("failed").alias("failed"),
                F.sum("violation_count").alias("violation_count"),
            )
            .orderBy(*cols)
        )

    def observed_annotated(self, observation) -> DataFrame:
        """Attach single-pass validation counters (rows / failed /
        violation_count) to the annotated frame via Spark's Observation
        API: the totals materialize as a SIDE EFFECT of the first action
        over the frame — a writer job gets its pass/fail report for zero
        extra jobs and zero extra scans. Read them with
        ``observation.get`` after that action completes. Place any
        ``persist()`` ABOVE this node so re-reads of the cache don't
        re-fire (or double-count) the metrics."""
        return self.annotated.observe(
            observation,
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
            F.sum(F.size("_violations").cast("long")).alias("violation_count"),
        )

    def summary_rollup(self, group_cols: Sequence[str]) -> DataFrame:
        """Multi-granularity pass/fail in ONE aggregate pass: GROUP BY
        ROLLUP over the key hierarchy emits every prefix level — (codec,
        sr_hz), (codec), and the grand total — from a single shuffle
        with partial aggregation, instead of one job per granularity.
        ``depth`` = how many leading keys are concrete on that row
        (0 = grand total); rolled-up key columns are NULL. The triage
        view: scan the coarse rows first, drill into the fine ones."""
        cols = list(group_cols)
        n = len(cols)
        gid = F.grouping_id(*[F.col(c) for c in cols])
        return (
            self.annotated.rollup(*cols)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("_valid").cast("long")).alias("passed"),
                F.sum((~F.col("_valid")).cast("long")).alias("failed"),
                F.sum(F.size("_violations").cast("long")).alias(
                    "violation_count"
                ),
                gid.alias("_gid"),
            )
            .select(
                *cols,
                # ROLLUP rolls up a SUFFIX of k keys -> gid = 2^k - 1, so
                # gid+1 is a power of two and log2 is exact in doubles
                (F.lit(n)
                 - F.log2(F.col("_gid").cast("double") + 1).cast("long"))
                .alias("depth"),
                "rows",
                "passed",
                "failed",
                "violation_count",
            )
        )

    def partition_health(
        self,
        group_cols: Sequence[str],
        k: float = 3.5,
        salted: bool = False,
        exact: bool = False,
    ) -> DataFrame:
        """Anomalous-slice detection: per-group violation RATE plus the
        Iglewicz-Hoaglin MAD-outlier verdict over the rates — "which
        codec/shard/day is statistically sicker than the fleet", the
        per-partition pass/fail summary made actionable.

        Composition, not new machinery: ``summary_by`` (two-phase salted
        option for hot keys) -> fail_rate -> median/MAD over the O(groups)
        summary (operators/stats.robust_center_spread; sketch default,
        ``exact=True`` for audits/oracles) -> modified z + flag. The stats
        frame is ONE row cross-joined back broadcast-style, so the whole
        report costs the summary aggregate plus O(groups) arithmetic —
        no window, no sort, no driver round-trip.

        ``modified_z`` is NULL and ``anomalous`` False when MAD == 0 (more
        than half the groups share one rate — the rule is undefined and
        flagging everything-or-nothing on noise would be worse than
        declining)."""
        from jsonschema_spark.operators.stats import robust_center_spread

        s = self.summary_by(group_cols, salted=salted)
        rates = s.select(
            *group_cols,
            "rows",
            "failed",
            grid_round(F.col("failed") / F.col("rows"), 9).alias("fail_rate"),
        )
        st = robust_center_spread(rates, "fail_rate", exact=exact)
        z = grid_round(
            F.lit(0.6745)
            * F.abs(F.col("fail_rate") - F.col("median"))
            / F.col("mad"),
            6,
        )
        return (
            rates.crossJoin(F.broadcast(st))
            .select(
                *group_cols,
                "rows",
                "failed",
                "fail_rate",
                F.when(F.col("mad") > 0, z).alias("modified_z"),
                F.coalesce(
                    (F.col("mad") > 0) & (z > F.lit(float(k))), F.lit(False)
                ).alias("anomalous"),
            )
            .orderBy(*group_cols)
        )

    def by_keyword(self, key_col: Optional[str] = None) -> DataFrame:
        """Violation rollup per (keyword_path, keyword, column), most-violated
        first — the triage report for a failed run.

        With ``key_col``, min/max example keys ride along. Examples are
        min/max rather than collect_set samples on purpose: aggregation
        state stays O(1) per group at 10^12 rows (collect_set would buffer
        every distinct key before any cap applied)."""
        keys = [F.col(key_col).alias("_k")] if key_col else []
        sel = _explode(self.annotated, keys, "_violations").select("*", "_v.*")
        aggs = [F.count(F.lit(1)).alias("violations")]
        if key_col:
            aggs += [
                F.min("_k").alias("example_min"),
                F.max("_k").alias("example_max"),
            ]
        return (
            sel.groupBy("keyword_path", "keyword", "column")
            .agg(*aggs)
            .orderBy(F.desc("violations"), "keyword_path", "column")
        )

    def examples(
        self,
        key_cols: Sequence[str],
        k: int = 5,
        salt_buckets: int = 64,
        seed: str = "ex1",
    ) -> DataFrame:
        """k deterministic example rows per violated (keyword_path, keyword,
        column) — the triage drill-down after ``by_keyword``: which actual
        rows exhibit each failure mode. Returns (keyword_path, keyword,
        column, key..., message, rank).

        Examples are ordered by the md5_60 hash of the key, so the picks
        are a stable uniform sample — identical under re-runs, task
        retries, and appends of later-hashing rows (and replayable by an
        external engine, which is how the oracle checks this exactly).

        Two-phase exact top-k for the 10^12-row shape: phase 1 ranks
        within (group, salt) and keeps k per salted partition, phase 2
        ranks only <= k * salt_buckets candidates per group. A hot keyword
        (most of the corpus violating one constraint) never funnels its
        full row set through one window reducer; the result is still exact
        because every global top-k row is in its own salt bucket's top-k.
        """
        from pyspark.sql import Window

        from jsonschema_spark.operators.sampling import sample_hash
        from jsonschema_spark.operators.uniqueness import salt_column

        grp = ["keyword_path", "keyword", "column"]
        flat = self.violations(key_cols).select(*grp, *key_cols, "message")
        u = sample_hash(
            F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]), seed
        )
        order = [u.asc()] + [F.col(c).asc() for c in key_cols]
        wp = Window.partitionBy(*grp, "_salt").orderBy(*order)
        wf = Window.partitionBy(*grp).orderBy(*order)
        partial = (
            flat.withColumn("_salt", salt_column(salt_buckets))
            .withColumn("_rk", F.row_number().over(wp))
            .filter(F.col("_rk") <= k)
            .drop("_rk", "_salt")
        )
        return partial.withColumn("rank", F.row_number().over(wf)).filter(
            F.col("rank") <= k
        )

    def flag_output(self, key_cols: Sequence[str]) -> DataFrame:
        """2020-12 "flag" output format (spec §12.4.1), relationally
        rendered: one row per instance, (key..., valid). Zero shuffles —
        the _valid column is already part of the annotated scan."""
        return self.annotated.select(*key_cols, F.col("_valid").alias("valid"))

    def basic_output_units(self, key_cols: Sequence[str]) -> DataFrame:
        """2020-12 "basic" output units (spec §12.4.2): the flat error list,
        one row per (instance, failed keyword) with the spec's field names —

        - ``keywordLocation``: JSON Pointer to the keyword in the compiled
          (post-$ref-inline) schema document — dynamic-scope-free by
          construction, which is exactly when the spec allows the relative
          pointer to stand alone.
        - ``absoluteKeywordLocation``: root ``$id`` + ``#`` + pointer when
          the document declares an ``$id`` (NULL otherwise).
        - ``instanceLocation``: JSON Pointer to the instance value (dotted
          column path rendered per RFC 6901, ``~``/``/`` escaped; "" = the
          whole instance).
        - ``error``: the human-readable message.

        Same plan shape as ``violations()`` — explode of the codegen'd
        violations array, no extra scan, no shuffle."""
        root_id = self.compiled.schema.id
        v = _explode(self.annotated, key_cols, "_violations")
        kw_loc = F.col("_v.keyword_path")
        abs_loc = (
            F.concat(F.lit(root_id), F.lit("#"), kw_loc)
            if root_id
            else F.lit(None).cast("string")
        )
        esc = F.regexp_replace(
            F.regexp_replace(F.col("_v.column"), "~", "~0"), "/", "~1"
        )
        inst_loc = F.when(
            F.col("_v.column") == "", F.lit("")
        ).otherwise(F.concat(F.lit("/"), F.regexp_replace(esc, "\\.", "/")))
        return v.select(
            *key_cols,
            kw_loc.alias("keywordLocation"),
            abs_loc.alias("absoluteKeywordLocation"),
            inst_loc.alias("instanceLocation"),
            F.col("_v.message").alias("error"),
        )

    def basic_output(self, key_cols: Sequence[str]) -> DataFrame:
        """2020-12 "basic" output documents, one row per instance:
        (key..., valid, errors array<struct>) — the relational rendering of
        the spec's single {valid, errors: [...]} object. Built from the
        annotated frame with transform() over the already-computed
        violations array (no explode, no shuffle, no re-scan)."""
        root_id = self.compiled.schema.id
        unit = lambda x: F.struct(  # noqa: E731
            x["keyword_path"].alias("keywordLocation"),
            (
                F.concat(F.lit(root_id), F.lit("#"), x["keyword_path"])
                if root_id
                else F.lit(None).cast("string")
            ).alias("absoluteKeywordLocation"),
            F.when(x["column"] == "", F.lit("")).otherwise(
                F.concat(
                    F.lit("/"),
                    F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace(x["column"], "~", "~0"), "/", "~1"
                        ),
                        "\\.",
                        "/",
                    ),
                )
            ).alias("instanceLocation"),
            x["message"].alias("error"),
        )
        return self.annotated.select(
            *key_cols,
            F.col("_valid").alias("valid"),
            F.transform("_violations", unit).alias("errors"),
        )

    def detailed_output_units(self, key_cols: Sequence[str]) -> DataFrame:
        """2020-12 "detailed" output (spec §12.4.3), relationally rendered:
        the evaluation hierarchy PRUNED to schema-location units that
        contain errors — one row per (failing instance, error-containing
        unit) with

        - ``keywordLocation``: JSON Pointer to the subschema unit;
        - ``parentLocation``: the unit's parent in the hierarchy (NULL at
          the root — the relational encoding of the spec's nesting);
        - ``absoluteKeywordLocation``: root ``$id`` + ``#`` + pointer
          when the document declares an ``$id``;
        - ``valid``: always false (detailed prunes passing units);
        - ``n_errors_direct``: assertion failures AT this unit;
        - ``n_errors_total``: failures at or below it.

        The unit set and each check's ancestor chain are STATIC (known at
        compile time), so the plan is: explode the codegen'd violations
        array -> map keyword_path to its ancestor-unit array via a
        literal map (driver-built, O(distinct checks)) -> explode ->
        one narrow groupBy((key..., unit)). No extra scan, no Python."""
        chains: dict[str, list[str]] = {}
        for c in self.compiled.checks:
            chains.setdefault(c.pointer, _schema_location_chain(c.pointer))
        root_id = self.compiled.schema.id

        map_items = []
        for ptr, units in chains.items():
            map_items.append(F.lit(ptr))
            map_items.append(F.array(*[F.lit(u) for u in units]))
        anc_map = F.create_map(*map_items)
        parent_items = []
        seen = set()
        for units in chains.values():
            for i, u in enumerate(units):
                if u not in seen:
                    seen.add(u)
                    parent_items.append(F.lit(u))
                    parent_items.append(
                        F.lit(units[i - 1]) if i else F.lit(None).cast("string")
                    )
        parent_map = F.create_map(*parent_items)

        v = _explode(self.annotated, key_cols, "_violations").select(
            *key_cols,
            F.element_at(anc_map, F.col("_v.keyword_path")).alias("_anc"),
        )
        du = F.element_at(F.col("_anc"), F.size("_anc")).alias("_du")
        x = _explode(v, [*key_cols, du], "_anc", "unit")
        g = x.groupBy(*key_cols, "unit").agg(
            F.count(F.lit(1)).alias("n_errors_total"),
            F.sum((F.col("unit") == F.col("_du")).cast("long")).alias(
                "n_errors_direct"
            ),
        )
        abs_loc = (
            F.concat(F.lit(root_id), F.lit("#"), F.col("unit"))
            if root_id
            else F.lit(None).cast("string")
        )
        return g.select(
            *key_cols,
            F.col("unit").alias("keywordLocation"),
            F.element_at(parent_map, F.col("unit")).alias("parentLocation"),
            abs_loc.alias("absoluteKeywordLocation"),
            F.lit(False).alias("valid"),
            "n_errors_direct",
            "n_errors_total",
        )

    def verbose_output_units(self, key_cols: Sequence[str]) -> DataFrame:
        """2020-12 "verbose" output (spec §12.4.4), relationally rendered:
        the FULL evaluation hierarchy — every schema-location unit for
        every instance, passing units included — one row per (instance,
        unit) with the same columns as :meth:`detailed_output_units` plus
        a real ``valid`` flag (detailed prunes passing units; verbose
        keeps them, so the output has exactly n_instances x n_units rows).

        Plan shape: the unit set and every check's ancestor chain are
        static, so each row contributes ONE concat of (a) its violations
        flattened through a literal pointer->ancestor-entries map and (b)
        a literal zero-weight entry per unit — a single explode + one
        narrow groupBy((key..., unit)). No join, no second scan of the
        annotated frame (referencing it twice would re-plan the whole
        validation upstream — see CLAUDE.md), no per-row Python."""
        chains: dict[str, list[str]] = {}
        for c in self.compiled.checks:
            chains.setdefault(c.pointer, _schema_location_chain(c.pointer))
        root_id = self.compiled.schema.id

        def entry(u: str, w: int, d: int) -> Column:
            return F.struct(
                F.lit(u).alias("u"),
                F.lit(w).alias("w"),
                F.lit(d).alias("d"),
            )

        map_items = []
        parent_items: list[Column] = []
        seen: set[str] = set()
        for ptr, units in chains.items():
            map_items.append(F.lit(ptr))
            map_items.append(
                F.array(*[
                    entry(u, 1, 1 if i == len(units) - 1 else 0)
                    for i, u in enumerate(units)
                ])
            )
            for i, u in enumerate(units):
                if u not in seen:
                    seen.add(u)
                    parent_items.append(F.lit(u))
                    parent_items.append(
                        F.lit(units[i - 1]) if i else F.lit(None).cast("string")
                    )
        anc_map = F.create_map(*map_items)
        parent_map = F.create_map(*parent_items)
        all_units = sorted(seen)
        zero_entries = F.array(*[entry(u, 0, 0) for u in all_units])

        entries = F.concat(
            F.flatten(
                F.transform(
                    F.col("_violations"),
                    lambda v: F.element_at(anc_map, v["keyword_path"]),
                )
            ),
            zero_entries,
        )
        x = _explode(self.annotated, key_cols, entries, "_e").select(
            *key_cols,
            F.col("_e.u").alias("unit"),
            F.col("_e.w").alias("_w"),
            F.col("_e.d").alias("_d"),
        )
        g = x.groupBy(*key_cols, "unit").agg(
            F.sum("_w").alias("n_errors_total"),
            F.sum("_d").alias("n_errors_direct"),
        )
        abs_loc = (
            F.concat(F.lit(root_id), F.lit("#"), F.col("unit"))
            if root_id
            else F.lit(None).cast("string")
        )
        return g.select(
            *key_cols,
            F.col("unit").alias("keywordLocation"),
            F.element_at(parent_map, F.col("unit")).alias("parentLocation"),
            abs_loc.alias("absoluteKeywordLocation"),
            (F.col("n_errors_total") == 0).alias("valid"),
            "n_errors_direct",
            "n_errors_total",
        )

    def totals(self) -> DataFrame:
        """Whole-table pass/fail rollup (single partial+final aggregate)."""
        return self.annotated.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_valid").cast("long")).alias("passed"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
            F.sum(F.size("_violations").cast("long")).alias("violation_count"),
        )


def validate(
    df: DataFrame,
    schema: Schema | str | dict,
    options: Optional[CompileOptions] = None,
    resolve_config: Optional[ResolveConfig] = None,
) -> ValidationResult:
    """Compile ``schema`` against ``df.schema`` and annotate ``df`` with
    validity + violations. Lazily evaluated; compose freely."""
    if isinstance(schema, str):
        schema = Schema.from_json(schema)
    elif isinstance(schema, dict):
        schema = Schema.from_value(schema)
    compiled = compile_schema(schema, df.schema, options, resolve_config)
    annotated = annotate(df, compiled.extractions, compiled.violations_array())
    return ValidationResult(annotated=annotated, compiled=compiled)


def annotate(
    df: DataFrame, extractions: Sequence[Extraction], violations: Column
) -> DataFrame:
    """``df`` + ``_violations`` + ``_valid``, with the compiled checks'
    variant extractions projected below them, one ``select`` per depth,
    and dropped above. Each extraction is read by several checks, so
    Catalyst keeps its projection instead of inlining the extraction into
    every check (a projection whose non-cheap outputs are referenced more
    than once does not collapse)."""
    for depth in sorted({e.depth for e in extractions}):
        df = df.select(
            "*", *[e.expr.alias(e.name) for e in extractions if e.depth == depth]
        )
    out = df.withColumn("_violations", violations).withColumn(
        "_valid", F.size("_violations") == 0
    )
    return out.drop(*[e.name for e in extractions]) if extractions else out


def violations(
    df: DataFrame,
    schema: Schema | str | dict,
    key_cols: Sequence[str],
    options: Optional[CompileOptions] = None,
) -> DataFrame:
    """One-shot helper: violation rows keyed by ``key_cols``."""
    return validate(df, schema, options).violations(key_cols)
