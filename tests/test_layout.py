"""File-layout health (operators/layout.py): small-file profile +
min/max data-skipping effectiveness + Z-order clustering."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.layout import (
    cluster_zordered,
    compaction_plan,
    compaction_report,
    file_profile,
    layout_report,
    zorder_key,
)
from jsonschema_spark.sources.layouts import (
    LAYOUT_FILES,
    LAYOUT_N,
    LAYOUT2D_FILES,
    layout_corpus,
    synth_layout,
    synth_layout_2d,
)


def exchange_count(df) -> int:
    """Number of shuffle exchanges in the executed plan (AQE prints the
    plan twice — final + initial — so count on the final section only)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return final.count("Exchange hashpartitioning") + final.count(
        "Exchange rangepartitioning"
    )


def _py_zorder(vals, bits):
    z = 0
    m = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * m + j)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = (
        spark.range(512)
        .select(
            (F.col("id") % 16).alias("a"),
            ((F.col("id") / 16).cast("long") % 8).alias("b"),
            (F.col("id") % 5).alias("c"),
        )
        .select("a", "b", "c", zorder_key(["a", "b", "c"], 4).alias("z"))
        .collect()
    )
    for r in rows:
        assert r["z"] == _py_zorder([r["a"], r["b"], r["c"]], 4)


def test_zorder_key_is_bijective_on_complete_grid(spark):
    """bits=7 over a full 128x128 grid: z is a permutation of [0, 2^14)."""
    agg = (
        spark.range(128 * 128)
        .select(
            (F.col("id") % 128).alias("k1"),
            (F.col("id") / 128).cast("long").alias("k2"),
        )
        .select(zorder_key(["k1", "k2"], 7).alias("z"))
        .agg(
            F.countDistinct("z").alias("d"),
            F.min("z").alias("lo"),
            F.max("z").alias("hi"),
        )
        .collect()[0]
    )
    assert (agg["d"], agg["lo"], agg["hi"]) == (128 * 128, 0, 128 * 128 - 1)


def test_zorder_key_validates_args(spark):
    with pytest.raises(ValueError):
        zorder_key([], 4)
    with pytest.raises(ValueError):
        zorder_key(["a", "b"], 32)  # 64 bits > 63


def test_zorder_layout_prunes_both_dims(spark):
    """The remediation story: sort prunes only k1; z-order gives tight
    ranges on BOTH dims (4x4 tiling -> only same-row/col tiles overlap)."""
    srt, _ = layout_corpus(spark, synth_layout_2d, "sort")
    zo, _ = layout_corpus(spark, synth_layout_2d, "zorder")
    pairs = LAYOUT2D_FILES * (LAYOUT2D_FILES - 1) // 2  # 120
    expect = {
        ("sort", "k1"): 0,
        ("sort", "k2"): pairs,
        # 4 tile-rows / 4 tile-cols of 4 tiles: 4 * C(4,2) = 24 pairs each
        ("zorder", "k1"): 24,
        ("zorder", "k2"): 24,
    }
    for mode, df in (("sort", srt), ("zorder", zo)):
        for dim in ("k1", "k2"):
            rep = layout_report(df, dim).collect()[0]
            assert rep["n_files"] == LAYOUT2D_FILES
            assert rep["total_pairs"] == pairs
            assert rep["overlap_pairs"] == expect[(mode, dim)], (mode, dim)


def test_layout_report_range_vs_hash(spark):
    """The whole point: a range-clustered layout prunes (overlap 0), a
    hash-interleaved one doesn't (overlap 1) — same logical table."""
    rng, _ = layout_corpus(spark, synth_layout, "range")
    hsh, _ = layout_corpus(spark, synth_layout, "hash")
    r = layout_report(rng, "k").collect()[0]
    h = layout_report(hsh, "k").collect()[0]
    for rep in (r, h):
        assert rep["n_files"] == LAYOUT_FILES
        assert rep["n_rows"] == LAYOUT_N
        assert rep["total_pairs"] == LAYOUT_FILES * (LAYOUT_FILES - 1) // 2
        assert rep["avg_file_rows"] == LAYOUT_N / LAYOUT_FILES
    assert r["overlap_pairs"] == 0 and r["overlap_fraction"] == 0.0
    assert h["overlap_pairs"] == h["total_pairs"]
    assert h["overlap_fraction"] == 1.0
    assert r["row_skew"] == 1.0  # equal buckets by construction


def test_file_profile_shape(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    d = str(tmp_path / "t")
    df.repartition(4).write.parquet(d)
    prof = file_profile(spark.read.parquet(d), ["k", "v"]).collect()
    assert len(prof) == 4
    assert sum(r["n_rows"] for r in prof) == 100
    assert all(r["file"].endswith(".parquet") and not
               r["file"].startswith("file:") for r in prof)
    assert len({r["file"] for r in prof}) == 4
    assert min(r["min_k"] for r in prof) == 0
    assert max(r["max_k"] for r in prof) == 99
    assert all(0 <= r["min_v"] <= r["max_v"] <= 9 for r in prof)


def _py_rolling_pack(sizes, target):
    """Independent replay of the cumulative-quota grouping."""
    grps = {}
    cum = 0
    for s in sorted(sizes, reverse=True):
        grps.setdefault(cum // target, []).append(s)
        cum += s
    return grps


def test_compaction_plan_matches_python_replay(spark):
    geo, _ = layout_corpus(spark, synth_layout, "geo")
    plan = compaction_plan(geo, 1000).collect()
    sizes = [r["n_rows"] for r in plan]
    assert sorted(sizes, reverse=True)[:4] == [8192, 4096, 3617, 2048]
    expect = _py_rolling_pack(sizes, 1000)
    got = {}
    for r in plan:
        got.setdefault(r["grp"], []).append(r["n_rows"])
    assert {g: sorted(v) for g, v in got.items()} == {
        g: sorted(v) for g, v in expect.items()
    }


def test_compaction_report_geo(spark):
    geo, _ = layout_corpus(spark, synth_layout, "geo")
    rep = compaction_report(geo, 1000).collect()[0]
    # bucket b holds [2^b - 1, 2^(b+1) - 1): sizes 1..8192, tail 3617
    sizes = [2**b for b in range(14)] + [20_000 - (2**14 - 1)]
    expect = _py_rolling_pack(sizes, 1000)
    assert rep["n_files"] == len(sizes)
    assert rep["total_rows"] == 20_000
    assert rep["small_files"] == sum(1 for s in sizes if s < 1000)
    assert rep["n_groups"] == len(expect)
    assert rep["max_group_rows"] == max(sum(v) for v in expect.values())
    assert rep["avg_group_fill"] == 20_000 / (len(expect) * 1000)


def test_compaction_report_already_compact(spark, tmp_path):
    """Uniform at-target files: every file its own group, fill 1.0."""
    d = str(tmp_path / "flat")
    (
        spark.range(4000)
        .select(F.col("id").alias("k"), (F.col("id") % 4).alias("_b"))
        .repartition(4, "_b")
        .write.partitionBy("_b")
        .parquet(d)
    )
    rep = compaction_report(spark.read.parquet(d), 1000).collect()[0]
    assert rep["n_files"] == 4
    assert rep["small_files"] == 0
    assert rep["n_groups"] == 4
    assert rep["max_group_rows"] == 1000
    assert rep["avg_group_fill"] == 1.0


def test_cluster_zordered_rewrite_improves_layout(spark, tmp_path):
    """The full advisor -> action loop: an unclustered (hash-interleaved)
    table diagnosed at overlap 1.0 on both dims is rewritten with
    cluster_zordered and re-diagnosed with tight per-file ranges."""
    hsh, _ = layout_corpus(spark, synth_layout_2d, "zorder")  # rows, any layout
    src = str(tmp_path / "unclustered")
    # hash-interleave rows across files: worst-case layout on both dims
    (
        hsh.withColumn("_b", (F.col("k1") * 131 + F.col("k2")) % 16)
        .repartition(16, "_b")
        .write.partitionBy("_b")
        .parquet(src)
    )
    bad = spark.read.parquet(src)
    for dim in ("k1", "k2"):
        assert layout_report(bad, dim).collect()[0]["overlap_fraction"] == 1.0
    dst = str(tmp_path / "clustered")
    cluster_zordered(bad.select("k1", "k2"), ["k1", "k2"], 64, bits=7) \
        .write.parquet(dst)
    good = spark.read.parquet(dst)
    rows = good.count()
    assert rows == 128 * 128
    for dim in ("k1", "k2"):
        rep = layout_report(good, dim).collect()[0]
        assert rep["n_rows"] == rows
        # range boundaries come from a distributed sample, so demand a
        # big drop (measured ~0.11 at 64 files) rather than an exact
        # tiling; the point is BOTH dims prune, which no single-column
        # sort achieves
        assert rep["overlap_fraction"] <= 0.3, dim


def test_layout_report_single_file(spark, tmp_path):
    """One file: no pairs, overlap_fraction 0 (nothing to prune against),
    not a division error."""
    d = str(tmp_path / "one")
    spark.range(10).select(F.col("id").alias("k")).coalesce(1).write.parquet(d)
    rep = layout_report(spark.read.parquet(d), "k").collect()[0]
    assert rep["n_files"] == 1
    assert rep["total_pairs"] == 0
    assert rep["overlap_fraction"] == 0.0


def test_bucketed_join_elides_exchanges(spark, tmp_path):
    from jsonschema_spark.operators.layout import write_bucketed

    left = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bk_left", "k", 8, sort_cols="k",
                   path=str(tmp_path / "l"))
    write_bucketed(right, "bk_right", "k", 8, sort_cols="k",
                   path=str(tmp_path / "r"))
    try:
        # force a sort-merge join so the exchange question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        bucketed = spark.table("bk_left").join(spark.table("bk_right"), "k")
        plain = left.join(right, "k")
        n_bucketed = exchange_count(bucketed)
        n_plain = exchange_count(plain)
        assert n_bucketed == 0, f"bucketed join still shuffles: {n_bucketed}"
        assert n_plain >= 2  # both sides of a plain SMJ shuffle
        # and the answers agree
        assert bucketed.count() == plain.count() == 5000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_bucketed_groupby_elides_exchange(spark, tmp_path):
    from jsonschema_spark.operators.layout import write_bucketed
    from pyspark.sql import functions as F

    df = spark.range(0, 4000).selectExpr("id % 97 AS k", "id AS v")
    write_bucketed(df, "bk_agg", "k", 4, path=str(tmp_path / "g"))
    try:
        agg = spark.table("bk_agg").groupBy("k").agg(F.sum("v").alias("s"))
        assert exchange_count(agg) == 0
        plain = df.groupBy("k").agg(F.sum("v").alias("s"))
        assert exchange_count(plain) >= 1
        assert agg.count() == 97
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_agg")
