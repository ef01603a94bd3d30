"""Partitioning helpers: the scan fan-out, the pinned grouped-Python
exchange, and the size-derived dispatch between a plain per-group window
and the range-partitioned scale shape. Each test pins the
VALUE-preserving property a helper relies on plus the plan or partition
shape it claims."""

from __future__ import annotations

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# fan_out_scan
# ---------------------------------------------------------------------------


def test_fan_out_scan_repartitions_single_file_layout(spark, sf_dir, tmp_path):
    from lakehouse_v3_spark.partitioning import fan_out_scan

    # one-file layout: fewer input files than the session parallelism
    src = str(tmp_path / "one_file")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert len(df.inputFiles()) == 1

    out = fan_out_scan(df, "k")
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == target
    # values unchanged, only placement
    assert sorted(r.k for r in out.collect()) == list(range(1000))
    # hash repartition (keyed), not round-robin: no sort-before-repartition
    assert "hashpartitioning(k" in _plan(out)


def test_fan_out_scan_noop_on_fanned_out_layout(spark, tmp_path):
    from lakehouse_v3_spark.partitioning import fan_out_scan

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = str(tmp_path / "many_files")
    spark.range(0, 1000).select(F.col("id").alias("k")).repartition(
        target
    ).write.parquet(src)
    df = spark.read.parquet(src)
    assert len(df.inputFiles()) >= target

    out = fan_out_scan(df, "k")
    assert out is df  # production layout: returned unchanged, no exchange


def test_fan_out_scan_keyless_falls_back_to_round_robin(spark, tmp_path):
    from lakehouse_v3_spark.partitioning import fan_out_scan

    src = str(tmp_path / "one_file_rr")
    spark.range(0, 100).coalesce(1).write.parquet(src)
    out = fan_out_scan(spark.read.parquet(src))
    assert "roundrobinpartitioning" in _plan(out).lower()
    assert out.count() == 100


# ---------------------------------------------------------------------------
# pin_grouped_python_parallelism
# ---------------------------------------------------------------------------


def test_pin_grouped_python_parallelism_single_exchange_full_width(spark):
    from lakehouse_v3_spark.partitioning import pin_grouped_python_parallelism

    df = spark.range(0, 10_000).select(
        (F.col("id") % 64).alias("g"), F.col("id").alias("v")
    )

    def med(pdf):
        return pdf.groupby("g", as_index=False).agg(m=("v", "median"))

    pinned = (
        pin_grouped_python_parallelism(df, "g")
        .groupBy("g")
        .applyInPandas(med, schema="g long, m double")
    )
    # exactly ONE exchange: the groupBy reuses the pinned repartition
    # (count in the simple plan, where each node prints once)
    simple = pinned._sc._jvm.PythonSQLUtils.explainString(
        pinned._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 1
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert "hashpartitioning(g#" in simple and f", {target})" in simple
    # values identical to the unpinned plan
    unpinned = df.groupBy("g").applyInPandas(med, schema="g long, m double")
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, unpinned.collect())
    )


# ---------------------------------------------------------------------------
# size-derived window dispatch: plain per-group window below the byte
# threshold, the range-partitioned scale shape above — identical values
# ---------------------------------------------------------------------------


def _dispatch_rows(monkeypatch, spark, sf_dir, qname, limit):
    from lakehouse_v3_spark import partitioning
    from lakehouse_v3_spark.plans import load_all

    monkeypatch.setattr(partitioning, "PER_GROUP_WINDOW_BYTES", limit)
    df = load_all()[qname].fn(spark, sf_dir)
    plan = _plan(df)
    rows = sorted(map(tuple, df.collect()))
    return rows, plan


def test_window_ntile_dispatch_paths_identical(monkeypatch, spark, sf_dir):
    small, plan_small = _dispatch_rows(
        monkeypatch, spark, sf_dir, "window_ntile_ranks", 1 << 40
    )
    big, plan_big = _dispatch_rows(
        monkeypatch, spark, sf_dir, "window_ntile_ranks", 0
    )
    assert small == big
    # plain path: a per-segment Window (ntile) plan; scale path: the
    # fused range-partition machinery collapses to a checkpoint scan
    assert "ntile" in plan_small
    assert "Scan ExistingRDD" in plan_big


def test_pack_sequences_dispatch_paths_identical(monkeypatch, spark, sf_dir):
    small, plan_small = _dispatch_rows(
        monkeypatch, spark, sf_dir, "pack_sequences_greedy", 1 << 40
    )
    big, plan_big = _dispatch_rows(
        monkeypatch, spark, sf_dir, "pack_sequences_greedy", 0
    )
    assert small == big
    assert "RunningWindowFunction" in plan_small or "Window" in plan_small
    assert "Scan ExistingRDD" in plan_big


def test_fits_per_group_window_unknown_input_uses_scale_shape(spark):
    from lakehouse_v3_spark.partitioning import fits_per_group_window

    # derived in-memory frame: size unknowable -> False (scale shape)
    df = spark.range(10).selectExpr("id", "id % 3 as g")
    assert fits_per_group_window(df) is False
