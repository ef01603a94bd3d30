"""Round-13 optimization internals: the partitioning helpers, the
id-free audit fact explode, and the scale-adaptive streaming state
partition rule. Each test pins the VALUE-preserving property the
optimization relies on plus the plan/partition shape it claims."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


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
# explode_results_to_fact(assign_ids=False)
# ---------------------------------------------------------------------------


def test_fact_explode_without_ids_matches_default_minus_id(spark, sf_dir):
    from lakehouse_v3_spark.audit.config import ValidityRule
    from lakehouse_v3_spark.audit.engine import run_validity_rules
    from lakehouse_v3_spark.audit.facts import explode_results_to_fact
    from lakehouse_v3_spark.io_utils import load

    tables = {"orders": load(spark, sf_dir, "orders")}
    rules = [
        ValidityRule(1, "orders", "o_totalprice <= 0", ("o_orderkey",)),
    ]
    results = run_validity_rules(spark, tables, rules)
    with_ids = explode_results_to_fact(results)
    without = explode_results_to_fact(results, assign_ids=False)

    assert "cd_fact_id" in with_ids.columns
    assert "cd_fact_id" not in without.columns
    cols = [c for c in with_ids.columns if c != "cd_fact_id"]
    assert sorted(map(tuple, with_ids.select(*cols).collect())) == sorted(
        map(tuple, without.select(*cols).collect())
    )
    # the point of the flag: no eager job (dense ids run counts +
    # localCheckpoint at build time, collapsing the plan to a bare RDD
    # scan) — the id-free plan must still be LAZY, i.e. carry the
    # explode (Generate) stage instead of a checkpoint scan
    assert "Generate" in _plan(without)
    assert "Generate" not in _plan(with_ids)


# ---------------------------------------------------------------------------
# _stream_state_partitions
# ---------------------------------------------------------------------------


def test_stream_state_partitions_scales_with_source_and_caps(spark):
    from lakehouse_v3_spark.plans.streaming_queries import (
        _stream_state_partitions,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny source: 1 partition, never 0
    assert _stream_state_partitions(spark, 1) == 1
    assert _stream_state_partitions(spark, 0) == 1
    # 512 KiB default per partition: 3 MB -> 6
    assert _stream_state_partitions(spark, 3 * 512 * 1024) == min(cap, 3)
    # huge source: capped at the session's configured parallelism
    assert _stream_state_partitions(spark, 2**63) == cap


def test_stream_run_partitions_restores_session_conf(spark):
    from lakehouse_v3_spark.plans.streaming_queries import (
        _stream_run_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with _stream_run_partitions(spark, 1) as n:
        assert n == 1
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with _stream_run_partitions(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_run_partitions_releases_lock_when_conf_set_raises(
    spark, failing_conf_session
):
    """A conf.set that throws inside __enter__ must not leave the window
    lock held (every later drain would then fail as 'concurrent') nor
    change the session conf."""
    from lakehouse_v3_spark.plans.streaming_queries import (
        _stream_run_partitions,
    )

    lock = _stream_run_partitions._lock
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="injected"):
        with _stream_run_partitions(failing_conf_session(1), 1):
            pass  # pragma: no cover
    free = lock.acquire(blocking=False)
    lock.release()  # ours, or the leaked hold: later tests need it free
    assert free, "window lock still held after __enter__ raised"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and the next window opens normally
    with _stream_run_partitions(spark, 1) as n:
        assert n == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
