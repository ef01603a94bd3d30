"""Round-14 optimization internals: the checkpointed setsim
shingle set, the size-derived window dispatch, and the streaming
conf-window concurrency guard. Each test pins the VALUE-preserving
property the optimization relies on plus the plan shape it claims."""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# setsim: the shingle set is checkpointed once; values unchanged
# ---------------------------------------------------------------------------


def test_setsim_checkpoint_runs_explode_once_and_preserves_values(
    spark, sf_dir
):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.plans.dedup_queries import _setsim_join

    d = load(spark, sf_dir, "documents")
    out_ck = _setsim_join(d, checkpoint=True)
    out_raw = _setsim_join(d, checkpoint=False)
    # the checkpointed plan reads the materialized shingle set: the
    # scan-side explode ran ONCE at build, so the final plan carries no
    # Generate (explode) and no parquet scan of documents
    plan = _plan(out_ck)
    assert "Generate" not in plan
    assert plan.count("Scan ExistingRDD") >= 1
    # un-checkpointed plan re-derives the explode per branch
    assert "Generate" in _plan(out_raw)
    assert out_ck.collect() == out_raw.collect()


# ---------------------------------------------------------------------------
# size-derived window dispatch: plain per-group window below the byte
# threshold, the range-partitioned scale shape above — identical values
# ---------------------------------------------------------------------------


def _dispatch_rows(monkeypatch, spark, sf_dir, qname, limit):
    from lakehouse_v3_spark.plans import load_all

    monkeypatch.setenv("SPARK_GRAFT_GROUP_WINDOW_BYTES", str(limit))
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


# ---------------------------------------------------------------------------
# streaming conf window: concurrent use fails loudly, value restored
# ---------------------------------------------------------------------------


def test_stream_run_partitions_rejects_concurrent_windows(spark):
    from lakehouse_v3_spark.plans.streaming_queries import (
        _stream_run_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with _stream_run_partitions(spark, 1):
        with pytest.raises(RuntimeError, match="concurrent session-conf"):
            with _stream_run_partitions(spark, 1):
                pass  # pragma: no cover
        # inner failure must not have clobbered the outer window
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
