"""Round-14 optimization internals: the RDD-blocks training iteration
(bit-equality vs the r13 DataFrame recipe), the checkpointed setsim
shingle set, the single-aggregate column profile, and the streaming
conf-window concurrency guard. Each test pins the VALUE-preserving
property the optimization relies on plus the plan shape it claims."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# train_blocks: one Lloyd / PQ iteration over numpy blocks must be
# bit-identical to the r13 DataFrame recipe (_lloyd_update / _pq_update)
# ---------------------------------------------------------------------------


def test_lloyd_blocks_iteration_matches_dataframe_recipe(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.ivf import _lloyd_update, _seed_cents
    from lakehouse_v3_spark.operators.train_blocks import (
        build_blocks,
        lloyd_partial_sums,
        make_round6,
        micro_mean,
    )

    k = 8
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_cents(e, k)
    dim = len(cents[0])
    blocks = build_blocks(e.repartition(4, "vec_id")).persist()
    round6 = make_round6(spark)
    try:
        # two lockstep iterations (the second exercises non-seed cents)
        for _ in range(2):
            rows = _lloyd_update(e, cents).collect()
            old = [[0.0] * dim for _ in range(k)]
            old_counts = [0] * k
            for r in rows:
                old[r["cid"]][r["dim"]] = float(r["component"])
                old_counts[r["cid"]] = int(r["n_assigned"])
            sums, counts = lloyd_partial_sums(blocks, cents)
            new = [
                [round6(micro_mean(sums[c][d], int(counts[c]))) for d in range(dim)]
                for c in range(k)
            ]
            assert [int(c) for c in counts] == old_counts
            assert new == old  # exact float equality, every component
            cents = new
    finally:
        blocks.unpersist()


def test_lloyd_component_exact_past_2_53_micro_units(spark):
    """Cell sums past 2^53 micro-units: the Lloyd component must equal
    Spark's own decimal(38,6) → double cast divided by the count (the
    _lloyd_update recipe), which ``int / 1e6`` misses by double
    rounding. Synthetic blocks: two well-separated cells whose micro
    matrix carries ~10^9-scale values."""
    from decimal import Decimal

    import numpy as np

    from lakehouse_v3_spark.operators.train_blocks import (
        lloyd_partial_sums,
        micro_mean,
    )

    rng = np.random.RandomState(7)
    dim = 16
    cents = [[0.0] * dim, [100.0] * dim]
    blocks = []
    for n_rows in (3, 4, 6):
        cell = rng.randint(0, 2, size=n_rows)
        M = cell[:, None] * 100.0 + rng.uniform(-1, 1, size=(n_rows, dim))
        Mm = rng.randint(2**53 // 8, 2**53 // 3, size=(n_rows, dim), dtype=np.int64)
        blocks.append((M, Mm))
    sums, counts = lloyd_partial_sums(spark.sparkContext.parallelize(blocks, 3), cents)
    assert int(sums.max()) > 2**53 and min(counts) > 0

    cells = [
        (c, d, str(Decimal(int(sums[c][d])).scaleb(-6)), int(counts[c]))
        for c in range(2)
        for d in range(dim)
    ]
    spark_vals = {
        (r.c, r.d): r.v
        for r in spark.createDataFrame(cells, "c int, d int, s string, n long")
        .selectExpr("c", "d", "CAST(CAST(s AS DECIMAL(38,6)) AS DOUBLE) / n AS v")
        .collect()
    }
    got = {(c, d): micro_mean(sums[c][d], int(counts[c])) for c, d, _, _ in cells}
    assert got == spark_vals
    # the data does exercise the double-rounding drift of int / 1e6
    assert any(
        (int(sums[c][d]) / 1e6) / int(counts[c]) != spark_vals[(c, d)]
        for c, d, _, _ in cells
    )


def test_pq_blocks_iteration_matches_dataframe_recipe(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.pq import _pq_update, pq_codebooks
    from lakehouse_v3_spark.operators.train_blocks import (
        build_blocks,
        pq_partial_sums,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = pq_codebooks(spark, e, k_codes=16)
    w = len(seeds[0][0])
    active = {s: seeds[s] for s in range(len(seeds))}
    vecs = e.select("embedding")
    blocks = build_blocks(e.repartition(4, "vec_id")).persist()
    try:
        rows = _pq_update(vecs, active).collect()
        old = {
            (r["s"], r["j"], r["dim"]): (
                float(r["component"]),
                int(r["n_assigned"]),
            )
            for r in rows
        }
        merged = pq_partial_sums(blocks, active, w)
        new = {}
        for s, (sums, counts) in merged.items():
            for j in range(16):
                if int(counts[j]) == 0:
                    continue
                n = int(counts[j])
                for d in range(w):
                    am = int(sums[j][d])
                    r6 = (
                        (2 * am + n) // (2 * n)
                        if am >= 0
                        else -((-2 * am + n) // (2 * n))
                    )
                    new[(s, j, d)] = (r6 / 1e6, n)
        assert new == old
    finally:
        blocks.unpersist()


def test_make_round6_matches_jvm_round(spark):
    """Python ROUND(x, 6) replication vs Spark's own Round expression on
    a boundary-heavy value set (exact .5 decisions, near-boundary
    doubles, negatives)."""
    from lakehouse_v3_spark.operators.train_blocks import make_round6

    vals = [
        0.1234565, 0.1234575, -0.1234565, 1.0000005, -1.0000005,
        0.9999995, 123.4567891234, -123.4567894999, 3.0000004999999997,
        0.12345649999999999, 7.000000500000001e-01, 2.5e-07, -2.5e-07,
        1e-07, 0.0, 42.0, 1234.5678905,
    ]
    round6 = make_round6(spark)
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round(F.col("x"), 6).alias("r")
    )
    jvm_rounded = [r["r"] for r in df.collect()]
    assert [round6(v) for v in vals] == jvm_rounded


def test_micro_col_is_exact_decimal_micro_units(spark):
    from lakehouse_v3_spark.operators.train_blocks import micro_col

    df = spark.createDataFrame(
        [([0.1, -2.5e-07, 1.9999995, -7.25],)],
        "embedding array<double>",
    )
    got = df.select(micro_col("embedding").alias("m")).collect()[0]["m"]
    # hand-checked: decimal(30,6) HALF_UP quantization in micro-units
    # (1.9999995 → 1999999.5 micro → half-up 2000000; -2.5e-07 → -0.25
    # micro → 0)
    assert got == [100000, 0, 2000000, -7250000]


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
