"""The one training loop (operators/train_blocks): each iteration over
numpy blocks is bit-identical to the DataFrame recipe the oracles pin
(_lloyd_update / _pq_update), the component rules are exact, and the
driver's stop rules — per-model convergence, the loud failures of
``capped=False`` and the carry-over and cap of ``capped=True`` — hold
on synthetic blocks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_lloyd_blocks_iteration_matches_dataframe_recipe(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.ivf import _lloyd_update, _seed_cents
    from lakehouse_v3_spark.operators.train_blocks import (
        build_blocks,
        make_round6,
        micro_mean,
        partial_sums,
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
            sums, counts = partial_sums(blocks, {0: cents}, dim)[0]
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
        micro_mean,
        partial_sums,
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
    sums, counts = partial_sums(
        spark.sparkContext.parallelize(blocks, 3), {0: cents}, dim
    )[0]
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
        partial_sums,
        pq_component,
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
        merged = partial_sums(blocks, active, w)
        new = {}
        for s, (sums, counts) in merged.items():
            for j in range(16):
                n = int(counts[j])
                if n == 0:
                    continue
                for d in range(w):
                    new[(s, j, d)] = (pq_component(sums[j][d], n), n)
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
# train(): stop rules on synthetic blocks
# ---------------------------------------------------------------------------


def _blocks(spark, rows, n_parts=2):
    """An RDD of (float64 matrix, int64 micro matrix) blocks over
    ``rows`` (values with ≤ 6 decimals, so the micro matrix is exact)."""
    import numpy as np

    blocks = []
    for part in np.array_split(np.array(rows, dtype=np.float64), n_parts):
        blocks.append((part, np.rint(part * 1e6).astype(np.int64)))
    return spark.sparkContext.parallelize(blocks, n_parts)


# column 0: two clouds already at their seeds → converges at iteration 1;
# column 1: 0, 1, 2, 10 from seeds 0 / 1 → {0} {1,2,10}, then {0,1,2}
# {10}, then stable → converges at iteration 3
_TWO_MODEL_ROWS = [[0.0, 0.0], [0.0, 1.0], [10.0, 2.0], [10.0, 10.0]]
_TWO_MODEL_SEEDS = {0: [[0.0], [10.0]], 1: [[0.0], [1.0]]}


def test_train_models_stop_independently(spark, monkeypatch):
    from lakehouse_v3_spark.operators import train_blocks

    jobs = []
    real = train_blocks.partial_sums

    def recording(blocks, models, w):
        jobs.append(sorted(models))
        return real(blocks, models, w)

    monkeypatch.setattr(train_blocks, "partial_sums", recording)
    final, n_iters, prev = train_blocks.train(
        _blocks(spark, _TWO_MODEL_ROWS),
        _TWO_MODEL_SEEDS,
        train_blocks.pq_component,
        tol_micro=0,
        max_iter=10,
        capped=False,
    )
    assert n_iters == {0: 1, 1: 3}
    assert final == {0: [[0.0], [10.0]], 1: [[1.0], [10.0]]}
    assert prev == {0: [[0.0], [10.0]], 1: [[1.0], [10.0]]}
    # a converged model drops out of every later iteration's job
    assert jobs == [[0, 1], [1], [1]]


def test_train_raises_without_convergence_unless_capped(spark):
    from lakehouse_v3_spark.operators.train_blocks import pq_component, train

    blocks = _blocks(spark, _TWO_MODEL_ROWS)
    with pytest.raises(RuntimeError, match=r"models \[1\] did not converge"):
        train(blocks, _TWO_MODEL_SEEDS, pq_component, 0, 2, capped=False)
    # capped: iteration max_iter is final whatever its shift
    final, n_iters, prev = train(
        blocks, _TWO_MODEL_SEEDS, pq_component, 0, 2, capped=True
    )
    assert n_iters == {0: 1, 1: 2}
    assert final[1] == [[1.0], [10.0]]
    assert prev[1] == [[0.0], [4.333333]]


# seeds 0 and 1 are the SAME point, so the (dist, cid) tie-break sends
# every vector to cell 0 and cell 1 is empty at iteration 1
_EMPTY_ROWS = [[0.0, 0.0], [0.0, 0.0], [0.5, 0.0], [0.0, 0.5]]
_EMPTY_SEEDS = {0: [[0.0, 0.0], [0.0, 0.0]]}


def test_train_raises_on_empty_cell_unless_capped(spark):
    from lakehouse_v3_spark.operators.train_blocks import (
        make_round6,
        micro_mean,
        pq_component,
        train,
    )

    round6 = make_round6(spark)
    blocks = _blocks(spark, _EMPTY_ROWS)
    for component in (lambda a, n: round6(micro_mean(a, n)), pq_component):
        with pytest.raises(RuntimeError, match=r"empty cell\(s\) \[1\] in model 0 at iteration 1"):
            train(blocks, _EMPTY_SEEDS, component, 2000, 60, capped=False)


def test_train_capped_carries_empty_cell_and_stops_at_cap(spark):
    from lakehouse_v3_spark.operators.train_blocks import (
        make_round6,
        micro_mean,
        train,
    )

    round6 = make_round6(spark)
    final, n_iters, prev = train(
        _blocks(spark, _EMPTY_ROWS),
        _EMPTY_SEEDS,
        lambda a, n: round6(micro_mean(a, n)),
        tol_micro=-1,
        max_iter=2,
        capped=True,
    )
    # iteration 1: cell 1 empty → carried over unchanged; iteration 2:
    # it re-attracts the two origin points; the cap makes 2 final
    assert n_iters == {0: 2}
    assert prev == {0: [[0.125, 0.125], [0.0, 0.0]]}
    assert final == {0: [[0.25, 0.25], [0.0, 0.0]]}
