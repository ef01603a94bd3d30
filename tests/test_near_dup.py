"""The blocked near-dup pair kernels (operators/similarity.py
``near_dup_pairs`` and ``near_dup_pairs_probe``):

- oversized blocks split into rectangle tasks that cap per-task memory,
  with results unchanged (ids exact, scores to 1e-9 vs the unchunked
  layout; r11 verdict item #1b);
- a zero vector never pairs, at any threshold, and emits no NaN
  warning (r11 ADVICE, r12 ADVICE #4);
- the score strip is bounded in cells, with results unchanged (r12
  ADVICE #5).
"""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Rectangle-task decomposition of oversized blocks
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select("vec_id", "label", "embedding")
    )


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in df.collect()}


def test_gemm_chunked_equals_unchunked(spark, emb):
    from lakehouse_v3_spark.operators.similarity import near_dup_pairs

    base = _pairs(
        near_dup_pairs(emb, "vec_id", block_col="label", threshold=0.2,
                       block_row_cap=10**9)
    )
    # sf0.001 label blocks are ~50 rows; cap 16 forces m>=4 per block
    capped = _pairs(
        near_dup_pairs(emb, "vec_id", block_col="label", threshold=0.2,
                       block_row_cap=16)
    )
    assert set(base) == set(capped) and base
    assert all(abs(base[k] - capped[k]) < 1e-9 for k in base)


def test_probe_chunked_equals_unchunked(spark, emb):
    from lakehouse_v3_spark.operators.similarity import near_dup_pairs_probe

    batch = emb.filter(F.col("vec_id") % 7 == 0)
    stored = emb.filter(F.col("vec_id") % 7 != 0)
    base = _pairs(
        near_dup_pairs_probe(
            batch, stored.unionByName(batch), "vec_id", block_col="label",
            threshold=0.2, block_row_cap=10**9,
        ).dropDuplicates(["id_a", "id_b"])
    )
    capped = _pairs(
        near_dup_pairs_probe(
            batch, stored.unionByName(batch), "vec_id", block_col="label",
            threshold=0.2, block_row_cap=16,
        ).dropDuplicates(["id_a", "id_b"])
    )
    assert set(base) == set(capped) and base
    assert all(abs(base[k] - capped[k]) < 1e-9 for k in base)


def test_block_above_cap_splits_into_multiple_tasks(spark, emb):
    """The task-decomposition guard: one 50-row block at cap 16 must
    key into m(m+1)/2 tasks with m = ceil(50/16) = 4, every row-pair
    space covered exactly once."""
    from lakehouse_v3_spark.operators.similarity import _chunked_pair_tasks

    one = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("label").alias("_block"),
    )
    n = one.count()
    assert n > 16
    m = -(-n // 16)
    tasks = _chunked_pair_tasks(one, 16)
    keys = {
        (r["_ci"], r["_cj"])
        for r in tasks.select("_ci", "_cj").distinct().collect()
    }
    assert len(keys) == m * (m + 1) // 2
    assert all(i <= j for i, j in keys)
    # no task carries more than ~2*cap rows (hash balance slack: 3x)
    per = tasks.groupBy("_ci", "_cj").count().agg(F.max("count")).collect()[0][0]
    assert per <= 3 * 2 * 16


def test_probe_prunes_batch_empty_blocks(spark, emb):
    """Blocks the batch doesn't touch must emit ZERO task rows (the
    unchunked kernel used to ship the whole block to Python)."""
    from lakehouse_v3_spark.operators.similarity import _chunked_probe_tasks

    batch_labels = {0, 1}
    src = emb.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("label").alias("_block"),
        F.col("label").isin(*batch_labels).alias("_new"),
    )
    tasks = _chunked_probe_tasks(src, 10**9)
    blocks = {r["_block"] for r in tasks.select("_block").distinct().collect()}
    assert blocks == batch_labels


# ---------------------------------------------------------------------------
# Zero-norm vectors
# ---------------------------------------------------------------------------


def _zero_norm_frame(spark):
    return spark.createDataFrame(
        [
            (1, 0, [0.0, 0.0, 0.0, 0.0]),   # zero vector
            (2, 0, [1.0, 0.0, 0.0, 0.0]),
            (3, 0, [1.0, 1e-9, 0.0, 0.0]),  # near-dup of 2
            (4, 0, [-1.0, 0.0, 0.0, 0.0]),  # anti-parallel to 2
        ],
        "doc_id LONG, label INT, embedding ARRAY<FLOAT>",
    )


@pytest.mark.parametrize(
    "kernel, threshold, expected",
    [
        ("gemm", 0.9, {(2, 3)}),
        ("probe", 0.9, {(2, 3)}),
        # every non-zero pair survives at threshold -1
        ("gemm", -1.0, {(2, 3), (2, 4), (3, 4)}),
        ("probe", -1.0, {(2, 3), (3, 4)}),
    ],
    ids=["gemm-0.9", "probe-0.9", "gemm-neg1", "probe-neg1"],
)
def test_zero_norm_never_pairs(spark, kernel, threshold, expected):
    """A zero vector's cosine is undefined, so it never pairs at any
    threshold. The kernels clamp its norm (no 0/0 = NaN, no
    RuntimeWarning per strip on executors), which makes its cosine
    exactly 0.0 — and 0.0 would PAIR with everything when threshold
    <= 0 (r12 ADVICE #4). The mask must exclude zero-norm rows from
    the comparison itself. The probe batch holds the zero vector (id 1)
    and id 3."""
    from lakehouse_v3_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_probe,
    )

    df = _zero_norm_frame(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        if kernel == "gemm":
            out = near_dup_pairs(
                df, "doc_id", block_col="label", threshold=threshold
            )
        else:
            batch = df.filter(F.col("doc_id").isin(1, 3))
            out = near_dup_pairs_probe(
                batch, df, "doc_id", block_col="label", threshold=threshold
            )
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == expected
    # NOTHING involving the zero vector (id 1) survives
    assert not any(1 in p for p in pairs)


# ---------------------------------------------------------------------------
# Score-strip memory bound
# ---------------------------------------------------------------------------


def test_strip_rows_bounds_score_matrix_cells():
    """r12 ADVICE #5: strip_rows × right_cols ≤ STRIP_CELLS, so the
    float64 score strip stays ~64 MB instead of the 1.07 GB a fixed
    2048-row strip allocates against a cap-sized right chunk."""
    from lakehouse_v3_spark.operators.similarity import (
        BLOCK_ROW_CAP,
        STRIP_CELLS,
        _strip_rows,
    )

    assert _strip_rows(BLOCK_ROW_CAP) * BLOCK_ROW_CAP <= STRIP_CELLS
    assert _strip_rows(BLOCK_ROW_CAP) == STRIP_CELLS // BLOCK_ROW_CAP
    # small right sides keep the legacy 2048-row strip (GEMM efficiency)
    assert _strip_rows(10) == 2048
    assert _strip_rows(0) == 2048    # degenerate: no division by zero
    # never returns 0 rows even for absurd widths
    assert _strip_rows(10 * STRIP_CELLS) == 1


def test_strip_bound_preserves_pair_results(spark):
    """Chunk the strips hard (STRIP_CELLS so small every strip is one
    row) and assert identical pairs/scores to the default config."""
    from lakehouse_v3_spark.operators import similarity as S

    rows = [
        (i, i % 2, [float((i * 7 + d * 3) % 11) for d in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, label INT, embedding ARRAY<FLOAT>"
    )
    want = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.near_dup_pairs(
            df, "doc_id", block_col="label", threshold=0.8
        ).collect()
    }
    assert want, "fixture must produce at least one pair"
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.near_dup_pairs(
            df, "doc_id", block_col="label", threshold=0.8, strip_cells=1
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
