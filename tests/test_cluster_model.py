"""r11 verdict item #1a: the SemDeDup cluster model — budget-capped
Lloyd with corpus-scaled k and empty-cell carry-over — plus the
parallelism pin that retires the label-block weak mark."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_cluster_k_scales_with_corpus_up_to_the_fixed_budget():
    from lakehouse_v3_spark.pipelines.curation import (
        CLUSTER_K_MAX, CLUSTER_TARGET_ROWS, cluster_k,
    )

    assert CLUSTER_TARGET_ROWS == 4096
    assert cluster_k(1) == 1
    assert cluster_k(500) == 1          # driver fixtures
    assert cluster_k(20_000) == 5       # sf1
    assert cluster_k(200_000) == 49     # sf10 — parallelism 49 > 10 labels
    assert cluster_k(200_000) > 10
    # r12 verdict item #1: k is CAPPED at the fixed SemDeDup cluster
    # budget — the trainer's driver state and per-iteration collect
    # are bounded no matter the corpus size
    assert CLUSTER_K_MAX == 65_536
    assert cluster_k(CLUSTER_TARGET_ROWS * CLUSTER_K_MAX) == CLUSTER_K_MAX
    assert cluster_k(2_000_000_000) == CLUSTER_K_MAX
    assert cluster_k(10**10) == CLUSTER_K_MAX
    # just below the knee, the corpus-scaled rule still applies
    assert cluster_k(CLUSTER_TARGET_ROWS * (CLUSTER_K_MAX - 1)) == (
        CLUSTER_K_MAX - 1
    )


def test_lloyd_capped_converges_early_when_it_can(spark):
    from lakehouse_v3_spark.operators.ivf import lloyd_capped

    # two tight point clouds, seeds are the first 2 vectors
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.1, 0.0]), (3, [0.0, 0.1]),
            (4, [10.1, 10.0]), (5, [10.0, 10.1])]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents, n_iters = lloyd_capped(e, 2, iters=4)
    assert n_iters <= 4 and len(cents) == 2
    # centroids are the cloud means (rounded to 6 dp)
    assert cents[0] == pytest.approx([0.033333, 0.033333], abs=1e-6)
    assert cents[1] == pytest.approx([10.033333, 10.033333], abs=1e-6)


def test_lloyd_capped_empty_cell_carries_over(spark):
    """A provably-empty cell: seeds 0 and 1 share IDENTICAL vectors, so
    the (dist, cid) tie-break assigns EVERY point to cell 0 — cell 1 is
    empty from iteration 1. lloyd_converged raises here by contract;
    lloyd_capped must carry the stranded centroid over unchanged."""
    from lakehouse_v3_spark.operators.ivf import lloyd_capped

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]),
            (2, [0.5, 0.0]), (3, [0.0, 0.5])]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents, n_iters = lloyd_capped(e, 2, iters=3)
    # iteration 1: every point ties to cid 0 → cell 1 EMPTY, carried
    # over as [0,0] (lloyd_converged raises right here). Iteration 2:
    # the carried centroid re-attracts the two origin points — a
    # carried cell is a live Voronoi site, not a tombstone — and the
    # solution settles at the honest 2-means optimum.
    assert cents[1] == [0.0, 0.0]
    assert cents[0] == pytest.approx([0.25, 0.25], abs=1e-6)
    assert n_iters == 3


def test_lloyd_capped_stops_at_cap(spark):
    from lakehouse_v3_spark.operators.ivf import lloyd_capped

    # impossible tolerance → always runs exactly `iters` iterations
    rows = [(i, [float(i), float(i % 3)]) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents, n_iters = lloyd_capped(e, 3, iters=2, tol_micro=-1)
    assert n_iters == 2 and len(cents) == 3


# ---------------------------------------------------------------------------
# r11 verdict item #4: the fused single-pass rank machinery
# ---------------------------------------------------------------------------

def test_ranks_fused_handles_values_straddling_partitions(spark):
    """Heavily tied order values force one value to span SEVERAL range
    partitions — dense_rank must still be globally correct (the
    boundary adjustment), and row_number must equal the plain-window
    formulation."""
    from pyspark.sql import Window

    from lakehouse_v3_spark.plans.scale_extras import _ranks_fused

    rows = (
        [(i, "s", 1.0) for i in range(50)]
        + [(i, "s", 2.0) for i in range(50, 80)]
        + [(i, "s", 3.0) for i in range(80, 100)]
        + [(i, "t", 1.0) for i in range(100, 120)]
    )
    df = spark.createDataFrame(rows, "id LONG, seg STRING, v DOUBLE")
    ranked, pinned = _ranks_fused(df, "seg", "v", "id")
    got = {
        r["id"]: (r["rn"], r["drank"], r["n_seg"]) for r in ranked.collect()
    }
    pinned.unpersist(blocking=False)
    w_rn = Window.partitionBy("seg").orderBy("v", "id")
    w_dr = Window.partitionBy("seg").orderBy("v")
    want = {
        r["id"]: (r["rn"], r["drank"], r["n_seg"])
        for r in df.withColumn("rn", F.row_number().over(w_rn).cast("long"))
        .withColumn("drank", F.dense_rank().over(w_dr).cast("long"))
        .withColumn(
            "n_seg",
            F.count(F.lit(1)).over(Window.partitionBy("seg")).cast("long"),
        )
        .collect()
    }
    assert got == want


def test_ranks_fused_windows_are_per_partition(spark):
    """Plan guard (the pack-cumsum pattern): every windowspecdefinition
    in the fused rank plan must carry the _lh_pid range-partition
    column — no per-segment window anywhere."""
    import io as _io
    from contextlib import redirect_stdout

    from lakehouse_v3_spark.plans.scale_extras import _ranks_fused

    df = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("_negbal", -F.col("c_acctbal"))
    )
    ranked, pinned = _ranks_fused(df, "c_mktsegment", "_negbal", "c_custkey")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        ranked.explain("formatted")
    plan = buf.getvalue()
    pinned.unpersist(blocking=False)
    saw = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw = True
            assert "_lh_pid" in line, f"per-segment window leaked: {line}"
    assert saw
    assert "rangepartitioning" in plan.replace(" ", "").lower()


# ---------------------------------------------------------------------------
# r12 verdict #3: id-space-agnostic Lloyd seeding
# ---------------------------------------------------------------------------


def _vec_rows(n, dim=4):
    return [[float((i * 13 + d * 5) % 17) for d in range(dim)] for i in range(n)]


def test_lloyd_capped_trains_on_offset_holey_id_space(spark):
    """The old seed rule (vec_id < k) refused any id space with holes
    or an offset. Rank-based seeding must train, and — because the
    id ORDER is the same — produce bit-identical centroids to the
    dense-id frame over the same vectors."""
    from lakehouse_v3_spark.operators.ivf import lloyd_capped

    vecs = _vec_rows(30)
    dense = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    # offset at 10**6 with irregular gaps; order-preserving
    sparse_ids = [10**6 + 3 * i + (17 if i > 10 else 0) for i in range(30)]
    sparse = spark.createDataFrame(
        list(zip(sparse_ids, vecs)), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    c_dense, it_dense = lloyd_capped(dense, 3)
    c_sparse, it_sparse = lloyd_capped(sparse, 3)
    assert it_dense == it_sparse
    assert c_dense == c_sparse


def test_lloyd_seeding_raises_when_fewer_vectors_than_k(spark):
    from lakehouse_v3_spark.operators.ivf import lloyd_capped

    df = spark.createDataFrame(
        list(enumerate(_vec_rows(2))), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    with pytest.raises(RuntimeError, match="needs"):
        lloyd_capped(df, 5)


# ---------------------------------------------------------------------------
# r12 verdict #1c: centroids ship by explicit broadcast, not closure
# ---------------------------------------------------------------------------


def test_assign_cells_ships_centroids_via_broadcast(spark, monkeypatch):
    """assign_cells must put the centroid matrix through
    SparkContext.broadcast (one serialization, torrent-fetched per
    executor) rather than capturing the raw k x dim list in the UDF
    closure (re-serialized into every stage's task binary)."""
    from pyspark import SparkContext

    cents = [[0.0, 0.0], [10.0, 10.0]]
    seen = []
    orig = SparkContext.broadcast

    def spy(self, value):
        seen.append(value)
        return orig(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    from lakehouse_v3_spark.operators.ivf import assign_cells

    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [9.8, 10.1])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    rows = assign_cells(df, cents, out_col="cell").collect()
    assert cents in seen, "centroid payload never went through broadcast"
    assert {(r["vec_id"], r["cell"]) for r in rows} == {(0, 0), (1, 1)}


def test_probe_cells_expr_ships_centroids_via_broadcast(spark, monkeypatch):
    from pyspark import SparkContext

    cents = [[0.0, 0.0], [10.0, 10.0], [5.0, 5.0]]
    seen = []
    orig = SparkContext.broadcast

    def spy(self, value):
        seen.append(value)
        return orig(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    from lakehouse_v3_spark.operators.ivf import probe_cells_expr

    df = spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    rows = df.select(
        probe_cells_expr(F.col("embedding"), cents, 2).alias("cells")
    ).collect()
    assert cents in seen
    assert list(rows[0]["cells"]) == [0, 2]
