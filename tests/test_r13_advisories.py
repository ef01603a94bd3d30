"""Round-13 advisory fixes (ADVICE.md r12): FunnelStages dict-view
consistency and the interval-scoped pending-fold ingest; plus the r12
verdict items on the cluster-model trainer (K_MAX cap, explicit
centroid broadcast, id-space-agnostic Lloyd seeding). The zero-norm
and score-strip pins live in test_near_dup.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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


# ---------------------------------------------------------------------------
# r12 ADVICE #3: FunnelStages dict-view consistency for lazy entries
# ---------------------------------------------------------------------------


def test_funnel_stages_views_see_lazy_keys():
    from lakehouse_v3_spark.pipelines.curation import FunnelStages

    forced = []
    fs = FunnelStages(a=1, b=2)
    fs.put_lazy("packed", lambda: forced.append(1) or 99)

    # membership / keys / len / iteration: lazy key visible, NOT forced
    assert "packed" in fs
    assert set(fs.keys()) == {"a", "b", "packed"}
    assert len(fs) == 3
    assert set(iter(fs)) == {"a", "b", "packed"}
    assert not forced

    # get() resolves through the thunk (the r12 trap: returned None)
    assert fs.get("packed") == 99
    assert forced == [1]
    assert fs.get("missing", "d") == "d"

    fs2 = FunnelStages(a=1)
    fs2.put_lazy("packed", lambda: 7)
    # items()/values() include the lazy entry (forcing it)
    assert dict(fs2.items()) == {"a": 1, "packed": 7}
    assert sorted(fs2.values()) == [1, 7]
    # a forced thunk is spent: subsequent views are plain dict entries
    assert len(fs2) == 2 and set(fs2.keys()) == {"a", "packed"}
