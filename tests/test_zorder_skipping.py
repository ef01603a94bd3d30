"""Z-order clustering + file-skipping scans (round 8) — the physical
half of Delta's OPTIMIZE ZORDER BY + data skipping. The catalog query
`zorder_cluster_keys` (plans/scale_extras.py) oracle-checks the
z-value math; these tests check the LAYOUT property (each file covers
a tight hyper-rectangle after cluster_by) and the pruned scan
(read_skipping touches a small fraction of files while returning
exactly the full-scan answer)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from lakehouse_v3_spark.tables import TableManager


@pytest.fixture(scope="module")
def clustered(spark, sf_dir):
    """lineitem written unclustered into 16 files, then z-clustered on
    (l_orderkey, l_partkey) into ~16 files."""
    tm = TableManager(
        spark, tempfile.mkdtemp(prefix="zorder_wh_"), backend="parquet"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    n = li.count()
    tm.overwrite(li.repartition(16), "t_unclustered")
    tm._write_stats("t_unclustered", ["l_orderkey", "l_partkey"])
    tm.overwrite(li.repartition(16), "t")
    n_files = tm.cluster_by(
        "t", ["l_orderkey", "l_partkey"], target_file_rows=max(1, n // 16)
    )
    return tm, n, n_files


def test_cluster_by_preserves_rows_and_values(spark, clustered, sf_dir):
    tm, n, _ = clustered
    assert tm.read("t").count() == n
    # content identical to the source (clustering is a layout rewrite)
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = tm.read("t").groupBy().agg(
        F.sum("l_orderkey"), F.sum("l_partkey"), F.count(F.lit(1))
    ).collect()[0]
    b = src.groupBy().agg(
        F.sum("l_orderkey"), F.sum("l_partkey"), F.count(F.lit(1))
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_skipping_scan_prunes_and_matches_full_scan(clustered):
    tm, n, _ = clustered
    # a 5%-ish range on the leading z dimension
    full = tm.read("t")
    lo, hi = full.stat.approxQuantile("l_orderkey", [0.4, 0.45], 0.0)
    df, read, total = tm.read_skipping("t", {"l_orderkey": (lo, hi)})
    expected = full.filter(
        (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
    )
    assert df.count() == expected.count() != 0
    assert total >= 8
    assert read < total, "clustered range scan should skip files"
    assert read <= max(2, total // 2), (read, total)


def test_skipping_on_second_dimension_also_prunes(clustered):
    """The point of Z-ORDER over plain sort: BOTH interleaved columns
    prune. A narrow range on the second column must also skip files."""
    tm, n, _ = clustered
    full = tm.read("t")
    lo, hi = full.stat.approxQuantile("l_partkey", [0.7, 0.73], 0.0)
    df, read, total = tm.read_skipping("t", {"l_partkey": (lo, hi)})
    expected = full.filter(
        (F.col("l_partkey") >= lo) & (F.col("l_partkey") <= hi)
    )
    assert df.count() == expected.count() != 0
    assert read < total, "z-order must prune on the non-leading column too"


def test_unclustered_layout_barely_prunes(clustered):
    """Contrast: the same predicate over the round-robin layout keeps
    ~every file (each file spans the whole key range) — showing the
    pruning comes from the LAYOUT, not the manifest machinery."""
    tm, n, _ = clustered
    full = tm.read("t_unclustered")
    lo, hi = full.stat.approxQuantile("l_orderkey", [0.4, 0.45], 0.0)
    df, read, total = tm.read_skipping("t_unclustered", {"l_orderkey": (lo, hi)})
    assert read == total  # no file can be excluded
    expected = full.filter(
        (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
    )
    assert df.count() == expected.count()


def test_one_sided_and_conjunctive_predicates(clustered):
    tm, n, _ = clustered
    full = tm.read("t")
    okey_med = full.stat.approxQuantile("l_orderkey", [0.9], 0.0)[0]
    pkey_med = full.stat.approxQuantile("l_partkey", [0.1], 0.0)[0]
    df, read, total = tm.read_skipping(
        "t", {"l_orderkey": (okey_med, None), "l_partkey": (None, pkey_med)}
    )
    expected = full.filter(
        (F.col("l_orderkey") >= okey_med) & (F.col("l_partkey") <= pkey_med)
    )
    assert df.count() == expected.count()
    assert read < total  # conjunction prunes at least as hard


def test_empty_intersection_reads_zero_files(clustered):
    tm, n, _ = clustered
    mx = tm.read("t").agg(F.max("l_orderkey")).collect()[0][0]
    df, read, total = tm.read_skipping("t", {"l_orderkey": (mx + 1, None)})
    assert read == 0 and df.count() == 0


def test_stats_manifest_survives_and_is_conservative(clustered):
    """A column absent from the manifest never prunes (conservative
    keep), and the sidecar lives NEXT TO the table root so the atomic
    overwrite swap cannot destroy a fresh manifest mid-write."""
    tm, n, _ = clustered
    files, total = tm.prune_files("t", {"l_quantity": (0.0, 1.0)})
    assert len(files) == total  # no stats for l_quantity → keep all


def test_write_after_cluster_invalidates_stale_manifest(spark, sf_dir):
    """Correctness guard: a write AFTER cluster_by drops the stats
    sidecar (a pre-write manifest would prune against a dead file
    list), so read_skipping fails loudly instead of losing rows; and
    files the manifest doesn't know are always read."""
    import json as _json
    import os as _os

    tm = TableManager(
        spark, tempfile.mkdtemp(prefix="zstale_wh_"), backend="parquet"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    tm.overwrite(li, "t")
    tm.cluster_by("t", ["l_orderkey"], target_file_rows=max(1, li.count() // 8))
    assert _os.path.exists(tm._stats_path("t"))

    # an append invalidates the manifest → loud FileNotFoundError
    tm.append(li.limit(5), "t")
    assert not _os.path.exists(tm._stats_path("t"))
    with pytest.raises(FileNotFoundError):
        tm.read_skipping("t", {"l_orderkey": (0, 10)})

    # re-cluster, then simulate an unknown file sneaking in UNDER a
    # live manifest: it must be read unconditionally
    tm.cluster_by("t", ["l_orderkey"], target_file_rows=max(1, li.count() // 8))
    manifest = _json.load(open(tm._stats_path("t")))
    victim = sorted(manifest["files"])[0]
    del manifest["files"][victim]
    _json.dump(manifest, open(tm._stats_path("t"), "w"))
    mx = tm.read("t").agg(F.max("l_orderkey")).collect()[0][0]
    files, total = tm.prune_files("t", {"l_orderkey": (mx + 1, None)})
    # every known file is prunable for an impossible range, but the
    # unknown file survives pruning
    assert [f for f in files if f.endswith(victim)] and len(files) == 1


def test_cluster_by_rejects_non_parquet_backend(spark, tmp_path):
    """r8 advisory (medium): under backend='delta' an overwrite is a
    logical delete that leaves dead parquet on disk, so the os.walk
    manifest would index dead data + _delta_log checkpoints, and
    read_skipping cannot hand the delta source a raw file list. The
    z-order path must fail LOUDLY for any non-parquet backend (use
    native OPTIMIZE ZORDER BY there), never prune with dead ranges."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="delta")
    with pytest.raises(NotImplementedError, match="parquet"):
        tm.cluster_by("t", ["x"])
    with pytest.raises(NotImplementedError, match="parquet"):
        tm.prune_files("t", {"x": (0, 1)})
    with pytest.raises(NotImplementedError, match="parquet"):
        tm.read_skipping("t", {"x": (0, 1)})


def test_stats_walk_excludes_reserved_subtrees(spark, tmp_path):
    """r8 advisory: if the txn API and cluster_by are used on the same
    table path, _txn_data uuid dirs (including superseded versions)
    must NOT be indexed as table files — neither in the manifest nor
    in prune_files' conservative on-disk set, or skipping scans would
    read dead versions' rows."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    df = spark.range(100).selectExpr("id AS x", "id * 2 AS y")
    tm.overwrite(df, "t")
    # txn traffic on the same table path: one superseded + one live set
    tm.txn_append(spark.range(500, 600).selectExpr("id AS x", "id*2 AS y"), "t")
    tm.txn_overwrite(spark.range(700, 710).selectExpr("id AS x", "id*2 AS y"), "t")
    tm.txn_restore("t", 0)  # restore commit: the overwrite dir is dead too
    tm._write_stats("t", ["x"])
    import json as _json

    with open(tm._stats_path("t"), encoding="utf-8") as f:
        manifest = _json.load(f)
    assert all(
        not rel.startswith(("_txn_data", "_txn_log"))
        for rel in manifest["files"]
    ), sorted(manifest["files"])
    # pruning sees only the 100 table rows — never dead txn versions
    files, total = tm.prune_files("t", {"x": (0, 99)})
    assert total == len(manifest["files"])
    got, n_read, _ = tm.read_skipping("t", {"x": (0, None)})
    assert got.count() == 100
