"""Z-order clustering + file-skipping scans (round 8) — the physical
half of Delta's OPTIMIZE ZORDER BY + data skipping. The catalog query
`zorder_cluster_keys` (plans/scale_extras.py) oracle-checks the
z-value math; these tests check the LAYOUT property (each file covers
a tight hyper-rectangle after cluster_by) and the pruned scan
(read_skipping touches a small fraction of files while returning
exactly the full-scan answer)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from lakehouse_v3_spark.tables import TableManager


@pytest.fixture(scope="module")
def clustered(spark, sf_dir, tmp_path_factory):
    """lineitem written unclustered into 16 files, then z-clustered on
    (l_orderkey, l_partkey) into ~16 files."""
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("zorder_wh")), backend="parquet"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    n = li.count()
    tm.overwrite(li.repartition(16), "t_unclustered")
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
    """Every commit logs min/max for every column of the files it adds;
    a predicate column without stats never prunes (conservative keep)."""
    tm, n, _ = clustered
    files, total = tm.prune_files("t", {"no_such_column": (0.0, 1.0)})
    assert len(files) == total  # no stats → keep all
    stats = [e["stats"] for e in tm._snapshot("t")[1]]
    assert all(
        set(s) == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}
        for s in stats
    )


def test_write_after_cluster_invalidates_stale_manifest(spark, sf_dir, tmp_path):
    """Correctness guard: the stats are per commit, so a write AFTER
    cluster_by cannot leave a stale manifest — the appended file brings
    its own min/max and skipping stays exact; and a live file without
    stats for the predicate column is always read."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    tm.overwrite(li, "t")
    tm.cluster_by("t", ["l_orderkey"], target_file_rows=max(1, li.count() // 8))
    mx = tm.read("t").agg(F.max("l_orderkey")).collect()[0][0]

    # an append past the clustered range: its file is the only one a
    # predicate above the old max can touch, and its rows are found
    tm.append(li.limit(5).withColumn("l_orderkey", F.col("l_orderkey") + mx), "t")
    df, n_read, total = tm.read_skipping("t", {"l_orderkey": (mx + 1, None)})
    assert n_read == 1 and total == len(tm.files("t"))
    assert df.count() == tm.read("t").filter(F.col("l_orderkey") > mx).count()

    # a live file whose entry lacks stats for the column survives
    # pruning for an impossible range
    head, live = tm._snapshot("t")
    victim = dict(live[0], stats={})
    rec = dict(head, version=head["version"] + 1, op="overwrite",
               add=[victim] + live[1:], readVersion=head["version"])
    assert tm._try_commit("t", rec)
    files, _ = tm.prune_files("t", {"l_orderkey": (10 * mx, None)})
    assert files == [f"{tm.path('t')}/{victim['path']}"]


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
    """r8 advisory: superseded versions' files under _txn_data must
    never be skipping candidates — pruning works on the live set of
    the latest commit only, so skipping scans cannot read dead
    versions' rows."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    df = spark.range(100).selectExpr("id AS x", "id * 2 AS y")
    tm.overwrite(df, "t")
    # one superseded + one live set on the same table
    tm.append(spark.range(500, 600).selectExpr("id AS x", "id*2 AS y"), "t")
    tm.overwrite(spark.range(700, 710).selectExpr("id AS x", "id*2 AS y"), "t")
    tm.restore("t", 0)  # restore commit: the overwrite dir is dead too
    live = tm.files("t")
    assert live == [f"{tm.path('t')}/{e['path']}" for e in tm._snapshot("t", 0)[1]]
    # pruning sees only the 100 table rows — never dead versions
    files, total = tm.prune_files("t", {"x": (0, 99)})
    assert total == len(live) and sorted(files) == sorted(live)
    got, n_read, _ = tm.read_skipping("t", {"x": (0, None)})
    assert got.count() == 100


def test_decimal_and_date_columns_prune(spark, tmp_path):
    """Decimal and date columns carry logged min/max too: a decimal
    bound is widened outward to the nearest float, so a point predicate
    on a file's exact min or max still reads that file, and a date
    column prunes on date or ISO-string bounds."""
    import datetime
    from decimal import Decimal

    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    df = spark.range(40).selectExpr(
        "id",
        "CAST(id / 10 + 0.1 AS DECIMAL(12, 2)) AS amt",
        "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d",
    )
    tm.overwrite(df.repartitionByRange(4, "id"), "s.typed")
    stats = [e["stats"] for e in tm._snapshot("s.typed")[1]]
    assert len(stats) == 4 and all({"amt", "d"} <= s.keys() for s in stats)

    for i in (0, 9, 10, 39):  # every file edge and an interior value
        amt = Decimal(i) / 10 + Decimal("0.1")
        for preds in (
            {"amt": (amt.quantize(Decimal("0.01")),) * 2},
            {"d": (datetime.date(2024, 1, 1) + datetime.timedelta(days=i),) * 2},
            {"d": ((datetime.date(2024, 1, 1)
                    + datetime.timedelta(days=i)).isoformat(),) * 2},
        ):
            got, read, total = tm.read_skipping("s.typed", preds)
            assert [r.id for r in got.collect()] == [i], preds
            assert (read, total) == (1, 4), preds
