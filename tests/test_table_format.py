"""The one table format: every write is a commit-log commit, every read
plans from the log, and the live set is published at the table root for
readers that go by path.

- reads are never torn: a read between any two filesystem steps of an
  overwrite or a merge sees exactly the old or exactly the new rows;
- path readers (a ``register(persistent=True)`` table, DuckDB, the
  parquet files listed at the root) see what ``read`` sees;
- a read starts no Spark job — no schema inference, and no parallel
  file listing even past Spark's 32-path listing threshold;
- only ``tables.py`` lists a table root.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from lakehouse_v3_spark import tables as T
from lakehouse_v3_spark.tables import TableManager

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _frame(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).selectExpr(
        "id",
        f"CONCAT('{tag}', CAST(id % 3 AS STRING)) AS v",
        "CONCAT('2024-01-0', CAST(id % 2 + 1 AS STRING)) AS dt",
    )


def _rows(df):
    # path readers infer ``dt=2024-01-01`` dirs as dates
    cols = ("id", "v", F.col("dt").cast("string"))
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_reads_are_never_torn(spark, tmp_path, monkeypatch):
    """Run ``tm.read(t).collect()`` after every filesystem call an
    overwrite and a merge make on the warehouse (``shutil.rmtree``,
    ``os.replace``, ``os.link``, ``os.unlink``, the claim): each read
    returns exactly the old or exactly the new rows, never raises, and
    never goes back to the old rows once it has seen the new ones."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    t = "s.torn"
    tm.overwrite(_frame(spark, 0, 40).repartition(4), t)
    root = tm.path(t)
    assert len(glob.glob(f"{root}/*.parquet")) >= 4

    seen: list[tuple[str, list]] = []
    busy = [False]

    def hook(name, fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            if not busy[0] and any(str(a).startswith(tm.warehouse_dir) for a in args):
                busy[0] = True
                try:
                    seen.append((name, _rows(tm.read(t))))
                finally:
                    busy[0] = False
            return out

        return wrapped

    for mod, name in ((shutil, "rmtree"), (os, "replace"), (os, "link"), (os, "unlink")):
        monkeypatch.setattr(mod, name, hook(name, getattr(mod, name)))
    monkeypatch.setattr(
        tm.claim_backend, "put_if_absent",
        hook("claim", tm.claim_backend.put_if_absent),
    )

    def check(old, new):
        states = [rows for _, rows in seen]
        assert states, "no filesystem step was observed"
        assert all(s in (old, new) for s in states), [n for n, _ in seen]
        flips = [s == new for s in states]
        assert flips[-1] and flips == sorted(flips), [n for n, _ in seen]
        seen.clear()

    old = _rows(tm.read(t))
    new_df = _frame(spark, 100, 140, "b").repartition(4)
    tm.overwrite(new_df, t)
    new = _rows(new_df)
    check(old, new)

    src = _frame(spark, 120, 160, "c").repartition(4)
    tm.merge(src, t, key=["id"])
    merged = sorted({r[0]: r for r in new + _rows(src)}.values())
    check(new, merged)
    assert len(tm.files(t)) >= 1


@pytest.mark.parametrize("partition_by", [None, ["dt"]], ids=["flat", "partitioned"])
def test_path_readers_see_the_live_set(spark, tmp_path, partition_by):
    """After overwrite → append → restore → vacuum, three readers that
    go by path return the same rows as ``tm.read``: a
    ``register(persistent=True)`` table, DuckDB's ``read_parquet`` over
    the root, and the parquet files listed at the root."""
    import duckdb
    import pyarrow.parquet as papq

    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    t = "s.view"
    v0 = tm.overwrite(_frame(spark, 0, 20).repartition(3), t, partition_by=partition_by)
    tm.append(_frame(spark, 20, 30), t, partition_by=partition_by)
    tm.restore(t, v0)
    assert tm.vacuum(t)  # the append's commit dir
    want = _rows(tm.read(t))
    assert [r[0] for r in want] == list(range(20))

    tm.register(t, "path_view", persistent=True)
    try:
        assert _rows(spark.table("path_view")) == want
    finally:
        spark.sql("DROP TABLE IF EXISTS path_view")

    root = tm.path(t)
    pattern = f"{root}/*/*.parquet" if partition_by else f"{root}/*.parquet"
    got = duckdb.connect().execute(
        f"SELECT id, v, CAST(dt AS VARCHAR) FROM read_parquet('{pattern}', "
        f"union_by_name=true, hive_partitioning={bool(partition_by)})"
    ).fetchall()
    assert sorted(got) == want

    listed = []
    for f in glob.glob(pattern):
        cols = papq.read_table(f).to_pydict()
        if "dt" not in cols:  # a partition column lives in the dir name
            dt = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            cols["dt"] = [dt] * len(cols["id"])
        listed += zip(cols["id"], cols["v"], cols["dt"])
    assert sorted(listed) == want


def test_reads_start_no_job(spark, tmp_path):
    """A read plans from the log: no schema-inference job, and no
    parallel listing job for a table of more live files than Spark's
    ``parallelPartitionDiscovery.threshold`` — whether they come from
    one commit or from one commit each — below the maintenance bound."""
    from lakehouse_v3_spark.pipelines.maintenance import MAINTAIN_FILE_BOUND

    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    threshold = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ))
    n = threshold + 4
    assert n <= MAINTAIN_FILE_BOUND
    tm.overwrite(spark.range(10 * n).repartition(n), "s.one_commit")
    for i in range(n):
        tm.append(spark.range(i, i + 1, numPartitions=1), "s.many_commits")
    sc = spark.sparkContext
    for t, rows in (("s.one_commit", 10 * n), ("s.many_commits", n)):
        assert len(tm.files(t)) == n
        group = f"read-{t}"
        sc.setJobGroup(group, group)
        try:
            df = tm.read(t)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert df.count() == rows


def test_property_commits_do_not_republish(spark, tmp_path, monkeypatch):
    """A property commit leaves the live set as it was, so only commits
    that add or replace files re-publish the root view."""
    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    tm.overwrite(spark.range(3), "s.p")
    calls = []
    publish = tm._publish
    monkeypatch.setattr(tm, "_publish", lambda t: calls.append(t) or publish(t))
    tm.set_properties("s.p", {"k": "v"})
    assert calls == [] and tm.properties("s.p") == {"k": "v"}
    tm.append(spark.range(3, 4), "s.p")
    assert calls == ["s.p"]
    assert len(glob.glob(f"{tm.path('s.p')}/*.parquet")) == len(tm.files("s.p"))


_LISTING = re.compile(r"\b(os\.walk|scandir|listdir|i?glob)\(")


def _lists_table_root(line: str) -> bool:
    return "_txn_data" in line or "_txn_log" in line or bool(
        _LISTING.search(line) and (".path(" in line or "warehouse_dir" in line)
    )


def test_only_tables_lists_a_table_root():
    """Table layout is private to tables.py: no other module of the
    package or of tools/ walks, scans, lists or globs a table root, or
    names the log and data dirs."""
    assert _lists_table_root("n = sum(1 for _ in os.walk(tm.path(t)))")
    assert _lists_table_root("for e in os.scandir(tm.warehouse_dir):")
    assert _lists_table_root("os.listdir(root + '/_txn_data')")
    assert not _lists_table_root("for p in glob.glob(os.path.join(path, '*.parquet'))")
    stray = []
    for base in ("lakehouse_v3_spark", "tools"):
        for dirpath, _, names in os.walk(os.path.join(REPO_DIR, base)):
            for fn in names:
                path = os.path.join(dirpath, fn)
                if not fn.endswith(".py") or os.path.samefile(path, T.__file__):
                    continue
                with open(path, encoding="utf-8") as f:
                    stray += [
                        f"{os.path.relpath(path, REPO_DIR)}:{i}"
                        for i, line in enumerate(f, 1)
                        if _lists_table_root(line)
                    ]
    assert stray == []
