"""Table manager + incremental checkpoint tests (pipeline-level: these
exercise write paths the oracle queries can't)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lakehouse_v3_spark.incremental import (
    FileLogCheckpoint,
    LastKeyCheckpoint,
    list_files,
    max_id_watermark,
    max_ts_watermark,
)
from lakehouse_v3_spark.tables import TableManager


def _tm(spark, tmp_path) -> TableManager:
    return TableManager(spark, str(tmp_path / "warehouse"))


def test_append_read_partitioned(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "id long, v string, dt string"
    )
    tm.append(df, "bronze2.t1", partition_by=["dt"])
    tm.append(df.withColumn("id", F.col("id") + 10), "bronze2.t1", partition_by=["dt"])
    out = tm.read("bronze2.t1")
    assert out.count() == 4
    # partition dirs exist → partition pruning applies on dt filters
    assert os.path.isdir(tm.path("bronze2.t1") + "/dt=2024-01-01")
    assert out.filter(F.col("dt") == "2024-01-01").count() == 2


def test_schema_merge_on_append(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    tm.append(spark.createDataFrame([(1,)], "id long"), "s.t")
    tm.append(spark.createDataFrame([(2, "x")], "id long, extra string"), "s.t")
    out = tm.read("s.t")
    assert set(out.columns) == {"id", "extra"}
    assert out.filter(F.col("extra").isNull()).count() == 1


def test_overwrite_and_merge(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    tm.overwrite(spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string"), "s.m")
    src = spark.createDataFrame([(2, "new"), (3, "new")], "id long, v string")
    tm.merge(src, "s.m", key=["id"])
    out = {r.id: r.v for r in tm.read("s.m").collect()}
    assert out == {1: "old", 2: "new", 3: "new"}
    # merge is idempotent
    tm.merge(src, "s.m", key=["id"])
    assert tm.read("s.m").count() == 3


def test_compact_bounds_file_count(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    df = spark.range(0, 1000).repartition(16)
    tm.overwrite(df, "s.c")
    p = tm.path("s.c")
    before = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert before >= 16
    n = tm.compact("s.c", target_file_rows=600)
    after = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n == 2 and after == 2
    assert tm.read("s.c").count() == 1000
    assert len(tm.vacuum("s.c")) == 1  # the 16-file commit dir


def test_last_key_checkpoint(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    cp = LastKeyCheckpoint(tm, "coin")
    assert cp.get() is None
    keys = spark.createDataFrame([("a/1.json",), ("a/2.json",)], "path string")
    assert cp.filter_new_keys(keys).count() == 2
    cp.set("a/1.json")
    assert cp.get() == "a/1.json"
    assert cp.filter_new_keys(keys).collect()[0].path == "a/2.json"
    cp.set("a/2.json")  # newest run wins
    assert cp.get() == "a/2.json"


def test_file_log_checkpoint_and_listing(spark, tmp_path):
    tm = _tm(spark, tmp_path)
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "f1.json").write_text('{"a": 1}')
    (src / "f2.json").write_text('{"a": 2}')
    listing = list_files(spark, str(src), suffix=".json")
    assert listing.count() == 2 and set(listing.columns) == {"path", "length", "modification_time"}

    cp = FileLogCheckpoint(tm, "news")
    new1 = cp.new_files(listing)
    assert new1.count() == 2
    cp.record(new1)
    assert cp.new_files(listing).count() == 0  # nothing new on re-run
    (src / "f3.json").write_text('{"a": 3}')
    listing2 = list_files(spark, str(src), suffix=".json")
    new2 = cp.new_files(listing2)
    assert [os.path.basename(r.path) for r in new2.collect()] == ["f3.json"]


def test_watermarks(spark):
    target = spark.createDataFrame([(1, "2024-01-01 00:00:00"), (5, "2024-01-03 00:00:00")],
                                   "id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    incoming = spark.createDataFrame([(4, "2024-01-02 00:00:00"), (6, "2024-01-04 00:00:00")],
                                     "id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    assert [r.id for r in max_id_watermark(incoming, target, "id").collect()] == [6]
    assert [r.id for r in max_ts_watermark(incoming, target, "ts").collect()] == [6]
    assert max_id_watermark(incoming, None, "id").count() == 2
    assert max_ts_watermark(incoming, None, "ts").count() == 2


def test_tblproperties_roundtrip_and_survive_overwrite(spark, tmp_path):
    """S14 on the parquet backend: properties live in the commit log,
    merge on repeated set, and carry over through overwrite +
    compaction (they are metadata about the table, not about one
    write)."""
    tm = _tm(spark, tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    tm.overwrite(df, "bronze.props_t")
    assert tm.properties("bronze.props_t") == {}
    tm.set_properties("bronze.props_t", {"delta.appendOnly": "false", "owner": "etl"})
    tm.set_properties("bronze.props_t", {"owner": "audit"})
    assert tm.properties("bronze.props_t") == {
        "delta.appendOnly": "false",
        "owner": "audit",
    }
    tm.overwrite(df.limit(1), "bronze.props_t")
    tm.compact("bronze.props_t")
    assert tm.properties("bronze.props_t")["owner"] == "audit"


def test_exists_shallow_marker_check(spark, tmp_path):
    """exists() must detect flat and partitioned tables from one listing
    of the commit log, and reject an empty dir (no recursive walk)."""
    import os

    tm = _tm(spark, tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, part string")
    assert not tm.exists("z.flat")
    tm.overwrite(df, "z.flat")
    assert tm.exists("z.flat")
    tm.overwrite(df, "z.parted", partition_by=["part"])
    assert tm.exists("z.parted")
    os.makedirs(tm.path("z.empty"), exist_ok=True)
    assert not tm.exists("z.empty")


def test_snapshot_time_travel_and_restore(spark, tmp_path):
    """Versioned table on the commit log: reads follow the latest
    commit, any unvacuumed version is readable, restore is one commit
    that copies no data, vacuum keeps whatever the latest version uses."""
    import pytest

    from lakehouse_v3_spark.tables import TableManager

    tm = TableManager(spark, str(tmp_path / "wh"))
    v0 = tm.overwrite(
        spark.createDataFrame([(1, "a")], "id long, s string"), "silver.t"
    )
    v1 = tm.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), "silver.t"
    )
    assert (v0, v1) == (0, 1)
    assert tm.version("silver.t") == 1
    assert tm.read("silver.t").count() == 2          # latest
    assert tm.read("silver.t", 0).count() == 1        # time travel

    assert tm.restore("silver.t", 0) == 2             # rollback commit
    assert tm.read("silver.t").count() == 1
    assert tm.read("silver.t", 1).count() == 2        # v1 untouched

    v3 = tm.overwrite(
        spark.createDataFrame([(9, "z")], "id long, s string"), "silver.t"
    )
    assert v3 == 3 and tm.read("silver.t").count() == 1

    tm.restore("silver.t", 0)                         # v4
    removed = tm.vacuum("silver.t")
    # v0's data is live again at the latest version, so it survives;
    # only the v1 and v3 add-sets go
    assert len(removed) == 2
    assert [r.id for r in tm.read("silver.t").collect()] == [1]

    with pytest.raises(FileNotFoundError):
        tm.read("silver.never")
    with pytest.raises(FileNotFoundError):
        tm.restore("silver.t", 99)
    with pytest.raises(FileNotFoundError):
        tm.restore("silver.t", 1)                     # vacuumed


def test_snapshot_diff_cdc(spark, tmp_path):
    """CDC between versions: exact insert/update/delete classification,
    unchanged rows absent from the feed."""
    from lakehouse_v3_spark.tables import TableManager

    tm = TableManager(spark, str(tmp_path / "wh"))
    tm.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, s string, v double",
        ),
        "silver.cdc",
    )
    tm.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
            "id long, s string, v double",
        ),
        "silver.cdc",
    )
    changes = {
        r.id: r.change_type
        for r in tm.diff("silver.cdc", 0, 1, ["id"]).collect()
    }
    assert changes == {2: "update", 3: "delete", 4: "insert"}


_METASTORE_PHASE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
metastore_dir, phase = sys.argv[1], sys.argv[2]
from lakehouse_v3_spark.session import get_spark
from lakehouse_v3_spark.tables import TableManager
spark = get_spark("metastore-test", master="local[2]", shuffle_partitions=2,
                  metastore_dir=metastore_dir)
tm = TableManager(spark, metastore_dir + "/tables")
if phase == "write":
    tm.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        "gold.reg",
    )
    tm.register("gold.reg", persistent=True)
assert spark.catalog.tableExists("gold_reg"), "catalog entry missing"
print("REGISTERED_ROWS=" + str(spark.table("gold_reg").count()))
spark.stop()
"""


def test_register_persistent_survives_session(tmp_path):
    """S12 persistence parity (reference coin/convert_to_delta.py:167-173
    registers tables in a Hive metastore that later jobs see): a table
    registered persistent=True in one PROCESS is visible, with its data,
    to a brand-new SparkSession in another process pointed at the same
    derby metastore_dir."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _METASTORE_PHASE_SCRIPT.format(repo=repo)
    # the JVM's temp dir, where Hive's session would leave its
    # "<uuid>_resources" dir unless it is pointed into the metastore dir
    jtmp = tmp_path / "jtmp"
    jtmp.mkdir()
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={jtmp}")
    for phase in ("write", "read"):
        out = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path / "ms"), phase],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(tmp_path),  # derby.log etc. land here, not in the repo
            env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "REGISTERED_ROWS=2" in out.stdout, (phase, out.stdout[-500:])
    assert not list(jtmp.glob("*_resources"))


_METASTORE_URI_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from lakehouse_v3_spark.session import get_spark
# thrift HMS connects LAZILY (first catalog call), so building the
# session asserts only the conf plumbing — no service needed
spark = get_spark("metastore-uri-test", master="local[2]",
                  shuffle_partitions=2,
                  metastore_uri="thrift://hms.example:9083")
assert (spark.conf.get("spark.hadoop.hive.metastore.uris")
        == "thrift://hms.example:9083"), "uri conf missing"
assert spark.conf.get("spark.sql.catalogImplementation") == "hive", (
    "hive support not enabled")
print("URI_SEAM_OK")
spark.stop()
"""


def test_metastore_uri_seam_and_mutual_exclusion(tmp_path):
    """r8 verdict item #6: the reference registers tables in a
    NETWORKED thrift Hive Metastore (docker-compose.yaml:70-108);
    ``get_spark(metastore_uri=...)`` must plumb
    spark.hadoop.hive.metastore.uris + Hive support through (verified
    in a fresh process — static confs can't be asserted on a reused
    session), the derby path keeps its own cross-process round-trip
    (test above), and the two catalogs are mutually exclusive."""
    import os
    import subprocess
    import sys

    import pytest as _pytest

    from lakehouse_v3_spark.session import get_spark

    with _pytest.raises(ValueError, match="mutually exclusive"):
        get_spark(metastore_dir="/x", metastore_uri="thrift://h:9083")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _METASTORE_URI_SCRIPT.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "URI_SEAM_OK" in out.stdout


def test_drop_table(spark, tmp_path):
    """DROP TABLE (r11, the rebuild-path primitive): removes the table
    dir and invalidates plan/stats caches; a no-op when absent (the
    curation rebuild drops a fixed list without probing)."""
    from lakehouse_v3_spark.tables import TableManager

    tm = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    tm.overwrite(spark.range(5).toDF("x"), "d.t")
    assert tm.exists("d.t")
    tm.drop("d.t")
    assert not tm.exists("d.t")
    tm.drop("d.t")  # idempotent no-op
    tm.drop("d.never_existed")
    # the path is reusable after a drop
    tm.overwrite(spark.range(3).toDF("x"), "d.t")
    assert tm.read("d.t").count() == 3
