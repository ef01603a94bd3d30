"""io_utils.load types fixtures from their footers on the driver:
``footer_schema`` must give exactly the schema Spark's own inference
gives, or ``None`` so that ``load`` infers as before."""

from __future__ import annotations

import datetime
import decimal
import glob
import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakehouse_v3_spark.io_utils import footer_schema, load

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_inputs():
    spec = importlib.util.spec_from_file_location(
        "perfbench_inputs", os.path.join(REPO_DIR, "perfbench", "inputs.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _assert_parity(spark, path):
    got = footer_schema(spark, path)
    assert got is not None, path
    assert got == spark.read.parquet(path).schema, path


def test_testdata_footer_schemas_match_inference(spark, sf_dir):
    # every scale factor next to the test fixture dir
    root = os.path.dirname(os.path.abspath(sf_dir))
    files = sorted(glob.glob(os.path.join(root, "sf*", "*.parquet")))
    assert files
    for p in files:
        _assert_parity(spark, p)


def test_perfbench_fixture_footer_schemas_match_inference(spark, tmp_path):
    _perfbench_inputs().write_fixtures(str(tmp_path), seed=3, scale=0.2)
    files = sorted(glob.glob(str(tmp_path / "*.parquet")))
    assert len(files) == 10
    for p in files:
        _assert_parity(spark, p)


def test_every_allow_listed_type_matches_inference(spark, tmp_path):
    ts = pa.array([0, 1_500_000], pa.timestamp("us"))
    point = pa.struct([("x", pa.int32()), ("at", pa.timestamp("us"))])
    t = pa.table({
        "b": pa.array([True, None]),
        "i8": pa.array([1, -2], pa.int8()),
        "i16": pa.array([1, -2], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, 2], pa.int64()),
        "f32": pa.array([1.5, 2.0], pa.float32()),
        "f64": pa.array([1.5, None]),
        "s": ["a", None],
        "bin": pa.array([b"a", b"\x00"]),
        "d": pa.array([datetime.date(2020, 1, 1), None]),
        "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(10, 2)),
        "dec_wide": pa.array(
            [decimal.Decimal("1.23"), None], pa.decimal128(30, 2)
        ),
        "ts": ts,
        "ts_utc": ts.cast(pa.timestamp("us", tz="UTC")),
        "ts_ny": ts.cast(pa.timestamp("us", tz="America/New_York")),
        "ints": pa.array([[1, None], []], pa.list_(pa.int64())),
        "req_ints": pa.array(
            [[1], [2]], pa.list_(pa.field("e", pa.int64(), nullable=False))
        ),
        "pt": pa.array([{"x": 1, "at": 0}, None], point),
        "pts": pa.array([[{"x": 1, "at": 0}], None], pa.list_(point)),
        "nested": pa.array(
            [[[1.0]], [[]]], pa.list_(pa.list_(pa.float32()))
        ),
    })
    # a required top-level column: Spark's file scans read it nullable
    t = t.cast(t.schema.set(4, pa.field("i64", pa.int64(), nullable=False)))
    p = str(tmp_path / "all.parquet")
    pq.write_table(t, p)
    _assert_parity(spark, p)
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(ntz)
    spark.conf.set(ntz, "false")
    try:
        _assert_parity(spark, p)
        assert "timestamp_ntz" not in footer_schema(spark, p).simpleString()
    finally:
        spark.conf.set(ntz, old)
    assert "timestamp_ntz" in footer_schema(spark, p).simpleString()


@pytest.mark.parametrize("col", [
    pa.array([1, 2], pa.timestamp("ns")),
    pa.array([1, 2], pa.timestamp("ms")),
    pa.array([1, 2], pa.uint32()),
    pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
    pa.array(["a", "b"], pa.large_string()),
])
def test_uncertain_types_fall_back(spark, tmp_path, col):
    p = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"c": col}), p)
    assert footer_schema(spark, p) is None


def test_legacy_int96_and_binary_as_string_fall_back(spark, tmp_path):
    p = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("us"))}), p,
        use_deprecated_int96_timestamps=True,
    )
    assert footer_schema(spark, p) is None
    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"a"])}), p)
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        assert footer_schema(spark, p) is None
    finally:
        spark.conf.unset(key)
    assert footer_schema(spark, p) is not None


def test_directories_schemes_and_spark_files_fall_back(spark, tmp_path, sf_dir):
    assert footer_schema(spark, sf_dir) is None
    assert footer_schema(spark, f"s3a://bucket{sf_dir}/nation.parquet") is None
    assert footer_schema(spark, f"file:{sf_dir}/nation.parquet") is None
    assert footer_schema(spark, str(tmp_path / "missing.parquet")) is None
    # a file Spark wrote carries Spark's own schema in its footer
    out = str(tmp_path / "spark_out")
    spark.range(3).coalesce(1).write.parquet(out)
    (part,) = glob.glob(f"{out}/part-*.parquet")
    assert footer_schema(spark, part) is None


def test_nanos_events_still_load_as_truncated_micros(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    assert footer_schema(spark, str(tmp_path / "events.parquet")) is None
    df = load(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = df.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r.us for r in got.collect()] == [v // 1000 for v in ns]


def test_load_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_io_load_no_job"
    sc.setJobGroup(group, "footer-typed load")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        df = load(spark, sf_dir, "documents")
        load(spark, sf_dir, "events").schema
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k in (
            "spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(k, None)
    assert after == before
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
