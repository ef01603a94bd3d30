"""``io_utils.local_frame``: driver-side rows as a JVM LocalRelation.

Every frame the package builds from driver-side rows goes through the
helper; it must give back exactly what ``spark.createDataFrame(rows,
schema)`` gives (values, schema, host-local reading of naive datetimes)
without a Python-worker job. The UTC-stamp tests pin the control-table
timestamps (``run_at``, ``logged_at``, ``dt_checked_at``) to the real
epoch under a non-UTC host zone.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_v3_spark import io_utils
from lakehouse_v3_spark.audit.config import (
    COMPLETENESS_CONFIG_SCHEMA,
    VALIDITY_CONFIG_SCHEMA,
)
from lakehouse_v3_spark.audit.engine import RESULT_SCHEMA
from lakehouse_v3_spark.io_utils import local_frame

_NAIVE = dt.datetime(2024, 1, 1, 12, 0, 0, 123456)
_AWARE = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
_PLUS2 = dt.datetime(2024, 7, 1, 9, 30, tzinfo=dt.timezone(dt.timedelta(hours=2)))

# (id, rows, schema): one case per schema the package builds frames with,
# plus the edge cases (empty, NULLs, arrays, naive/aware timestamps)
CASES = [
    ("config_completeness",
     [(1, "orders", "a,b", "o_orderkey", "desc", True),
      (2, "lineitem", "", "l_orderkey", None, False)],
     COMPLETENESS_CONFIG_SCHEMA),
    ("config_validity",
     [(3, "orders", "o_totalprice <= 0", "o_orderkey", "", True)],
     VALIDITY_CONFIG_SCHEMA),
    ("audit_result_rows",
     [Row(cd_dataaudit_result="validity-1-x", ds_configuration="{}",
          ds_checked_value="{}", nr_status=1, dt_checked_at=_AWARE),
      Row(cd_dataaudit_result="validity-2-x", ds_configuration="{}",
          ds_checked_value="{}", nr_status=0, dt_checked_at=_NAIVE)],
     RESULT_SCHEMA),
    ("last_key", [(_AWARE, "a/1.json"), (_NAIVE, None)],
     "run_at timestamp, last_key string"),
    ("grouped_cumsum_offsets",
     [("A", 0, 0), ("A", 1, 17), ("B", 3, 5)],
     T.StructType([
         T.StructField("g", T.StringType()),
         T.StructField("_lh_pid", T.IntegerType()),
         T.StructField("_goff", T.LongType()),
     ])),
    ("ranks_offsets", [("BUILDING", 0, 0, 0, 9), ("BUILDING", 1, 4, 3, 9)],
     "seg STRING, _lh_pid INT, _roff LONG, _doff LONG, _nseg LONG"),
    ("quantiles", [(0.5, 1234.5, 10), (0.99, None, 10)],
     "pct double, value double, n_rows long"),
    ("bpe_merges", [(0, "t h", 42), (1, "th e", 7)],
     "merge_idx INT, pair STRING, pair_count LONG"),
    ("centroids", [(0, [0.25, -1.5]), (1, None), (2, [])],
     "cluster INT, centroid ARRAY<DOUBLE>"),
    ("empty_state", [], "doc_id LONG, embedding ARRAY<FLOAT>, cluster INT"),
    ("empty_pairs", [], "id_a LONG, id_b LONG, jaccard DOUBLE"),
    ("listing", [("/x/a.parquet",), ("/x/b.parquet",)], "path STRING"),
    ("watermark", [(12345678901,)], "max_doc_id LONG"),
    ("funnel", [(0, "ingest", 100), (1, "quality", 80)],
     "stage_idx INT, stage STRING, n_docs BIGINT"),
    ("dict_rows", [{"b": "y", "a": 2}, {"a": None, "b": None}], "a LONG, b STRING"),
    ("timestamps", [(_NAIVE, _NAIVE), (_AWARE, _PLUS2), (None, None)],
     "t TIMESTAMP, u TIMESTAMP"),
    ("nested", [(dt.date(2024, 2, 29), {"k": 1}, (1, "s"))],
     "d DATE, m MAP<STRING, INT>, s STRUCT<x: INT, y: STRING>"),
]


def _set_tz(name):
    old = os.environ.get("TZ")
    if name is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = name
    time.tzset()
    return old


@pytest.fixture
def new_york():
    """A non-UTC host zone: naive datetimes then read 5 h off UTC."""
    old = _set_tz("America/New_York")
    try:
        yield
    finally:
        _set_tz(old)


@pytest.mark.parametrize("rows,schema", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_local_frame_equals_create_dataframe(spark, new_york, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_is_a_local_relation(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        df = local_frame(spark, [(1, "a"), (2, None)], "k INT, v STRING")
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert df.collect() == [Row(k=1, v="a"), Row(k=2, v=None)]
    finally:
        spark.conf.set(key, old)


def test_local_frame_verifies_rows_like_create_dataframe(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [("not a long",)], "x LONG")
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], COMPLETENESS_CONFIG_SCHEMA[:1])


def test_local_frame_is_the_only_create_dataframe_call():
    """Every driver-side frame in the package goes through the helper."""
    src, start = inspect.getsourcelines(local_frame)
    helper = range(start, start + len(src))
    pkg = os.path.dirname(io_utils.__file__)
    stray = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if "createDataFrame(" in line and not (
                        path == io_utils.__file__ and i in helper
                    ):
                        stray.append(f"{os.path.relpath(path, pkg)}:{i}")
    assert stray == []


# ---------------------------------------------------------------------------
# UTC stamps: the control tables' "now" must be the real epoch, whatever
# the host zone
# ---------------------------------------------------------------------------

def _assert_now(df, col):
    secs = [r[0] for r in df.select(F.col(col).cast("long")).collect()]
    assert secs and all(abs(s - time.time()) < 120 for s in secs), secs


def test_checkpoint_stamps_are_utc(spark, tmp_path, new_york):
    from lakehouse_v3_spark.incremental import FileLogCheckpoint, LastKeyCheckpoint
    from lakehouse_v3_spark.tables import TableManager

    tm = TableManager(spark, str(tmp_path / "wh"))
    LastKeyCheckpoint(tm, "k").set("a/1.json")
    _assert_now(tm.read("_control.last_key_k"), "run_at")
    FileLogCheckpoint(tm, "f").record(
        local_frame(spark, [("/x/a.csv",)], "path STRING")
    )
    _assert_now(tm.read("_control.file_log_f"), "logged_at")


def test_audit_checked_at_is_utc(spark, new_york):
    from lakehouse_v3_spark.audit import CompletenessRule, run_completeness_rules

    df = local_frame(spark, [(1, "ok"), (2, None)], "id LONG, v STRING")
    res = run_completeness_rules(
        spark, {"t": df}, [CompletenessRule(1, "t", ("v",), ("id",))]
    )
    _assert_now(res, "dt_checked_at")
