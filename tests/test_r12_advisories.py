"""Regression pins for round-12 ADVICE / verdict quick items:

1. with_grouped_cumsum refuses NULL group keys loudly (r11 verdict
   item #3 — the equi-join on the broadcast offsets would silently
   drop those rows otherwise).
2. mad_robust_outliers excludes NULL values identically on BOTH
   engines (r11 ADVICE low — the oracle used to rank NULLs into n
   while the Spark path dropped them in the histogram refinement).

The zero-norm GEMM pins (r11 ADVICE low) live in test_near_dup.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_grouped_cumsum_null_group_key_raises(spark):
    from lakehouse_v3_spark.ids import with_grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), (None, 2, 20), ("a", 3, 30)], "g STRING, o INT, v INT"
    )
    with pytest.raises(ValueError, match="NULL group key"):
        with_grouped_cumsum(df, ["g"], ["o"], "v")


def test_grouped_cumsum_non_null_groups_still_work(spark):
    from lakehouse_v3_spark.ids import with_grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("a", 3, 30)], "g STRING, o INT, v INT"
    )
    rows = {
        (r["g"], r["o"]): r["cum"]
        for r in with_grouped_cumsum(df, ["g"], ["o"], "v").collect()
    }
    assert rows == {("a", 1): 10, ("a", 3): 40, ("b", 2): 20}


def test_mad_null_values_excluded_on_both_engines(spark, tmp_path):
    """Events with NULL values: the Spark query and the DuckDB oracle
    must agree (the fixture is NULL-free, so only this synthetic table
    exercises the alignment)."""
    import duckdb

    rows = [
        (1, "a", 1.0), (2, "a", 2.0), (3, "a", None), (4, "a", 100.0),
        (5, "b", 5.0), (6, "b", None), (7, "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, value DOUBLE"
    ).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1_000_000))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    from lakehouse_v3_spark.plans import load_all

    qd = load_all()["mad_robust_outliers"]
    got = {
        r["event_type"]: (r["n"], r["med"], r["mad"], r["n_outliers"])
        for r in qd.fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'"
        )
        want = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(qd.oracle).fetchall()
        }
    finally:
        con.close()
    assert got == want
    assert got["a"][0] == 3  # NULL row excluded from n on both sides


def test_run_funnel_packed_is_lazy(spark, monkeypatch):
    """r11 ADVICE #2: constructing the funnel must NOT execute the pack
    stage (pack_corpus runs a driver partials job + localCheckpoint at
    build time); it runs only when a caller indexes 'packed'."""
    from lakehouse_v3_spark.pipelines import curation as C

    docs = spark.createDataFrame(
        [(i, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
         for i in range(1, 6)],
        "doc_id LONG, lang STRING, text STRING",
    )
    calls = []
    real = C.pack_corpus
    monkeypatch.setattr(C, "pack_corpus", lambda *a, **k: calls.append(1) or real(*a, **k))
    f = C.run_funnel(docs, materialize_pairs=True)
    assert "packed" in f and not calls
    assert f["gold"].count() >= 0 and not calls
    packed = f["packed"]
    assert calls == [1]
    assert "bin" in packed.columns
    assert f["packed"] is packed  # cached, not rebuilt
    assert calls == [1]
