"""Mirror of the driver's t2 gate: every registered query vs its DuckDB
oracle at sf0.001 (fast; the driver uses sf0.01)."""

from __future__ import annotations

import os

import pytest

from lakehouse_v3_spark.oracle_harness import check_query
from lakehouse_v3_spark.plans import load_all

NAMES = sorted(load_all().keys())
PACKAGE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lakehouse_v3_spark"
)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_dir):
    errors = check_query(name, spark, sf_dir)
    assert not errors, f"{name}: " + "; ".join(errors)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.columns) > 0


def test_contract_shapes():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(f) for f in q.values())


SF_ORACLE_NAMES = sorted(
    n for n, qd in load_all().items() if qd.sf_oracle is not None
)


@pytest.mark.parametrize("name", SF_ORACLE_NAMES)
def test_sf_oracle_equivalent_to_primary(name):
    """Every tractable-big-SF oracle reformulation (QueryDef.sf_oracle)
    must produce IDENTICAL results to the primary (most-independent)
    oracle where both run — compared at sf0.01 with the same
    order-insensitive value comparison the gates use. This is what lets
    the sf1/sf5 gates swap in the fast formulation without weakening
    the correctness claim."""
    import duckdb

    from lakehouse_v3_spark.io_utils import TABLES
    from lakehouse_v3_spark.oracle_harness import compare_frames, run_oracle

    qd = load_all()[name]
    sf = "/root/testdata/sf0.01"
    primary = run_oracle(qd.oracle, sf)
    if callable(qd.sf_oracle):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )
        fast = qd.sf_oracle(con, sf)
        con.close()
    else:
        fast = run_oracle(qd.sf_oracle, sf)
    errs = compare_frames(fast, primary, rtol=qd.rtol)
    assert not errs, f"{name}: " + "; ".join(errs)


# Each rule a Spark plan shares with its DuckDB oracle, keyed by a
# literal only the rule's homes may hold: (Spark home, DuckDB home),
# paths relative to the package; None where one engine has no text.
_RULE_HOMES = {
    # letter-run tokenizer
    "[^a-z]+": ("functions/text.py", "plans/oracle_sql.py"),
    # md5 hex prefix -> BIGINT
    "F.conv(F.substring(F.md5(": ("operators/dedup.py", None),
    # 0.0-seeded left-fold sum
    "list_reduce(list_prepend(0.0::DOUBLE": (None, "plans/oracle_sql.py"),
    # id % 10 split
    "% 10 < 8": ("pipelines/curation.py", "plans/oracle_sql.py"),
}


def _rule_copies(sources: dict[str, str]) -> dict[str, list[str]]:
    """literal -> the modules outside its homes that spell it out."""
    return {
        lit: sorted(p for p, src in sources.items() if lit in src and p not in homes)
        for lit, homes in _RULE_HOMES.items()
    }


def test_each_cross_engine_rule_has_one_home():
    """The tokenizer, the md5-prefix hash, the vector fold and the
    split are each written once per engine; every other plan imports
    them, so a Spark plan and its oracle cannot drift apart."""
    sources = {}
    for dirpath, _, names in os.walk(PACKAGE_DIR):
        for fn in names:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    sources[os.path.relpath(path, PACKAGE_DIR)] = f.read()
    for lit in _RULE_HOMES:
        # positive control: a planted copy is found
        planted = dict(sources, **{"plans/planted.py": f"x = {lit!r}"})
        assert "plans/planted.py" in _rule_copies(planted)[lit]
    assert _rule_copies(sources) == {lit: [] for lit in _RULE_HOMES}
    # each home really holds its rule
    for lit, homes in _RULE_HOMES.items():
        assert all(lit in sources[h] for h in homes if h)


# mad_robust_outliers excludes NULL values identically on BOTH engines
# (r11 ADVICE low — the oracle used to rank NULLs into n while the Spark
# path dropped them in the histogram refinement)


def test_mad_null_values_excluded_on_both_engines(spark, tmp_path):
    """Events with NULL values: the Spark query and the DuckDB oracle
    must agree (the fixture is NULL-free, so only this synthetic table
    exercises the alignment)."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [
        (1, "a", 1.0), (2, "a", 2.0), (3, "a", None), (4, "a", 100.0),
        (5, "b", 5.0), (6, "b", None), (7, "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, value DOUBLE"
    ).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1_000_000))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

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
