"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query at sf0.001 (smoke).
queries()      — name → (spark, sf_dir) -> DataFrame for every declared
                 operator (SURVEY.md §2 + LLM-pipeline extensions).
oracle_sql()   — name → DuckDB-runnable ANSI SQL equivalent; omitted for
                 genuinely non-SQL-expressible operators (driver then does
                 a weaker rows-only check).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from lakehouse_v3_spark.plans import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (uber-gold-shaped monthly KPI) on sf0.001."""
    registry = load_all()
    return registry["flagship_monthly_kpi"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in load_all().items()}


def oracle_sql() -> dict[str, str]:
    # rtol oracles are tolerance-based (QueryDef.rtol, e.g. a sketch
    # estimate vs the exact count) — valid for the repo's own gate but
    # not for the driver's strict value-hash compare, so the driver
    # gets a rows-only check for those.
    return {
        name: qd.oracle
        for name, qd in load_all().items()
        if qd.oracle is not None and qd.rtol is None
    }
