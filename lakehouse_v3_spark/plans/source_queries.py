"""Queries over the custom Python Data Source (sources/pydatasource.py).

The synthetic source is a pure function of (row index, options), so the
DuckDB oracle regenerates the identical relation from ``range(n)`` with
the same integer arithmetic — a custom Python data source with a full
value-hash correctness row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.pydatasource import register_synthetic_source
from . import register

_N_ROWS = 100_000

_PYDS_ORACLE = f"""
WITH src AS (
  SELECT i                 AS row_id,
         i % 97            AS user_id,
         (['click','view','purchase','error','signup'])[CAST(i % 5 AS INT) + 1]
                           AS event_type,
         CAST((i * 2654435761) % 1000 AS DOUBLE) / 10.0 AS value
  FROM range({_N_ROWS}) t(i)
)
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       CAST(COUNT(*) AS BIGINT)     AS n_clicks,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM src
WHERE event_type = 'click'
GROUP BY user_bucket
"""


@register("pyds_synthetic_pushdown", oracle=_PYDS_ORACLE)
def pyds_synthetic_pushdown(spark, sf_dir):
    """Custom Python Data Source scan: 8 range partitions generated
    worker-side as Arrow batches, with the ``event_type = 'click'``
    predicate offered to the source via the Spark 4.1 Python filter
    pushdown path (sources/pydatasource.py pushFilters). Correct under
    either regime: if pushdown is enabled the source drops non-click
    rows before they cross the Python→JVM boundary; if not, Spark
    applies the same filter post-scan. ``sf_dir`` is unused — the
    source is its own (deterministic) data."""
    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", _N_ROWS)
        .option("n_partitions", 8)
        .load()
        .filter(F.col("event_type") == "click")
    )
    return df.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )
