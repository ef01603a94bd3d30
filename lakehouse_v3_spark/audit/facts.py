"""Fact builders: explode the audit result log's JSON payloads into wide
fact rows (reference: 004_fact_dataaudit_validity.py:56-155 — CTE of
from_json → explode_outer → ROW_NUMBER ids → INSERT INTO fact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..ids import with_dense_id

# DDL of the result log's two JSON payload columns
CONFIG_SCHEMA = (
    "rule_id BIGINT, `table` STRING, kind STRING, pk_columns ARRAY<STRING>, rule STRING"
)
CHECKED_SCHEMA = (
    "number_of_violated_rows BIGINT, pk_result ARRAY<STRING>, note STRING"
)


def explode_results_to_fact(results: DataFrame, assign_ids: bool = True) -> DataFrame:
    """One fact row per violated PK (explode_outer keeps PASS rows with a
    NULL pk), with dense surrogate ids 1..N (reference: 004...:101-103
    ROW_NUMBER). The audit DAG overwrites its fact tables every run, so
    each run's ids start at 1.

    ``assign_ids=False`` skips the dense-id assignment (an EAGER
    range-partition + counts + checkpoint pass): callers that consume
    only the exploded fact columns — not ``cd_fact_id`` — should not pay
    for ids they drop (guide §1.2: don't compute what you throw away).
    The warehouse DAG, which persists the fact table, keeps the
    default."""
    if not assign_ids:
        return _explode(results)
    return with_dense_id(
        _explode(results),
        ["cd_dataaudit_result", "violated_pk"],
        id_col="cd_fact_id",
    )


def _explode(results: DataFrame) -> DataFrame:
    parsed = results.select(
        "cd_dataaudit_result",
        "nr_status",
        "dt_checked_at",
        F.from_json("ds_configuration", CONFIG_SCHEMA).alias("cfg"),
        F.from_json("ds_checked_value", CHECKED_SCHEMA).alias("chk"),
    )
    return parsed.select(
        "cd_dataaudit_result",
        F.col("cfg.rule_id").alias("rule_id"),
        F.col("cfg.table").alias("table_name"),
        F.col("cfg.kind").alias("audit_kind"),
        F.col("cfg.rule").alias("rule_text"),
        F.col("chk.number_of_violated_rows").alias("n_violated"),
        # status string mapping (reference: 004...:87-92)
        F.when(F.col("nr_status") == 1, "PASS")
        .when(F.col("nr_status") == 0, "FAIL")
        .otherwise("ERROR")
        .alias("ds_audit_result"),
        F.explode_outer("chk.pk_result").alias("violated_pk"),
        "dt_checked_at",
    )


def latest_run_failures(fact: DataFrame) -> DataFrame:
    """Rows of the newest run that did not PASS (reference:
    005_send_alert_hourly.py:76-84 — dt_checked_at = (SELECT MAX...))."""
    latest = fact.agg(F.max("dt_checked_at").alias("m"))
    return (
        fact.join(F.broadcast(latest), fact.dt_checked_at == F.col("m"))
        .filter(F.col("ds_audit_result") != "PASS")
        .drop("m")
    )
