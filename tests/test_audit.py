"""Audit engine unit tests: status encoding, ERROR path, config
round-trip, report assembly."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_v3_spark.audit import (
    AUDIT_ERROR,
    AUDIT_FAIL,
    AUDIT_PASS,
    CompletenessRule,
    ValidityRule,
    run_completeness_rules,
    run_validity_rules,
)
from lakehouse_v3_spark.audit.alerting import failure_report, render_html
from lakehouse_v3_spark.audit.config import (
    completeness_rules_from_df,
    completeness_rules_to_df,
    validity_rules_from_df,
    validity_rules_to_df,
)
from lakehouse_v3_spark.audit.engine import PK_SAMPLE_CAP
from lakehouse_v3_spark.audit.facts import explode_results_to_fact, latest_run_failures


def _plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _status_of(results, rule_id):
    row = [
        r
        for r in results.collect()
        if f'"rule_id": {rule_id}' in r.ds_configuration
    ]
    assert len(row) == 1
    return row[0].nr_status


def test_validity_statuses(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load

    tables = {"orders": load(spark, sf_dir, "orders")}
    rules = [
        ValidityRule(1, "orders", "o_totalprice <= 0", ("o_orderkey",)),      # PASS
        ValidityRule(2, "orders", "o_orderstatus = 'F'", ("o_orderkey",)),    # FAIL
        ValidityRule(3, "orders", "no_such_column > 0", ("o_orderkey",)),     # ERROR
        ValidityRule(4, "missing_table", "1=1", ("o_orderkey",)),             # ERROR
    ]
    res = run_validity_rules(spark, tables, rules)
    assert _status_of(res, 1) == AUDIT_PASS
    assert _status_of(res, 2) == AUDIT_FAIL
    assert _status_of(res, 3) == AUDIT_ERROR
    assert _status_of(res, 4) == AUDIT_ERROR


def test_completeness_blank_counts_as_violation(spark):
    df = spark.createDataFrame(
        [(1, "ok"), (2, ""), (3, "  "), (4, None)], "id long, v string"
    )
    rules = [CompletenessRule(1, "t", ("v",), ("id",))]
    res = run_completeness_rules(spark, {"t": df}, rules)
    row = res.collect()[0]
    assert row.nr_status == AUDIT_FAIL
    assert '"number_of_violated_rows": 3' in row.ds_checked_value


def test_pk_sample_capped(spark):
    df = spark.createDataFrame([(i, -1.0) for i in range(1500)], "id long, v double")
    rules = [ValidityRule(1, "t", "v < 0", ("id",))]
    res = run_validity_rules(spark, {"t": df}, rules)
    import json

    checked = json.loads(res.collect()[0].ds_checked_value)
    assert checked["number_of_violated_rows"] == 1500
    assert len(checked["pk_result"]) == PK_SAMPLE_CAP


def test_config_roundtrip(spark):
    c_rules = [CompletenessRule(1, "t", ("a", "b"), ("id",), "desc", True)]
    v_rules = [ValidityRule(2, "t", "a < 0", ("id",), "desc", True),
               ValidityRule(3, "t", "b < 0", ("id",), "inactive", False)]
    assert completeness_rules_from_df(completeness_rules_to_df(spark, c_rules)) == c_rules
    # inactive rules are dropped on load
    assert validity_rules_from_df(validity_rules_to_df(spark, v_rules)) == v_rules[:1]


def test_fact_explosion_and_report(spark):
    df = spark.createDataFrame([(1, -1.0), (2, 5.0), (3, -2.0)], "id long, v double")
    rules = [ValidityRule(7, "t", "v < 0", ("id",))]
    res = run_validity_rules(spark, {"t": df}, rules)
    fact = explode_results_to_fact(res)
    rows = fact.collect()
    assert {r.violated_pk for r in rows} == {"1", "3"}
    assert all(r.ds_audit_result == "FAIL" for r in rows)
    # dense fact ids 1..N
    assert sorted(r.cd_fact_id for r in rows) == [1, 2]

    failures = latest_run_failures(fact)
    report = failure_report(failures)
    rrows = [r.asDict() for r in report.collect()]
    assert rrows[0]["n_violated"] == 2
    html = render_html(rrows)
    assert "Data audit failures" in html and "<td>7</td>" in html


def test_empty_table_audit_emits_pass_not_crash(spark):
    """SUM over an empty groupBy is NULL; the merge level must coalesce
    to 0 so an empty audited table yields PASS rows, not a TypeError."""
    df = spark.createDataFrame([], "id long, v double")
    rules = [ValidityRule(1, "t", "v < 0", ("id",))]
    res = run_validity_rules(spark, {"t": df}, rules)
    row = res.collect()[0]
    assert row.nr_status == AUDIT_PASS
    assert '"number_of_violated_rows": 0' in row.ds_checked_value


def test_send_alert_roundtrip_via_recording_transport(spark):
    """Full S18 path (reference 005_send_alert_hourly.py:224-311): report
    → subject with counts → HTML body → attachment, delivered through a
    transport stub that records instead of speaking SMTP."""
    from datetime import datetime

    from lakehouse_v3_spark.audit.alerting import send_alert

    df = spark.createDataFrame([(1, -1.0), (2, 5.0), (3, -2.0)], "id long, v double")
    rules = [ValidityRule(7, "t", "v < 0", ("id",))]
    fact = explode_results_to_fact(run_validity_rules(spark, {"t": df}, rules))
    report = failure_report(latest_run_failures(fact))

    sent = []
    msg = send_alert(
        report,
        transport=sent.append,
        recipients=("ops@example.com",),
        now=datetime(2026, 8, 13, 12, 0, 0),
    )
    assert sent == [msg]
    assert msg.subject == (
        "Data Quality Alert - 1 Rule(s), 1 Table(s), 2 Violation(s) - 2026-08-13 12:00"
    )
    assert msg.recipients == ("ops@example.com",)
    assert "<td>7</td>" in msg.html_body
    assert msg.attachment_name == "data_quality_alert_20260813_120000.html"
    assert msg.attachment_bytes == msg.html_body.encode("utf-8")


def test_send_alert_skips_when_no_failures(spark):
    from lakehouse_v3_spark.audit.alerting import send_alert

    df = spark.createDataFrame([(1, 5.0)], "id long, v double")
    rules = [ValidityRule(1, "t", "v < 0", ("id",))]
    fact = explode_results_to_fact(run_validity_rules(spark, {"t": df}, rules))
    report = failure_report(latest_run_failures(fact))

    sent = []
    msg = send_alert(report, transport=sent.append, recipients=("ops@example.com",))
    assert msg is None and sent == []


def test_fact_explode_without_ids_matches_default_minus_id(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load

    tables = {"orders": load(spark, sf_dir, "orders")}
    rules = [
        ValidityRule(1, "orders", "o_totalprice <= 0", ("o_orderkey",)),
    ]
    results = run_validity_rules(spark, tables, rules)
    with_ids = explode_results_to_fact(results)
    without = explode_results_to_fact(results, assign_ids=False)

    assert "cd_fact_id" in with_ids.columns
    assert "cd_fact_id" not in without.columns
    cols = [c for c in with_ids.columns if c != "cd_fact_id"]
    assert sorted(map(tuple, with_ids.select(*cols).collect())) == sorted(
        map(tuple, without.select(*cols).collect())
    )
    # the point of the flag: no eager job (dense ids run counts +
    # localCheckpoint at build time, collapsing the plan to a bare RDD
    # scan) — the id-free plan must still be LAZY, i.e. carry the
    # explode (Generate) stage instead of a checkpoint scan
    assert "Generate" in _plan_text(without)
    assert "Generate" not in _plan_text(with_ids)
