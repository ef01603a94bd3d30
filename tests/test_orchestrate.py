"""DAG runner (orchestrate.py) semantics + the two reference-shaped
DAGs end-to-end (r4 verdict item #8): dependency order, per-task retry,
skip-on-no-new-data propagation, fan-out/fan-in, no-overlap lock, and
idempotent re-runs of the uber medallion chain and the audit graph."""

from __future__ import annotations

import os
import threading

import pytest

from lakehouse_v3_spark.orchestrate import (
    ConcurrentRunError,
    CycleError,
    Dag,
    Skip,
)


def _dag(tmp_path_factory, name="t"):
    return Dag(name, lock_dir=str(tmp_path_factory.mktemp("daglock")))


# ---------------------------------------------------------------------------
# runner semantics
# ---------------------------------------------------------------------------

def test_dependency_order_and_results(tmp_path_factory):
    seen = []
    d = _dag(tmp_path_factory)
    d.task("a", lambda c: seen.append("a"))
    d.task("b", lambda c: seen.append("b"), upstream=("a",))
    d.task("c", lambda c: seen.append("c"), upstream=("a",))
    d.task("d", lambda c: seen.append("d"), upstream=("b", "c"))
    rep = d.run()
    assert rep.ok
    assert seen == ["a", "b", "c", "d"]  # deterministic name order
    assert rep.states() == {k: "success" for k in "abcd"}


def test_retries_then_success_and_exhaustion(tmp_path_factory):
    calls = {"flaky": 0, "dead": 0}

    def flaky(ctx):
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RuntimeError("transient")
        return "ok"

    def dead(ctx):
        calls["dead"] += 1
        raise RuntimeError("permanent")

    d = _dag(tmp_path_factory)
    d.task("flaky", flaky, retries=5)
    d.task("dead", dead, retries=2)
    d.task("after_dead", lambda c: None, upstream=("dead",))
    rep = d.run()
    assert rep.tasks["flaky"].status == "success"
    assert rep.tasks["flaky"].attempts == 3
    assert rep.tasks["flaky"].result == "ok"
    assert rep.tasks["dead"].status == "failed"
    assert calls["dead"] == 3  # 1 + 2 retries
    assert "permanent" in rep.tasks["dead"].error
    assert rep.tasks["after_dead"].status == "upstream_failed"
    assert not rep.ok


def test_skip_propagates_unless_none_failed(tmp_path_factory):
    ran = []
    d = _dag(tmp_path_factory)
    d.task("src", lambda c: (_ for _ in ()).throw(Skip("no new data")))
    d.task("mid", lambda c: ran.append("mid"), upstream=("src",))
    d.task("end", lambda c: ran.append("end"), upstream=("mid",))
    d.task("always", lambda c: ran.append("always"), upstream=("src",),
           trigger_rule="none_failed")
    rep = d.run()
    assert rep.tasks["src"].status == "skipped"
    assert rep.tasks["mid"].status == "upstream_skipped"
    assert rep.tasks["end"].status == "upstream_skipped"
    assert rep.tasks["always"].status == "success"
    assert ran == ["always"]
    assert rep.ok  # skipped-only runs count as clean


def test_independent_branch_survives_failure(tmp_path_factory):
    ran = []
    d = _dag(tmp_path_factory)
    d.task("bad", lambda c: 1 / 0)
    d.task("good", lambda c: ran.append("good"))
    d.task("after_good", lambda c: ran.append("after_good"),
           upstream=("good",))
    rep = d.run()
    assert rep.tasks["bad"].status == "failed"
    assert ran == ["good", "after_good"]


def test_cycle_detection(tmp_path_factory):
    d = _dag(tmp_path_factory)
    d.task("a", lambda c: None)
    d.task("b", lambda c: None, upstream=("a",))
    d._tasks["a"].upstream = ("b",)  # forge a cycle post-registration
    with pytest.raises(CycleError):
        d.run()


def test_unknown_upstream_and_duplicate_rejected(tmp_path_factory):
    d = _dag(tmp_path_factory)
    d.task("a", lambda c: None)
    with pytest.raises(ValueError, match="unknown task"):
        d.task("b", lambda c: None, upstream=("nope",))
    with pytest.raises(ValueError, match="duplicate"):
        d.task("a", lambda c: None)


def test_no_overlapping_runs(tmp_path_factory):
    lock_dir = str(tmp_path_factory.mktemp("daglock"))
    started = threading.Event()
    release = threading.Event()

    d1 = Dag("same", lock_dir=lock_dir)
    d1.task("wait", lambda c: (started.set(), release.wait(10)))
    d2 = Dag("same", lock_dir=lock_dir)
    d2.task("noop", lambda c: None)

    errs = []

    def second():
        started.wait(10)
        try:
            d2.run()
        except ConcurrentRunError as e:
            errs.append(e)
        finally:
            release.set()

    t2 = threading.Thread(target=second)
    t2.start()
    rep = d1.run()
    t2.join(15)
    assert rep.ok
    assert len(errs) == 1  # second run refused, not queued
    assert d2.run().ok  # and runs fine once the first finished


def test_parallel_branches_run_concurrently(tmp_path_factory):
    gate = threading.Barrier(2, timeout=10)

    def side(ctx):
        gate.wait()  # deadlocks unless both branches really overlap

    d = _dag(tmp_path_factory)
    d.task("left", side)
    d.task("right", side)
    d.task("join", lambda c: "done", upstream=("left", "right"))
    rep = d.run(max_workers=2)
    assert rep.ok and rep.tasks["join"].result == "done"


def test_parallel_tasks_run_in_the_callers_job_group(spark, tmp_path_factory):
    """Pool threads carry the caller's Spark local properties, so every
    task's jobs belong to the caller's job group (and cancelJobGroup
    reaches them), as they do with max_workers=1."""
    sc = spark.sparkContext
    d = _dag(tmp_path_factory)
    for name in ("a", "b", "c"):
        d.task(name, lambda c: spark.range(10).count())
    sc.setJobGroup("dag-outer-group", "parallel dag run")
    try:
        rep = d.run(max_workers=2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert rep.ok
    assert len(sc.statusTracker().getJobIdsForGroup("dag-outer-group")) >= 3


def test_ctx_is_threaded(tmp_path_factory):
    d = _dag(tmp_path_factory)
    d.task("a", lambda c: c["x"] + 1)
    rep = d.run(ctx={"x": 41})
    assert rep.tasks["a"].result == 42


# ---------------------------------------------------------------------------
# uber medallion DAG end-to-end
# ---------------------------------------------------------------------------

_CSV_HEADER = (
    "Date,Time,Booking ID,Booking Status,Vehicle Type,Avg VTAT,"
    "Booking Value,Ride Distance,Payment Method,"
    "Reason for cancelling by Customer,Driver Cancellation Reason,"
    "Incomplete Rides Reason"
)

_BATCH1 = [
    "2024-05-01,08:30:00,GEN-001,Completed,Sedan,4.5,250.0,10.0,UPI,,,",
    "2024-05-01,13:15:00,GEN-002,Completed,Bike,null,80.0,4.0,Cash,,,",
    "2024-05-02,16:00:00,GEN-003,Cancelled by Driver,Bike,5.5,,2.0,Cash,,Too far,",
]

_BATCH2 = [
    "2024-05-03,09:00:00,GEN-004,Completed,Auto,3.0,120.0,5.0,UPI,,,",
]


def _write_csv(raw_dir: str, name: str, rows: list[str]) -> None:
    with open(os.path.join(raw_dir, name), "w") as f:
        f.write(_CSV_HEADER + "\n" + "\n".join(rows) + "\n")


def test_uber_dag_end_to_end_and_idempotent_rerun(spark, tmp_path_factory):
    from lakehouse_v3_spark.pipelines.dags import uber_dag
    from lakehouse_v3_spark.tables import TableManager

    raw = str(tmp_path_factory.mktemp("uber_raw"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_wh")), backend="parquet"
    )
    _write_csv(raw, "day1.csv", _BATCH1)

    dag = uber_dag(spark, raw, tm, retries=0)
    rep = dag.run()
    assert rep.ok, rep.states()
    states = rep.states()
    # maintenance rides every run and self-skips under the file bound
    assert states.pop("maintain") == "skipped"
    assert states == {
        "ingest": "success",
        "csv_to_delta": "success",
        "bronze2_to_silver": "success",
        "silver_to_gold": "success",
    }
    assert rep.tasks["ingest"].result == {"new_files": 1}
    assert tm.read("uber.bronze1").count() == 3
    assert tm.read("uber.silver").count() == 3
    assert tm.exists("uber.gold_booking_stats")
    gold1 = {
        (r.Date, r.Vehicle_Type): r.Total_Bookings
        for r in tm.read("uber.gold_booking_stats").collect()
    }

    # re-run with nothing new: ingest SKIPS, downstream upstream_skipped,
    # every table byte-identical in row count and gold values
    rep2 = uber_dag(spark, raw, tm, retries=0).run()
    assert rep2.ok
    states2 = rep2.states()
    assert states2.pop("maintain") == "skipped"
    assert states2 == {
        "ingest": "skipped",
        "csv_to_delta": "upstream_skipped",
        "bronze2_to_silver": "upstream_skipped",
        "silver_to_gold": "upstream_skipped",
    }
    assert tm.read("uber.bronze1").count() == 3
    gold2 = {
        (r.Date, r.Vehicle_Type): r.Total_Bookings
        for r in tm.read("uber.gold_booking_stats").collect()
    }
    assert gold2 == gold1

    # a new landing file: only IT is ingested, layers recompute
    _write_csv(raw, "day2.csv", _BATCH2)
    rep3 = uber_dag(spark, raw, tm, retries=0).run()
    assert rep3.ok
    assert rep3.tasks["ingest"].result == {"new_files": 1}
    assert tm.read("uber.bronze1").count() == 4
    assert tm.read("uber.silver").count() == 4
    assert (
        tm.read("uber.gold_booking_stats")
        .filter("Date = '2024-05-03'")
        .count()
        == 1
    )


# ---------------------------------------------------------------------------
# audit fan-out/fan-in DAG end-to-end
# ---------------------------------------------------------------------------

def test_audit_dag_fan_out_fan_in(spark, tmp_path_factory):
    from lakehouse_v3_spark.audit.config import CompletenessRule, ValidityRule
    from lakehouse_v3_spark.pipelines.dags import audit_dag
    from lakehouse_v3_spark.tables import TableManager

    tables = {
        "t": spark.createDataFrame(
            [(1, -1.0, None), (2, 5.0, "x"), (3, -2.0, "y")],
            "id long, v double, s string",
        )
    }
    comp = [CompletenessRule(1, "t", ("s",), ("id",))]
    val = [ValidityRule(7, "t", "v < 0", ("id",))]
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("audit_wh")), backend="parquet"
    )
    sent = []
    dag = audit_dag(
        spark, tables, comp, val, tm, transport=sent.append, retries=0
    )
    rep = dag.run(max_workers=2)  # the two branches really fan out
    assert rep.ok, rep.states()
    assert set(rep.states()) == {
        "001_load_config", "002_completeness", "002_validity",
        "004_fact_completeness", "004_fact_validity",
        "005_send_alert_hourly", "maintain",
    }
    assert all(
        s == "success"
        for name, s in rep.states().items()
        if name != "maintain"  # self-skips within the file bound
    )
    # both rule families contributed violations to the one alert
    assert len(sent) == 1
    assert "3 Violation(s)" in sent[0].subject
    assert tm.read("audit.fact_validity").count() == 2
    assert tm.read("audit.fact_completeness").count() == 1


def test_audit_dag_alert_skips_on_clean_data(spark, tmp_path_factory):
    from lakehouse_v3_spark.audit.config import CompletenessRule, ValidityRule
    from lakehouse_v3_spark.pipelines.dags import audit_dag
    from lakehouse_v3_spark.tables import TableManager

    tables = {
        "t": spark.createDataFrame([(1, 1.0, "x")], "id long, v double, s string")
    }
    comp = [CompletenessRule(1, "t", ("s",), ("id",))]
    val = [ValidityRule(7, "t", "v < 0", ("id",))]
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("audit_wh")), backend="parquet"
    )
    sent = []
    rep = audit_dag(
        spark, tables, comp, val, tm, transport=sent.append, retries=0
    ).run()
    assert rep.ok
    # 005 ran but sent nothing (reference: "No failed audits to send")
    assert rep.tasks["005_send_alert_hourly"].status == "success"
    assert rep.tasks["005_send_alert_hourly"].result is None
    assert sent == []
