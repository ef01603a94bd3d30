"""Calendar scheduling (orchestrate.Schedule / ScheduledDag) — the r7
verdict's top item: the Airflow schedule_interval + catchup semantics
landed untested. Covers the data-interval model (a run is due only
once its interval CLOSES), catchup=True backfill vs catchup=False
backlog skip, the cron-subset parser (daily M H, weekly M H + cron
weekday where 0=Sunday), loud ScheduleError on anything unsupported,
durable .last_run crash-resume, and two end-to-end ScheduledDag runs:
the interval-scoped uber medallion backfill converging to the batch
result, and the audit DAG alerting exactly once per closed interval.

Reference parity: airflow/dags/uber_dag.py:23-54 (schedule +
catchup + max_active_runs), 001_004_dataaudit.py:149-153 (hourly
audit chain).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from lakehouse_v3_spark.orchestrate import (
    Dag,
    Schedule,
    ScheduledDag,
    ScheduleError,
    Skip,
)


D = datetime  # brevity


# ---------------------------------------------------------------------------
# Schedule.due_runs — timedelta / alias interval forms
# ---------------------------------------------------------------------------

def test_daily_catchup_backfills_every_closed_interval():
    s = Schedule(start=D(2024, 5, 1), interval=timedelta(days=1))
    due = s.due_runs(None, D(2024, 5, 4, 6, 0))
    # intervals [1st,2nd) [2nd,3rd) [3rd,4th) are closed; [4th,5th) is open
    assert due == [D(2024, 5, 1), D(2024, 5, 2), D(2024, 5, 3)]


def test_catchup_false_keeps_only_newest_closed_interval():
    s = Schedule(start=D(2024, 5, 1), interval=timedelta(days=1), catchup=False)
    assert s.due_runs(None, D(2024, 5, 4, 6, 0)) == [D(2024, 5, 3)]


def test_interval_not_yet_closed_is_not_due():
    s = Schedule(start=D(2024, 5, 1), interval=timedelta(days=1))
    # at 12:00 on the 1st the [1st,2nd) interval is still open
    assert s.due_runs(None, D(2024, 5, 1, 12, 0)) == []
    # at exactly the close boundary it becomes due (tick+interval <= now)
    assert s.due_runs(None, D(2024, 5, 2)) == [D(2024, 5, 1)]


def test_last_completed_advances_the_window():
    s = Schedule(start=D(2024, 5, 1), interval=timedelta(days=1))
    due = s.due_runs(D(2024, 5, 1), D(2024, 5, 4, 6, 0))
    assert due == [D(2024, 5, 2), D(2024, 5, 3)]
    # fully caught up → nothing due
    assert s.due_runs(D(2024, 5, 3), D(2024, 5, 4, 6, 0)) == []


def test_ticks_align_to_the_start_grid():
    # start 09:30, 6h period: grid is 09:30/15:30/21:30/03:30 regardless
    # of what 'now' is
    s = Schedule(start=D(2024, 5, 1, 9, 30), interval=timedelta(hours=6))
    due = s.due_runs(None, D(2024, 5, 2, 4, 0))
    assert due == [
        D(2024, 5, 1, 9, 30),
        D(2024, 5, 1, 15, 30),
        D(2024, 5, 1, 21, 30),
    ]


def test_aliases_hourly_daily_weekly():
    h = Schedule(start=D(2024, 5, 1), interval="@hourly")
    assert h.due_runs(None, D(2024, 5, 1, 3, 30)) == [
        D(2024, 5, 1, 0), D(2024, 5, 1, 1), D(2024, 5, 1, 2)
    ]
    d = Schedule(start=D(2024, 5, 1), interval="@daily")
    assert d.due_runs(None, D(2024, 5, 3)) == [D(2024, 5, 1), D(2024, 5, 2)]
    w = Schedule(start=D(2024, 5, 6), interval="@weekly")  # a Monday
    assert w.due_runs(None, D(2024, 5, 21)) == [D(2024, 5, 6), D(2024, 5, 13)]


def test_end_bound_stops_the_schedule():
    s = Schedule(
        start=D(2024, 5, 1), interval=timedelta(days=1), end=D(2024, 5, 2)
    )
    assert s.due_runs(None, D(2024, 6, 1)) == [D(2024, 5, 1), D(2024, 5, 2)]


# ---------------------------------------------------------------------------
# cron subset
# ---------------------------------------------------------------------------

def test_cron_daily_at_hour_minute():
    s = Schedule(start=D(2024, 5, 1), interval="30 6 * * *")
    # ticks 05-01 06:30, 05-02 06:30, ...; a tick is due once the NEXT
    # tick has arrived (its data interval closes at the next tick)
    assert s.due_runs(None, D(2024, 5, 2, 6, 29)) == []
    assert s.due_runs(None, D(2024, 5, 2, 6, 30)) == [D(2024, 5, 1, 6, 30)]
    assert s.due_runs(None, D(2024, 5, 3, 7, 0)) == [
        D(2024, 5, 1, 6, 30), D(2024, 5, 2, 6, 30)
    ]


def test_cron_weekly_weekday_mapping_is_cron_not_python():
    # cron dow 1 = Monday (0 = Sunday). 2024-05-06 is a Monday.
    s = Schedule(start=D(2024, 5, 1), interval="0 9 * * 1")
    due = s.due_runs(None, D(2024, 5, 20, 9, 0))
    assert due == [D(2024, 5, 6, 9, 0), D(2024, 5, 13, 9, 0)]
    for t in due:
        assert t.weekday() == 0  # python Monday
    # cron 0 = Sunday (2024-05-05)
    sun = Schedule(start=D(2024, 5, 1), interval="0 9 * * 0")
    first = sun.due_runs(None, D(2024, 5, 12, 9, 0))
    assert first == [D(2024, 5, 5, 9, 0)]
    assert first[0].weekday() == 6  # python Sunday


def test_cron_interval_of_is_next_tick_not_fixed_step():
    s = Schedule(start=D(2024, 5, 1), interval="0 9 * * 1")
    # weekly cron: the interval opening Monday 05-06 closes Monday 05-13
    assert s._interval_of(D(2024, 5, 6, 9, 0)) == D(2024, 5, 13, 9, 0)


@pytest.mark.parametrize(
    "bad",
    [
        "*/5 * * * *",      # step syntax unsupported
        "0 9 1 * *",        # day-of-month unsupported
        "0 9 * 2 *",        # month unsupported
        "99 9 * * *",       # minute out of range
        "0 25 * * *",       # hour out of range
        "whenever",
        "@monthly",
    ],
)
def test_unsupported_schedule_raises_loudly(bad):
    with pytest.raises(ScheduleError):
        Schedule(start=D(2024, 5, 1), interval=bad).due_runs(
            None, D(2024, 6, 1)
        )


def test_non_positive_timedelta_rejected():
    with pytest.raises(ScheduleError):
        Schedule(start=D(2024, 5, 1), interval=timedelta(0)).due_runs(
            None, D(2024, 6, 1)
        )


def test_runaway_guard_on_absurd_backlog():
    s = Schedule(start=D(1900, 1, 1), interval=timedelta(minutes=1))
    with pytest.raises(ScheduleError, match="100k"):
        s.due_runs(None, D(2024, 1, 1))


# ---------------------------------------------------------------------------
# ScheduledDag: tick, ctx threading, durable state, crash-resume
# ---------------------------------------------------------------------------

def _counting_dag(
    tmp_path_factory, seen: list, fail_on: "datetime | None" = None
) -> Dag:
    dag = Dag("sched_t", lock_dir=str(tmp_path_factory.mktemp("daglock")))

    def job(ctx):
        if fail_on is not None and ctx["logical_date"] == fail_on:
            raise RuntimeError("boom")
        seen.append(
            (
                ctx["logical_date"],
                ctx["data_interval_start"],
                ctx["data_interval_end"],
            )
        )

    dag.task("job", job)
    return dag


def test_tick_runs_oldest_first_and_threads_data_interval(tmp_path_factory):
    seen: list = []
    sd = ScheduledDag(
        _counting_dag(tmp_path_factory, seen),
        Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 3, 1, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 1), D(2024, 5, 2)]
    assert all(rep.ok for _, rep in out)
    assert seen == [
        (D(2024, 5, 1), D(2024, 5, 1), D(2024, 5, 2)),
        (D(2024, 5, 2), D(2024, 5, 2), D(2024, 5, 3)),
    ]
    # same tick again: nothing due, nothing re-run
    assert sd.tick(D(2024, 5, 3, 1, 0)) == []
    assert len(seen) == 2


def test_crash_resume_from_last_run_state_in_a_new_instance(tmp_path_factory):
    state = str(tmp_path_factory.mktemp("schedstate"))
    seen: list = []
    sched = Schedule(start=D(2024, 5, 1), interval=timedelta(days=1))
    ScheduledDag(_counting_dag(tmp_path_factory, seen), sched, state).tick(
        D(2024, 5, 2, 2, 0)
    )
    assert [x[0] for x in seen] == [D(2024, 5, 1)]

    # a NEW process (fresh objects, same state_dir) resumes where the
    # old one stopped: only the newly closed interval runs
    seen2: list = []
    sd2 = ScheduledDag(_counting_dag(tmp_path_factory, seen2), sched, state)
    assert sd2.last_completed() == D(2024, 5, 1)
    out = sd2.tick(D(2024, 5, 4, 2, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 2), D(2024, 5, 3)]
    assert [x[0] for x in seen2] == [D(2024, 5, 2), D(2024, 5, 3)]


def test_failed_run_advances_pointer_but_reports_failure(tmp_path_factory):
    # depends_on_past=False semantics: a failed logical date does not
    # wedge the schedule; the report carries the failure
    seen: list = []
    sd = ScheduledDag(
        _counting_dag(tmp_path_factory, seen, fail_on=D(2024, 5, 1)),
        Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 3, 1, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 1), D(2024, 5, 2)]
    assert not out[0][1].ok and out[1][1].ok
    assert sd.last_completed() == D(2024, 5, 2)
    assert [x[0] for x in seen] == [D(2024, 5, 2)]


def test_catchup_false_tick_skips_backlog(tmp_path_factory):
    seen: list = []
    sd = ScheduledDag(
        _counting_dag(tmp_path_factory, seen),
        Schedule(
            start=D(2024, 5, 1), interval=timedelta(days=1), catchup=False
        ),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 4, 6, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 3)]
    assert [x[0] for x in seen] == [D(2024, 5, 3)]


# ---------------------------------------------------------------------------
# end-to-end: ScheduledDag drives the interval-scoped uber medallion
# backfill; catchup over 3 daily intervals converges to the batch result
# ---------------------------------------------------------------------------

_CSV_HEADER = (
    "Date,Time,Booking_ID,Booking_Status,Vehicle_Type,Avg_VTAT,"
    "Booking_Value,Ride_Distance,Payment_Method,"
    "Reason_for_cancelling_by_Customer,Driver_Cancellation_Reason,"
    "Incomplete_Rides_Reason"
)

_ROWS = [
    "2024-05-01,08:30:00,SCH-001,Completed,Sedan,4.5,250.0,10.0,UPI,,,",
    "2024-05-01,13:15:00,SCH-002,Completed,Bike,null,80.0,4.0,Cash,,,",
    "2024-05-02,16:00:00,SCH-003,Cancelled by Driver,Bike,5.5,,2.0,Cash,,Too far,",
    "2024-05-02,17:00:00,SCH-004,Completed,Sedan,2.0,300.0,12.0,UPI,,,",
    "2024-05-03,09:00:00,SCH-005,Completed,Auto,3.0,120.0,5.0,UPI,,,",
]


def _uber_landing(tmp_path_factory) -> str:
    """``_ROWS`` in the reference collectors' Hive-style landing layout
    (date=YYYY-MM-DD dirs, airflow/tasks/uber/ingestion.py:147-166)."""
    raw = str(tmp_path_factory.mktemp("uber_raw"))
    by_day: dict[str, list[str]] = {}
    for row in _ROWS:
        by_day.setdefault(row.split(",", 1)[0], []).append(row)
    for day, rows in by_day.items():
        os.makedirs(os.path.join(raw, f"date={day}"))
        with open(os.path.join(raw, f"date={day}", "part-0.csv"), "w") as f:
            f.write(_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    return raw


def _gold_rows(tm, table):
    df = tm.read(table)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_scheduled_uber_backfill_matches_batch_run(spark, tmp_path_factory):
    from lakehouse_v3_spark.pipelines.dags import scheduled_uber_dag, uber_dag
    from lakehouse_v3_spark.tables import TableManager

    raw = _uber_landing(tmp_path_factory)

    # batch reference run: one uber_dag pass over everything
    tm_batch = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_wh_b")), backend="parquet"
    )
    assert uber_dag(spark, raw, tm_batch, retries=0).run().ok

    # scheduled backfill: daily schedule, catchup over the 3 closed days
    tm_sched = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_wh_s")), backend="parquet"
    )
    sd = ScheduledDag(
        scheduled_uber_dag(spark, raw, tm_sched),
        Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 4, 6, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 1), D(2024, 5, 2), D(2024, 5, 3)]
    assert all(rep.ok for _, rep in out)
    # each run ingested exactly its own day's rows ...
    results = [rep.tasks["ingest"].result for _, rep in out]
    assert [r["interval_rows"] for r in results] == [2, 2, 1]
    assert [r["unparsed_rows"] for r in results] == [0, 0, 0]
    # ... and READ only its own day's landing files (r8 verdict item
    # #2: the interval filter prunes partition directories — a tick
    # never opens another interval's data)
    for (lg, _), r in zip(out, results):
        day = lg.date().isoformat()
        assert r["files_read"] == [
            os.path.join(raw, f"date={day}", "part-0.csv")
        ], (day, r["files_read"])

    for gold in (
        "uber.gold_booking_stats",
        "uber.gold_rushhour_stats",
        "uber.gold_cancellation_stats",
        "uber.gold_payment_stats",
    ):
        assert _gold_rows(tm_sched, gold) == _gold_rows(tm_batch, gold), gold

    # an extra tick with no newly closed interval: nothing due
    assert sd.tick(D(2024, 5, 4, 12, 0)) == []

    # next day closes one more (empty) interval: ingest Skips, gold
    # untouched — the P18 isEmpty short-circuit under the scheduler
    before = _gold_rows(tm_sched, "uber.gold_booking_stats")
    out2 = sd.tick(D(2024, 5, 5, 6, 0))
    assert [lg for lg, _ in out2] == [D(2024, 5, 4)]
    assert out2[0][1].states()["ingest"] == "skipped"
    assert _gold_rows(tm_sched, "uber.gold_booking_stats") == before


def test_repeated_uber_tick_and_audit_reuse_generated_code(spark, tmp_path_factory):
    """The session's generated-code cache holds the working set of a
    scheduled uber tick plus an audit run: repeating both over a fresh
    copy of the same warehouse compiles only the per-run timestamp
    literals again (current_timestamp() is inlined as a Java
    constant). With Spark's default 100-entry cache the classes evict
    each other and the second run recompiled ~250 of them."""
    import shutil
    import time

    from lakehouse_v3_spark.audit.config import CompletenessRule, ValidityRule
    from lakehouse_v3_spark.pipelines.dags import (
        audit_dag,
        scheduled_uber_dag,
        uber_dag,
    )
    from lakehouse_v3_spark.tables import TableManager

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    raw = _uber_landing(tmp_path_factory)
    # history: day 1 through the file-log DAG, as a long-lived
    # deployment would hold it before the next scheduled tick
    snapshot = str(tmp_path_factory.mktemp("uber_wh_hist"))
    assert uber_dag(
        spark, os.path.join(raw, "date=2024-05-01"),
        TableManager(spark, snapshot, backend="parquet"), retries=0,
    ).run().ok
    comp = [CompletenessRule(1, "silver", ("Booking_ID", "Booking_Value"),
                             ("Booking_ID",))]
    val = [ValidityRule(2, "silver", "Ride_Distance > 10", ("Booking_ID",))]
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    # the counter is live: a never-seen literal is a never-seen class
    before = compiles.getCount()
    spark.range(1).selectExpr(f"id * {time.time_ns()} AS x").collect()
    assert compiles.getCount() > before
    per_run = []
    for _ in range(2):
        wh = os.path.join(str(tmp_path_factory.mktemp("uber_wh_run")), "wh")
        shutil.copytree(snapshot, wh)
        tm = TableManager(spark, wh, backend="parquet")
        before = compiles.getCount()
        out = ScheduledDag(
            scheduled_uber_dag(spark, raw, tm),
            Schedule(start=D(2024, 5, 2), interval=timedelta(days=1)),
            state_dir=os.path.join(wh, "_schedule"),
        ).tick(D(2024, 5, 3, 1, 0))
        assert [lg for lg, _ in out] == [D(2024, 5, 2)]
        assert out[0][1].ok, out[0][1].states()
        rep = audit_dag(
            spark, {"silver": tm.read("uber.silver")}, comp, val, tm,
            transport=lambda msg: None, retries=0,
        ).run(max_workers=2)
        assert rep.ok, rep.states()
        per_run.append(compiles.getCount() - before)
    assert per_run[1] <= 8, per_run


def test_concurrent_ticks_run_each_logical_date_exactly_once(tmp_path_factory):
    """Two schedulers ticking at once (two cron firings / two hosts on
    shared storage) must not double-run a logical date: the whole tick
    serializes on the state-file flock, and the loser re-reads the
    advanced pointer."""
    import threading
    import time as _time

    state = str(tmp_path_factory.mktemp("schedstate"))
    runs: list = []
    runs_mu = threading.Lock()

    def make_sd():
        dag = Dag(
            "conc_t", lock_dir=str(tmp_path_factory.mktemp("daglock"))
        )

        def job(ctx):
            _time.sleep(0.05)  # widen the window
            with runs_mu:
                runs.append(ctx["logical_date"])

        dag.task("job", job)
        return ScheduledDag(
            dag,
            Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
            state_dir=state,
        )

    sds = [make_sd() for _ in range(3)]
    threads = [
        threading.Thread(target=lambda s=s: s.tick(D(2024, 5, 4, 6, 0)))
        for s in sds
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    # 3 closed intervals, each run EXACTLY once across all schedulers
    assert sorted(runs) == [D(2024, 5, 1), D(2024, 5, 2), D(2024, 5, 3)]


def test_cli_schedule_uber_tick_and_resume(spark, capsys, tmp_path_factory):
    """`python -m lakehouse_v3_spark schedule-uber` — one cron-invokable
    scheduler tick: catchup backfill on the first invocation, durable
    resume (no re-runs) on the second."""
    import json

    from lakehouse_v3_spark.__main__ import main
    from lakehouse_v3_spark.tables import TableManager

    raw = str(tmp_path_factory.mktemp("uber_raw_cli"))
    wh = str(tmp_path_factory.mktemp("uber_wh_cli"))
    with open(os.path.join(raw, "all.csv"), "w") as f:
        f.write(_CSV_HEADER + "\n" + "\n".join(_ROWS) + "\n")

    argv = [
        "schedule-uber", "--raw-dir", raw, "--warehouse", wh,
        "--start", "2024-05-01", "--interval", "@daily",
        "--now", "2024-05-04T06:00:00",
    ]
    assert main(argv, spark=spark) == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [x["logical_date"][:10] for x in lines] == [
        "2024-05-01", "2024-05-02", "2024-05-03"
    ]
    assert all(x["ok"] for x in lines)
    tm = TableManager(spark, wh, backend="parquet")
    assert tm.read("uber.gold_booking_stats").count() == 5

    # second tick at the same clock: durable state → nothing due
    assert main(argv, spark=spark) == 0
    assert capsys.readouterr().out.strip() == ""


def test_scheduled_uber_hourly_intervals_slice_within_a_day(spark, tmp_path_factory):
    """r8 review fix: the interval filter is timestamp-granular
    (Date + Time), so an @hourly schedule ingests each hour's rows in
    its own run instead of skipping every intra-day interval."""
    from lakehouse_v3_spark.pipelines.dags import scheduled_uber_dag
    from lakehouse_v3_spark.tables import TableManager

    raw = str(tmp_path_factory.mktemp("uber_raw_h"))
    rows = [
        "2024-05-01,08:30:00,HR-001,Completed,Sedan,4.5,250.0,10.0,UPI,,,",
        "2024-05-01,08:45:00,HR-002,Completed,Bike,2.0,80.0,4.0,Cash,,,",
        "2024-05-01,09:15:00,HR-003,Completed,Auto,3.0,120.0,5.0,UPI,,,",
    ]
    with open(os.path.join(raw, "d.csv"), "w") as f:
        f.write(_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_wh_h")), backend="parquet"
    )
    sd = ScheduledDag(
        scheduled_uber_dag(spark, raw, tm),
        Schedule(start=D(2024, 5, 1, 8), interval="@hourly"),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 1, 10, 0))  # hours [8,9) and [9,10) closed
    assert [lg for lg, _ in out] == [D(2024, 5, 1, 8), D(2024, 5, 1, 9)]
    # flat (unpartitioned) landing files carry no date= info: the
    # pruner conservatively keeps them and the timestamp filter does
    # the slicing — pruning may read more than the interval, never less
    assert [rep.tasks["ingest"].result["interval_rows"] for _, rep in out] == [
        2,  # 08:30 + 08:45
        1,  # 09:15
    ]
    assert tm.read("uber.bronze1").count() == 3


def test_scheduled_uber_surfaces_unparseable_timestamps(spark, tmp_path_factory):
    """r8 advisory: rows whose Date/Time fail to_timestamp can belong
    to NO interval — they must be counted and surfaced in the ingest
    result (and the Skip message), never silently vanish from
    bronze1."""
    from lakehouse_v3_spark.pipelines.dags import scheduled_uber_dag
    from lakehouse_v3_spark.tables import TableManager

    raw = str(tmp_path_factory.mktemp("uber_raw_bad"))
    rows = [
        "2024-05-01,08:30:00,BAD-001,Completed,Sedan,4.5,250.0,10.0,UPI,,,",
        "not-a-date,xx:yy,BAD-002,Completed,Bike,2.0,80.0,4.0,Cash,,,",
        "2024-05-01,zz:00:00,BAD-003,Completed,Auto,3.0,120.0,5.0,UPI,,,",
    ]
    os.makedirs(os.path.join(raw, "date=2024-05-01"))
    with open(
        os.path.join(raw, "date=2024-05-01", "part-0.csv"), "w"
    ) as f:
        f.write(_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_wh_bad")), backend="parquet"
    )
    sd = ScheduledDag(
        scheduled_uber_dag(spark, raw, tm),
        Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 2, 6, 0))
    assert len(out) == 1 and out[0][1].ok
    res = out[0][1].tasks["ingest"].result
    assert res["interval_rows"] == 1
    assert res["unparsed_rows"] == 2  # surfaced, not silently dropped
    assert tm.read("uber.bronze1").count() == 1

    # an interval whose only rows are unparseable Skips with the count
    # in the message (visible signal, not an empty-looking no-op)
    os.makedirs(os.path.join(raw, "date=2024-05-02"))
    with open(
        os.path.join(raw, "date=2024-05-02", "part-0.csv"), "w"
    ) as f:
        f.write(
            _CSV_HEADER + "\n"
            + "garbage,??,BAD-004,Completed,Bike,2.0,80.0,4.0,Cash,,,\n"
        )
    out2 = sd.tick(D(2024, 5, 3, 6, 0))
    assert len(out2) == 1
    rep = out2[0][1]
    assert rep.states()["ingest"] == "skipped"
    assert "1 unparseable" in (rep.tasks["ingest"].error or "")


def test_scheduled_audit_dag_alerts_once_per_closed_interval(spark, tmp_path_factory):
    """r7 verdict item #7: audit engine + fact builder + alerting under
    the scheduler — planted violations produce a FAIL alert exactly
    once per closed interval (reference 001_004_dataaudit.py:149-153
    runs hourly)."""
    from lakehouse_v3_spark.audit.config import CompletenessRule, ValidityRule
    from lakehouse_v3_spark.pipelines.dags import audit_dag
    from lakehouse_v3_spark.tables import TableManager

    tables = {
        "t": spark.createDataFrame(
            [(1, -1.0, None), (2, 5.0, "x")], "id long, v double, s string"
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
    sd = ScheduledDag(
        dag,
        Schedule(start=D(2024, 5, 1), interval="@hourly"),
        state_dir=str(tmp_path_factory.mktemp("schedstate")),
    )
    out = sd.tick(D(2024, 5, 1, 2, 0))  # two closed hourly intervals
    assert [lg for lg, _ in out] == [D(2024, 5, 1, 0), D(2024, 5, 1, 1)]
    assert all(rep.ok for _, rep in out)
    assert len(sent) == 2  # exactly one alert per closed interval
    assert all("Violation" in m.subject for m in sent)
    # caught up: no further interval, no further alert
    assert sd.tick(D(2024, 5, 1, 2, 30)) == []
    assert len(sent) == 2


def test_interval_pruning_is_conservative_on_odd_keys(spark, tmp_path_factory):
    """r9 review: a date= dir whose key is non-canonical must degrade
    to read-and-filter, never silently vanish from every tick —
    unpadded keys prune by PARSED date, unparseable keys are kept."""
    from lakehouse_v3_spark.pipelines.dags import _interval_csv_files

    raw = str(tmp_path_factory.mktemp("uber_raw_odd"))
    layout = {
        "date=2024-05-01": "in-interval, canonical",
        "date=2024-5-2": "in-interval, UNPADDED (must parse + match)",
        "date=2024-05-09": "outside interval (pruned)",
        "date=whenever": "unparseable (conservatively kept)",
    }
    for d in layout:
        os.makedirs(os.path.join(raw, d))
        with open(os.path.join(raw, d, "x.csv"), "w") as f:
            f.write("Date\n2024-05-01\n")
    with open(os.path.join(raw, "flat.csv"), "w") as f:
        f.write("Date\n2024-05-01\n")
    got = _interval_csv_files(raw, D(2024, 5, 1), D(2024, 5, 3))
    dirs = {os.path.basename(os.path.dirname(p)) or "." for p in got}
    assert "date=2024-05-01" in dirs
    assert "date=2024-5-2" in dirs        # unpadded still matches
    assert "date=whenever" in dirs        # unparseable kept
    assert "date=2024-05-09" not in dirs  # genuinely pruned
    assert any(p.endswith("flat.csv") for p in got)


# ---------------------------------------------------------------------------
# end-to-end: ScheduledDag drives the CURATION medallion (r10 item #4);
# 3-interval catchup ≡ one batch run, per-interval files_read pruned
# ---------------------------------------------------------------------------

def test_scheduled_curation_backfill_matches_batch_run(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.pipelines import curation as C
    from lakehouse_v3_spark.pipelines.dags import scheduled_curation_dag
    from lakehouse_v3_spark.tables import TableManager

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    a, b = hi // 3, 2 * hi // 3
    # collectors land one file per day under date= keys; id ranges are
    # monotone by day, honoring the watermark contract
    days = [
        ("2024-05-01", src.filter(F.col("doc_id") <= a)),
        ("2024-05-02", src.filter((F.col("doc_id") > a) & (F.col("doc_id") <= b))),
        ("2024-05-03", src.filter(F.col("doc_id") > b)),
    ]
    landing = str(tmp_path_factory.mktemp("cur_sched_land"))
    for day, df in days:
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(landing, f"date={day}", "docs")
        )
        # flatten: the date= dir must hold .parquet FILES for the
        # pruner; move the part file up and name it stably
        ddir = os.path.join(landing, f"date={day}")
        part = next(
            fn for fn in os.listdir(os.path.join(ddir, "docs"))
            if fn.endswith(".parquet")
        )
        os.replace(
            os.path.join(ddir, "docs", part), os.path.join(ddir, "docs.parquet")
        )
        import shutil
        shutil.rmtree(os.path.join(ddir, "docs"))

    # batch reference: one curation_dag pass over a flat landing zone
    flat = str(tmp_path_factory.mktemp("cur_sched_flat"))
    for day, _ in days:
        import shutil
        shutil.copy(
            os.path.join(landing, f"date={day}", "docs.parquet"),
            os.path.join(flat, f"{day}.parquet"),
        )
    tm_b = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_wh_b")), backend="parquet"
    )
    assert C.curation_dag(spark, flat, tm_b, retries=0).run().ok

    # scheduled backfill: daily schedule, catchup over the 3 closed days
    tm_s = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_wh_s")), backend="parquet"
    )
    sd = ScheduledDag(
        scheduled_curation_dag(spark, landing, tm_s),
        Schedule(start=D(2024, 5, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("cur_schedstate")),
    )
    out = sd.tick(D(2024, 5, 4, 6, 0))
    assert [lg for lg, _ in out] == [D(2024, 5, 1), D(2024, 5, 2), D(2024, 5, 3)]
    assert all(rep.ok for _, rep in out)
    # every tick ran the INCREMENTAL path and read ONLY its own day's
    # landing file (date= pruning + file log)
    for (lg, rep) in out:
        r = rep.tasks["ingest"].result
        day = lg.date().isoformat()
        assert r["mode"] == "incremental"
        assert r["files_read"] == [
            os.path.join(landing, f"date={day}", "docs.parquet")
        ]

    # catchup ≡ batch: every silver/gold table converges
    def rows(tm, t):
        df = tm.read(t)
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    for t in (
        "curation.silver_quality", "curation.silver_exact",
        "curation.silver_neardup", "curation.silver_clean",
        "curation.gold_split", "curation.gold_corpus",
        "curation.gold_packed", "curation.gold_summary",
        "curation.gold_funnel", "curation.near_dup_pairs",
    ):
        assert rows(tm_s, t) == rows(tm_b, t), t

    # a later tick over an interval with no landing files: ingest
    # Skips on the listing alone; every stage self-skips on its
    # consumed-tick marker (r12 crash-recovery wiring — none_failed
    # stages check the sidecar themselves instead of upstream-skipping)
    out2 = sd.tick(D(2024, 5, 5, 6, 0))
    assert [lg for lg, _ in out2] == [D(2024, 5, 4)]
    rep2 = out2[0][1]
    assert rep2.states()["ingest"] == "skipped"
    assert set(rep2.states().values()) == {"skipped"}


def test_scheduled_crash_does_not_lose_the_next_interval(spark, tmp_path_factory):
    """r12 ADVICE (medium): interval N's run fails after ingest; the
    pointer still advances (depends_on_past=False). Interval N+1's run
    used to take the resume early-return WITHOUT reading its own date=
    partition — and since no logical date ever re-runs, N+1's files
    were never ingested. The fold path must ingest them into the
    pending delta so the backfill still converges to the batch run."""
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.pipelines import curation as C
    from lakehouse_v3_spark.pipelines.dags import scheduled_curation_dag
    from lakehouse_v3_spark.tables import TableManager

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    days = [
        ("2024-06-01", src.filter(F.col("doc_id") <= hi // 2)),
        ("2024-06-02", src.filter(F.col("doc_id") > hi // 2)),
    ]
    landing = str(tmp_path_factory.mktemp("cur_fold_land"))
    flat = str(tmp_path_factory.mktemp("cur_fold_flat"))
    for day, df in days:
        ddir = os.path.join(landing, f"date={day}")
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(ddir, "docs")
        )
        part = next(
            fn for fn in os.listdir(os.path.join(ddir, "docs"))
            if fn.endswith(".parquet")
        )
        os.replace(
            os.path.join(ddir, "docs", part), os.path.join(ddir, "docs.parquet")
        )
        import shutil

        shutil.rmtree(os.path.join(ddir, "docs"))
        shutil.copy(
            os.path.join(ddir, "docs.parquet"),
            os.path.join(flat, f"{day}.parquet"),
        )

    # batch reference over BOTH days
    tm_b = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_fold_wh_b")), backend="parquet"
    )
    assert C.curation_dag(spark, flat, tm_b, retries=0).run().ok

    tm_s = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_fold_wh_s")), backend="parquet"
    )
    sd = ScheduledDag(
        scheduled_curation_dag(spark, landing, tm_s),
        Schedule(start=D(2024, 6, 1), interval=timedelta(days=1)),
        state_dir=str(tmp_path_factory.mktemp("cur_fold_sched")),
    )
    # interval 1 closes; its run dies at quality_filter AFTER ingest
    out1 = sd.tick(D(2024, 6, 2, 6, 0), {"_fail_tasks": {"quality_filter"}})
    assert [lg for lg, _ in out1] == [D(2024, 6, 1)]
    rep1 = out1[0][1]
    assert rep1.states()["ingest"] == "success"
    assert rep1.states()["quality_filter"] == "failed"
    assert not rep1.ok

    # interval 2 closes: the run must READ ITS OWN interval's file and
    # fold it into the crashed batch's unconsumed delta
    out2 = sd.tick(D(2024, 6, 3, 6, 0))
    assert [lg for lg, _ in out2] == [D(2024, 6, 2)]
    rep2 = out2[0][1]
    assert rep2.ok, rep2.states()
    ing = rep2.tasks["ingest"].result
    assert ing["mode"] == "fold"
    assert ing["new_files"] == 1
    assert ing["files_read"] == [
        os.path.join(landing, "date=2024-06-02", "docs.parquet")
    ]

    def rows(tm, t):
        df = tm.read(t)
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    for t in (
        "curation.silver_quality", "curation.silver_exact",
        "curation.silver_neardup", "curation.silver_clean",
        "curation.gold_split", "curation.gold_corpus",
        "curation.gold_packed", "curation.gold_summary",
        "curation.gold_funnel", "curation.near_dup_pairs",
    ):
        assert rows(tm_s, t) == rows(tm_b, t), t

    # steady state: a later interval with no files resumes nothing
    out3 = sd.tick(D(2024, 6, 4, 6, 0))
    assert set(out3[0][1].states().values()) == {"skipped"}
