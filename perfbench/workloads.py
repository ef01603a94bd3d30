"""The benchmark workloads.

Each workload is closed-loop and driven from one process. It exposes:

- ``open(env, registry)``: build its state on a session;
- ``warm_up()``: untimed work that brings the operations to steady state;
- ``run_pass(record)``: one pass over the frozen operation list, calling
  ``record(op_name, seconds, ok)`` per operation; returns the pass's
  seconds (the sum of its operations' seconds, or the wall time of a
  concurrent round);
- ``check(corrupt)``: the output checks, run after the timed region;
  returns the set of operation names whose output was wrong;
- ``untraced_figures(samples)``: per-layer figures taken from the
  untraced measured samples;
- ``close()``: stop what ``open`` started.

``MANIFEST`` is the frozen record of each workload: its operation
list, its inputs (sizes in ``inputs.SIZES`` and below) and its checks.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request
from contextlib import contextmanager, nullcontext
from datetime import datetime, timedelta

from inputs import (
    UBER_START,
    dir_bytes,
    gateway_statements,
    write_fixtures,
    write_uber_landing,
)

# the Python-boundary catalog queries, in pass order: one query per
# distinct Python-boundary mechanism of each operator family
CATALOG_LLM = [
    "f1_sentiment_udf",
    "udtf_sentence_split",
    "arrow_batch_charstats",
    "applyinpandas_group_median",
    "multimodal_image_decode_features",
    "multimodal_audio_frames",
    "embedding_near_dup",
    "stream_state_running_totals",
]
# query → operator family: the per-layer ``operators.*`` /
# ``functions.*`` metrics sum each family's wall time and jobs
FAMILY = {
    "f1_sentiment_udf": "functions.text",
    "udtf_sentence_split": "functions.text",
    "arrow_batch_charstats": "functions.text",
    "applyinpandas_group_median": "functions.text",
    "multimodal_image_decode_features": "operators.multimodal",
    "multimodal_audio_frames": "operators.multimodal",
    "embedding_near_dup": "operators.similarity",
}

UBER_ROWS_PER_DAY = 400
# day 0 is history, loaded in set-up through the file-log uber DAG;
# every pass ticks day 1 through the scheduled interval DAG
UBER_DAYS = 2
STMTS_PER_CLIENT = 8  # gateway statements per client per pass
STATEMENT_TIMEOUT_MS = 60_000
GATEWAY_KINDS = ("point", "agg", "topk", "join")
# data-audit rules over uber.silver: Booking_Value is null on every
# cancelled ride; the validity predicates select violating rows
AUDIT_COMPLETENESS = [(1, ("Booking_ID", "Booking_Value"))]
AUDIT_VALIDITY = [(2, "Ride_Distance > 45"), (3, "Avg_VTAT < 2")]

MANIFEST = {
    "catalog_llm": {
        "ops": CATALOG_LLM,
        "inputs": "seeded star-schema parquet fixtures (inputs.SIZES rows)",
        "check": (
            "the collected output of every timed call against the query's "
            "DuckDB oracle over the same parquet"
        ),
    },
    "medallion_ticks": {
        "ops": ["uber_tick", "audit"] + [f"gateway_{k}" for k in GATEWAY_KINDS],
        "inputs": (
            f"{UBER_DAYS} daily Uber-booking CSVs of {UBER_ROWS_PER_DAY} rows "
            f"under date= dirs; {STMTS_PER_CLIENT} seeded gateway statements "
            "per client per pass (inputs.gateway_statements)"
        ),
        "check": (
            "gold tables against a batch recompute over both days; audit "
            "violation counts against pandas over uber.silver; every gateway "
            "response against DuckDB over the same table files"
        ),
    },
}


def uber_rows_per_day(scale: float) -> int:
    return max(20, int(UBER_ROWS_PER_DAY * scale))


def prepare_inputs(workload: str, work: str, seed: int, scale: float) -> None:
    """Write the workload's seeded inputs under ``work`` (safe to run on
    a thread while the session starts)."""
    if workload == "catalog_llm":
        write_fixtures(os.path.join(work, "fixtures"), seed, scale)
    else:
        write_uber_landing(
            os.path.join(work, "landing"), seed, UBER_DAYS, uber_rows_per_day(scale)
        )


def release(spark) -> None:
    """Between operations, outside their timing: drop cached blocks and
    collect both heaps, so one operation's garbage does not land in the
    next one's time."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


@contextmanager
def job_group(spark, workload: str, op: str):
    """Label the operation's Spark jobs ``perfbench:<workload>:<op>``."""
    sc = spark.sparkContext
    sc.setJobGroup(f"perfbench:{workload}:{op}", op)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class Env:
    """What a workload needs from the harness."""

    def __init__(self, spark, work: str, seed: int, scale: float, tracer, clients: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer  # None in untraced phases
        self.clients = clients

    def span(self, layer: str, name: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(layer, name, **attrs)


def _frame_ok(got_pdf, want_pdf, rtol=None) -> bool:
    from lakehouse_v3_spark.oracle_harness import compare_frames

    return not compare_frames(got_pdf, want_pdf, rtol=rtol)


def _timed(record, op: str, fn) -> float:
    """Run ``fn`` as operation ``op``; an exception or a falsy result is
    a failed operation, never fatal."""
    t0 = time.perf_counter()
    try:
        ok = bool(fn())
    except Exception as exc:
        ok = False
        _log(f"{op}: {type(exc).__name__}: {exc}")
    seconds = time.perf_counter() - t0
    record(op, seconds, ok)
    return seconds


# ---------------------------------------------------------------------------
# catalog_llm
# ---------------------------------------------------------------------------


class CatalogLLM:
    """Each operation is ``QueryDef.fn`` and a collect of its output
    (``toPandas``); the output of every timed call is kept and checked
    after the timed region."""

    name = "catalog_llm"
    queries = CATALOG_LLM

    def open(self, env: Env, registry) -> None:
        self.env = env
        self.registry = registry
        self.sf_dir = os.path.join(env.work, "fixtures")
        self.outputs: dict[str, list] = {}

    def _run(self, q: str):
        with job_group(self.env.spark, self.name, q):
            with self.env.span("plans", "fn", query=q):
                df = self.registry[q].fn(self.env.spark, self.sf_dir)
            with self.env.span("plans", "materialize", query=q):
                return df.toPandas()

    def warm_up(self) -> None:
        # the first measured pass after a single warm-up pass still ran
        # about 10% slower than the later ones
        for _ in range(2):
            for q in self.queries:
                self._run(q)
                release(self.env.spark)

    def run_pass(self, record) -> float:
        total = 0.0
        for q in self.queries:
            def op():
                self.outputs.setdefault(q, []).append(self._run(q))
                return True

            total += _timed(record, q, op)
            release(self.env.spark)
        return total

    def check(self, corrupt: bool = False) -> set[str]:
        """Every output of the timed calls against the query's DuckDB
        oracle."""
        from lakehouse_v3_spark.oracle_harness import run_oracle

        bad = set()
        for q in self.queries:
            qd = self.registry[q]
            try:
                want = run_oracle(qd.oracle, self.sf_dir)
                if corrupt:
                    want = want.assign(corrupted=1)
                if not all(_frame_ok(got, want, qd.rtol) for got in self.outputs.get(q, [])):
                    bad.add(q)
            except Exception as exc:
                _log(f"check {q}: {type(exc).__name__}: {exc}")
                bad.add(q)
        return bad

    def untraced_figures(self, samples) -> dict:
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# medallion_ticks
# ---------------------------------------------------------------------------


class Medallion:
    """One lakehouse day per pass, from the same starting state:

    - ``uber_tick``: ``ScheduledDag(scheduled_uber_dag)`` ticks day 1
      (interval MERGE into bronze1, recompute of bronze2, silver and the
      four gold tables, maintain);
    - ``audit``: ``audit_dag`` over ``uber.silver`` (completeness and
      validity rules, ``max_workers=2``);
    - ``gateway_<kind>``: ``SqlGateway`` serves the new tables to
      ``clients`` concurrent clients, each sending ``STMTS_PER_CLIENT``
      seeded point / agg / topk / join statements with ``timeout_ms``.

    Set-up loads day 0 through the file-log ``uber_dag`` (binaryFile
    listing, ``FileLogCheckpoint`` anti-join, append, record) into a
    snapshot warehouse; every pass starts from a fresh copy of it, so
    each pass does the same work.
    """

    name = "medallion_ticks"

    def open(self, env: Env, registry) -> None:
        from lakehouse_v3_spark.sql_gateway import SqlGateway

        self.env = env
        self.rows_per_day = uber_rows_per_day(env.scale)
        self.raw = os.path.join(env.work, "landing")
        # a fresh directory per open, so a traced phase replays the
        # same state as an untraced one
        self.base = os.path.join(env.work, f"medallion-{time.time_ns()}")
        self.snapshot = os.path.join(self.base, "snapshot")
        self.passes = 0
        self.wh = None
        self.tm = None
        self.alerts: list = []
        self.responses: dict[str, set[str]] = {}
        self._mu = threading.Lock()
        self.round_seconds: list[float] = []
        self.gw = SqlGateway(env.spark).start()
        # the gateway is local: never route its requests through a proxy
        self.http = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _day(self, d: int) -> datetime:
        return datetime.fromisoformat(UBER_START) + timedelta(days=d)

    def _day_dir(self, d: int) -> str:
        return os.path.join(self.raw, f"date={self._day(d).date().isoformat()}")

    def warm_up(self) -> None:
        from lakehouse_v3_spark.pipelines.dags import uber_dag
        from lakehouse_v3_spark.tables import TableManager

        tm = TableManager(self.env.spark, self.snapshot, backend="parquet")
        rep = uber_dag(self.env.spark, self._day_dir(0), tm, retries=0).run()
        if not rep.ok:
            raise RuntimeError(f"history load failed: {rep.states()}")

    def _restore(self) -> None:
        from lakehouse_v3_spark.tables import TableManager

        old = self.wh
        self.passes += 1
        self.wh = os.path.join(self.base, f"pass-{self.passes}")
        shutil.copytree(self.snapshot, self.wh)
        self.tm = TableManager(self.env.spark, self.wh, backend="parquet")
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def _uber_tick(self) -> bool:
        from lakehouse_v3_spark.orchestrate import Schedule, ScheduledDag
        from lakehouse_v3_spark.pipelines.dags import scheduled_uber_dag

        sched = ScheduledDag(
            scheduled_uber_dag(self.env.spark, self.raw, self.tm),
            Schedule(start=self._day(1), interval=timedelta(days=1)),
            state_dir=os.path.join(self.wh, "_schedule"),
        )
        with self.env.span("orchestrate", "tick", dag="uber_scheduled") as sp:
            out = sched.tick(self._day(2) + timedelta(hours=1))
            if sp is not None:
                sp.attrs["reports"] = [rep for _, rep in out]
        if len(out) != 1 or not out[0][1].ok:
            return False
        ingest = out[0][1].tasks["ingest"].result or {}
        return ingest.get("interval_rows") == self.rows_per_day

    def _audit(self) -> bool:
        from lakehouse_v3_spark.audit.config import CompletenessRule, ValidityRule
        from lakehouse_v3_spark.pipelines.dags import audit_dag

        comp = [CompletenessRule(i, "silver", cols, ("Booking_ID",))
                for i, cols in AUDIT_COMPLETENESS]
        val = [ValidityRule(i, "silver", rule, ("Booking_ID",)) for i, rule in AUDIT_VALIDITY]
        dag = audit_dag(
            self.env.spark, {"silver": self.tm.read("uber.silver")}, comp, val,
            self.tm, transport=self.alerts.append, retries=0,
        )
        with self.env.span("orchestrate", "run", dag="dataaudit") as sp:
            rep = dag.run(max_workers=2)
            if sp is not None:
                sp.attrs["reports"] = [rep]
        return rep.ok

    # -- gateway -----------------------------------------------------------

    def _post(self, sql: str) -> tuple[int, dict]:
        body = json.dumps({"sql": sql, "timeout_ms": STATEMENT_TIMEOUT_MS}).encode()
        req = urllib.request.Request(
            self.gw.url + "/sql", body, {"Content-Type": "application/json"}
        )
        try:
            with self.http.open(req, timeout=STATEMENT_TIMEOUT_MS / 1e3 + 30) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")

    def _client(self, c: int, record) -> None:
        # every pass replays the same seeded statements
        stream = gateway_statements(self.env.seed, c, self.rows_per_day)
        for _ in range(STMTS_PER_CLIENT):
            kind, sql = next(stream)
            t0 = time.perf_counter()
            ok = False
            try:
                with self.env.span("sql_gateway", kind) as sp:
                    status, payload = self._post(sql)
                    if sp is not None:
                        sp.attrs["status"] = status
                        sp.attrs["rows"] = len(payload.get("rows", []))
                ok = status == 200
                if ok:
                    rows = json.dumps(
                        {"columns": payload["columns"], "rows": payload["rows"]}
                    )
                    with self._mu:
                        self.responses.setdefault(sql, set()).add(rows)
                else:
                    _log(f"gateway {kind}: HTTP {status}: {payload}")
            except Exception as exc:
                _log(f"gateway {kind}: {type(exc).__name__}: {exc}")
            record(f"gateway_{kind}", time.perf_counter() - t0, ok)

    def _serve(self, record) -> float:
        spark = self.env.spark
        for t in ("silver", "gold_booking_stats"):
            self.tm.read(f"uber.{t}").createOrReplaceTempView(t)
        t0 = time.perf_counter()
        clients = [
            threading.Thread(target=self._client, args=(c, record))
            for c in range(self.env.clients)
        ]
        for t in clients:
            t.start()
        for t in clients:
            t.join()
        seconds = time.perf_counter() - t0
        self.round_seconds.append(seconds)
        release(spark)
        return seconds

    def run_pass(self, record) -> float:
        spark = self.env.spark
        self._restore()
        total = 0.0
        with job_group(spark, self.name, "uber_tick"):
            total += _timed(record, "uber_tick", self._uber_tick)
        release(spark)
        with job_group(spark, self.name, "audit"):
            total += _timed(record, "audit", self._audit)
        release(spark)
        return total + self._serve(record)

    # -- checks ------------------------------------------------------------

    @staticmethod
    def _rows(df) -> list:
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    def check(self, corrupt: bool = False) -> set[str]:
        bad = set()
        for op, fn in (("uber_tick", self._check_gold), ("audit", self._check_audit)):
            try:
                if not fn(corrupt):
                    bad.add(op)
            except Exception as exc:
                _log(f"check {op}: {type(exc).__name__}: {exc}")
                bad.add(op)
        try:
            bad |= self._check_gateway(corrupt)
        except Exception as exc:
            _log(f"check gateway: {type(exc).__name__}: {exc}")
            bad |= {f"gateway_{k}" for k in GATEWAY_KINDS}
        return bad

    def _check_gold(self, corrupt: bool) -> bool:
        """Gold of the last pass ≡ one batch recompute over both days."""
        from lakehouse_v3_spark.pipelines import uber

        paths = [os.path.join(self._day_dir(d), "part-0.csv") for d in range(UBER_DAYS)]
        raw = self.env.spark.read.option("header", "true").csv(paths)
        sv = uber.silver(uber.bronze2(raw)).persist()
        ok = True
        for gold in ("booking", "rushhour", "cancellation", "payment"):
            want = self._rows(getattr(uber, f"gold_{gold}_stats")(sv))
            if corrupt:
                want = want + [("corrupted",)]
            ok &= self._rows(self.tm.read(f"uber.gold_{gold}_stats")) == want
        sv.unpersist()
        return ok

    def _check_audit(self, corrupt: bool) -> bool:
        """Each rule's violation count in the audit facts ≡ the count
        pandas finds in uber.silver."""
        from pyspark.sql import functions as F

        sv = self.tm.read("uber.silver").toPandas()
        want = {i: int(sv[list(cols)].isna().any(axis=1).sum())
                for i, cols in AUDIT_COMPLETENESS}
        want[2] = int((sv["Ride_Distance"] > 45).sum())
        want[3] = int((sv["Avg_VTAT"] < 2).sum())
        if corrupt:
            want = {k: v + 1 for k, v in want.items()}
        got = {}
        for t in ("audit.fact_completeness", "audit.fact_validity"):
            for r in (self.tm.read(t).groupBy("rule_id")
                      .agg(F.max("n_violated").alias("n")).collect()):
                got[int(r["rule_id"])] = int(r["n"])
        return got == want and len(self.alerts) == self.passes

    def _check_gateway(self, corrupt: bool) -> set[str]:
        """Every distinct response ≡ DuckDB over the table files the
        last pass served (every pass serves the same rows)."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for t in ("silver", "gold_booking_stats"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{self.tm.path('uber.' + t)}/*.parquet', union_by_name=true)"
            )
        bad = set()
        for sql, answers in self.responses.items():
            kind = sql.split("*/", 1)[0].strip("/* ")
            want = con.execute(sql).df()
            if corrupt:
                want = want.assign(corrupted=1)
            for a in answers:
                got = json.loads(a)
                got_pdf = pd.DataFrame(got["rows"], columns=got["columns"])
                if len(got_pdf) != len(want) or not _frame_ok(got_pdf, want, 1e-9):
                    bad.add(f"gateway_{kind}")
        return bad

    def untraced_figures(self, samples) -> dict:
        """Statement latency percentiles and throughput over the
        measured serving rounds."""
        lat = sorted(s for op, s, _ok in samples if op.startswith("gateway_"))
        q = statistics.quantiles(lat, n=100, method="inclusive")
        return {
            "sql_gateway.stmt_p50_ms": statistics.median(lat) * 1e3,
            "sql_gateway.stmt_p95_ms": q[94] * 1e3,
            "sql_gateway.stmts_per_s": len(lat) / sum(self.round_seconds),
        }

    def close(self) -> None:
        self.gw.stop()

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self._day_dir(d), "part-0.csv"))
            for d in range(UBER_DAYS)
        )

    def stored_bytes(self) -> int:
        return dir_bytes(self.wh)


WORKLOADS = {
    "catalog_llm": CatalogLLM,
    "medallion_ticks": Medallion,
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
