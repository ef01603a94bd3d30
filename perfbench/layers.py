"""Per-layer metrics of a traced run.

Every traced run prints every name in ``METRICS``; a layer the workload
does not reach reads 0. Times are per traced pass, except the set-up
figures of ``setup_metrics`` (``session``, ``plans.load_all`` and the
``incremental`` file log, which the medallion history load uses) and
the ``sql_gateway.stmt_*`` figures, taken over the untraced passes.
Spark counters come from the event log, attributed to an operation when
the job was submitted inside that operation's span.
"""

from __future__ import annotations

from tracing import union_seconds
from workloads import FAMILY, GATEWAY_KINDS

_SPARK = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_span_s", "s"), ("spark.driver_only_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
]
_PYTHON = [
    ("python.worker_run_ms", "ms"), ("python.worker_init_ms", "ms"),
    ("python.worker_start_ms", "ms"), ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"), ("python.rdd_stage_run_s", "s"),
    ("python.jobs", "count"),
]
_FAMILIES = sorted(set(FAMILY.values()))
_TABLE_OPS = ["merge", "overwrite", "append", "compact", "vacuum"]
_DAG_TASKS = {
    "uber_scheduled": ["ingest", "csv_to_delta", "bronze2_to_silver", "silver_to_gold",
                       "maintain"],
    "dataaudit": ["001_load_config", "002_completeness", "002_validity",
                  "004_fact_completeness", "004_fact_validity", "005_send_alert_hourly"],
}
_STREAM_PHASES = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
}

METRICS: list[tuple[str, str]] = (
    [("session.get_spark_s", "s"), ("plans.load_all_s", "s"),
     ("incremental.new_files_s", "s"), ("incremental.record_s", "s"),
     ("incremental.calls", "count"),
     ("plans.fn_s", "s"), ("plans.materialize_s", "s"),
     ("plans.fn_jobs", "count"), ("plans.materialize_jobs", "count")]
    + _SPARK + _PYTHON
    + [m for f in _FAMILIES for m in ((f + "_s", "s"), (f + "_jobs", "count"))]
    + [(f"tables.{op}_s", "s") for op in _TABLE_OPS]
    + [("tables.calls", "count"), ("tables.bytes_written", "bytes"),
       ("tables.files_written", "count"), ("tables.write_amplification", "ratio"),
       ("tables.stored_bytes_per_input_byte", "ratio")]
    + [("orchestrate.run_s", "s"), ("orchestrate.overhead_s", "s"),
       ("orchestrate.retries", "count")]
    + [(f"orchestrate.task_s.{d}.{t}", "s") for d, ts in _DAG_TASKS.items() for t in ts]
    + [("audit.run_s", "s"), ("audit.alerts", "count")]
    + [(f"sql_gateway.request_ms.{k}", "ms") for k in GATEWAY_KINDS]
    + [("sql_gateway.spark_job_ms", "ms"), ("sql_gateway.non_spark_ms", "ms"),
       ("sql_gateway.rows_returned", "count"), ("sql_gateway.http_errors", "count"),
       ("sql_gateway.stmt_p50_ms", "ms"), ("sql_gateway.stmt_p95_ms", "ms"),
       ("sql_gateway.stmts_per_s", "1/s")]
    + [("streaming.batches", "count")]
    + [(f"streaming.{k}", "ms") for k in _STREAM_PHASES]
    + [("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "bytes"),
       ("streaming.outside_batch_s", "s")]
    + [("trace.overhead_frac", "ratio"), ("host.mc_probe_ratio", "ratio"),
       ("host.load1", "load")]
)
_UNITS = dict(METRICS)


def unit(name: str) -> str:
    return _UNITS[name]


def setup_metrics(tracer) -> dict:
    """Layer figures of the traced run's set-up (before the traced pass)."""
    out = {
        "session.get_spark_s": tracer.total("session", "get_spark"),
        "plans.load_all_s": tracer.total("plans", "load_all"),
        "incremental.calls": len(tracer.find("incremental")),
    }
    for name in ("new_files", "record"):
        out[f"incremental.{name}_s"] = tracer.total("incremental", name)
    return out


def _within(t: float, span) -> bool:
    return span.start <= t <= span.end


def per_layer(tracer, jobs, progress, window, stored) -> dict:
    p0, p1 = window
    out = {name: 0.0 for name, _u in METRICS}
    jobs = [j for j in jobs if p0 <= j.submit <= p1]
    ops = tracer.find("op")

    # spark: every job of the pass
    for j in jobs:
        c = j.counters
        out["spark.jobs"] += 1
        out["spark.stages"] += c.get("stages", 0)
        for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "output_bytes"):
            out[f"spark.{k}"] += c.get(k, 0.0)
        for k in ("worker_run_ms", "worker_init_ms", "worker_start_ms",
                  "bytes_sent", "bytes_returned"):
            out[f"python.{k}"] += c.get("py_" + k, 0.0)
        out["python.rdd_stage_run_s"] += c.get("python_rdd_run_s", 0.0)
        out["python.jobs"] += 1 if c.get("python_stage") else 0
    spans = [(j.submit, j.end or j.submit) for j in jobs]
    out["spark.job_span_s"] = union_seconds(spans)
    for op in ops:
        inside = [
            (max(s, op.start), min(e, op.end))
            for s, e in spans if s <= op.end and e >= op.start
        ]
        out["spark.driver_only_s"] += op.seconds - union_seconds(inside)

    # plans: fn and materialize spans, jobs submitted inside them
    for kind in ("fn", "materialize"):
        ss = tracer.find("plans", kind)
        out[f"plans.{kind}_s"] = sum(s.seconds for s in ss)
        out[f"plans.{kind}_jobs"] = sum(
            1 for j in jobs if any(_within(j.submit, s) for s in ss)
        )

    # operator families: the family's query wall time and jobs
    for op in ops:
        fam = FAMILY.get(op.name)
        if fam:
            out[fam + "_s"] += op.seconds
            out[fam + "_jobs"] += sum(1 for j in jobs if _within(j.submit, op))

    # tables: the TableManager write wrappers
    for s in tracer.find("tables"):
        out[f"tables.{s.name}_s"] += s.seconds
        out["tables.calls"] += 1
        out["tables.bytes_written"] += s.attrs.get("bytes_written", 0)
        out["tables.files_written"] += s.attrs.get("files_written", 0)
    if stored:
        wh_bytes, in_bytes = stored
        day_bytes = in_bytes / 2  # a pass lands one of the two equal days
        out["tables.write_amplification"] = out["tables.bytes_written"] / day_bytes
        out["tables.stored_bytes_per_input_byte"] = wh_bytes / in_bytes

    # orchestrate: DAG runs and their DagRunReports; overhead is run
    # time minus summed task time, negative when tasks ran in parallel
    runs = tracer.find("orchestrate")
    out["orchestrate.run_s"] = sum(s.seconds for s in runs)
    task_s = 0.0
    for dag_id, rep in _reports(runs):
        for name, tr in rep.tasks.items():
            key = f"orchestrate.task_s.{dag_id}.{name}"
            if key in out:
                out[key] += tr.seconds
            task_s += tr.seconds
            out["orchestrate.retries"] += max(0, tr.attempts - 1)
    out["orchestrate.overhead_s"] = out["orchestrate.run_s"] - task_s

    # audit: the data-audit DAG run and the facts it wrote
    for s in runs:
        if s.attrs.get("dag") == "dataaudit":
            out["audit.run_s"] += s.seconds
            for rep in s.attrs.get("reports", []):
                alert = rep.tasks.get("005_send_alert_hourly")
                out["audit.alerts"] += 1 if alert and alert.status == "success" else 0

    # sql_gateway: request spans of the clients, Spark jobs inside the
    # serving window
    reqs = tracer.find("sql_gateway")
    for kind in GATEWAY_KINDS:
        lat = sorted(s.seconds for s in reqs if s.name == kind)
        if lat:
            out[f"sql_gateway.request_ms.{kind}"] = lat[len(lat) // 2] * 1e3
    if reqs:
        w0, w1 = min(s.start for s in reqs), max(s.end for s in reqs)
        inside = [(s, e) for s, e in spans if w0 <= s <= w1]
        out["sql_gateway.spark_job_ms"] = union_seconds(inside) * 1e3
        out["sql_gateway.non_spark_ms"] = (w1 - w0) * 1e3 - out["sql_gateway.spark_job_ms"]
        out["sql_gateway.rows_returned"] = sum(s.attrs.get("rows", 0) for s in reqs)
        out["sql_gateway.http_errors"] = sum(
            1 for s in reqs if s.attrs.get("status") != 200
        )

    # streaming: listener progress of the pass
    out["streaming.batches"] = len(progress)
    for key, phase in _STREAM_PHASES.items():
        out[f"streaming.{key}"] = sum(p["durationMs"].get(phase, 0) for p in progress)
    if progress:
        out["streaming.state_rows"] = max(p["stateRows"] for p in progress)
        out["streaming.state_memory_bytes"] = max(p["stateMemoryBytes"] for p in progress)
    drains = [op for op in ops if op.name.startswith("stream_")]
    if drains:
        out["streaming.outside_batch_s"] = (
            sum(s.seconds for s in drains) - out["streaming.trigger_ms"] / 1e3
        )

    return out


def _reports(runs):
    for s in runs:
        for rep in s.attrs.get("reports", []):
            yield rep.dag_id, rep
