"""Tracing for the traced run: spans, wrappers and Spark's own counters.

- ``Tracer`` keeps spans in memory (layer, name, start, end, parent,
  attributes) around every call the benchmark makes into a layer's
  public function, and writes them out once at the end.
- ``wrap_table_manager`` times ``TableManager`` writes and measures the
  bytes and data files each one leaves behind; ``wrap_file_log`` times
  the incremental layer's ``FileLogCheckpoint`` calls.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` phases and state-operator counters.
- ``fold_event_log`` streams Spark's uncompressed JSON event log once
  and folds stages and tasks into per-job counters; ``layers``
  attributes each job to an operation by its submission time.

Nothing here is imported or installed in an untraced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._mu = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._mu:
            idx = len(self.spans)
            self.spans.append(Span(layer, name, time.time(), 0.0, parent, attrs))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def find(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        ]

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(s.seconds for s in self.find(layer, name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, default=str)


# ---------------------------------------------------------------------------
# tables: TableManager write wrappers
# ---------------------------------------------------------------------------

WRITE_METHODS = ("merge", "overwrite", "append", "compact", "vacuum")


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


@contextmanager
def wrap_layers(tracer: Tracer):
    """Install the ``TableManager`` and ``FileLogCheckpoint`` wrappers
    for the duration of the block."""
    with wrap_table_manager(tracer), wrap_file_log(tracer):
        yield


@contextmanager
def wrap_file_log(tracer: Tracer):
    """Span every ``FileLogCheckpoint.new_files`` / ``record`` call."""
    from lakehouse_v3_spark.incremental import FileLogCheckpoint

    originals = {m: getattr(FileLogCheckpoint, m) for m in ("new_files", "record")}

    def make(method, orig):
        def wrapped(self, *args, **kwargs):
            with tracer.span("incremental", method, table=self.table):
                return orig(self, *args, **kwargs)

        return wrapped

    for m, orig in originals.items():
        setattr(FileLogCheckpoint, m, make(m, orig))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(FileLogCheckpoint, m, orig)


@contextmanager
def wrap_table_manager(tracer: Tracer):
    """Install span + bytes-written wrappers on ``TableManager``'s write
    methods for the duration of the block. Only the outermost write is
    a span: ``merge`` and ``compact`` call ``overwrite`` themselves, and
    the inner call's files are already the outer call's."""
    from lakehouse_v3_spark.tables import TableManager

    originals = {m: getattr(TableManager, m) for m in WRITE_METHODS}
    depth = threading.local()

    def make(method, orig):
        def wrapped(self, *args, **kwargs):
            if getattr(depth, "n", 0):
                return orig(self, *args, **kwargs)
            table = next((a for a in args if isinstance(a, str)), kwargs.get("table"))
            root = self.path(table) if table else self.warehouse_dir
            before = _data_files(root)
            depth.n = 1
            try:
                with tracer.span("tables", method, table=table) as sp:
                    out = orig(self, *args, **kwargs)
            finally:
                depth.n = 0
            after = _data_files(root)
            new = {p: n for p, n in after.items() if p not in before}
            sp.attrs["bytes_written"] = sum(new.values())
            sp.attrs["files_written"] = len(new)
            return out

        return wrapped

    for m, orig in originals.items():
        setattr(TableManager, m, make(m, orig))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(TableManager, m, orig)


# ---------------------------------------------------------------------------
# streaming: listener
# ---------------------------------------------------------------------------


def stream_listener():
    """A StreamingQueryListener that records every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            self.progress.append({
                "durationMs": dict(p.durationMs or {}),
                "numInputRows": p.numInputRows,
                "stateRows": sum(s.numRowsTotal for s in p.stateOperators),
                "stateMemoryBytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return StreamProgress()


# ---------------------------------------------------------------------------
# spark: event-log fold
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "worker_run_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to start Python workers": "worker_start_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
)


@dataclass
class JobInfo:
    job_id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(path: str) -> list[JobInfo]:
    """Stream the event log once; returns one JobInfo per job with its
    task and stage counters summed (times in seconds, sizes in bytes)."""
    jobs: dict[int, JobInfo] = {}
    stage_job: dict[int, int] = {}
    stage_run: dict[int, float] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                j = JobInfo(e["Job ID"], e["Submission Time"] / 1000.0)
                j.stages = list(e.get("Stage IDs", []))
                for s in j.stages:
                    stage_job[s] = j.job_id
                jobs[j.job_id] = j
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                c = j.counters
                run_s = _num(m.get("Executor Run Time")) / 1e3
                stage_run[e["Stage ID"]] = stage_run.get(e["Stage ID"], 0.0) + run_s
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                for k, v in (
                    ("tasks", 1),
                    ("executor_run_s", run_s),
                    ("executor_cpu_s", _num(m.get("Executor CPU Time")) / 1e9),
                    ("gc_s", _num(m.get("JVM GC Time")) / 1e3),
                    ("shuffle_read_bytes", _num(sr.get("Remote Bytes Read"))
                     + _num(sr.get("Local Bytes Read"))),
                    ("shuffle_write_bytes", _num(sw.get("Shuffle Bytes Written"))),
                    ("spill_bytes", _num(m.get("Memory Bytes Spilled"))
                     + _num(m.get("Disk Bytes Spilled"))),
                    ("input_bytes", _num((m.get("Input Metrics") or {}).get("Bytes Read"))),
                    ("output_bytes", _num((m.get("Output Metrics") or {}).get("Bytes Written"))),
                ):
                    c[k] = c.get(k, 0.0) + v
            else:  # StageCompleted
                info = e["Stage Info"]
                j = jobs.get(stage_job.get(info["Stage ID"], -1))
                if j is None:
                    continue
                c = j.counters
                c["stages"] = c.get("stages", 0) + 1
                python_stage = False
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key:
                        c["py_" + key] = c.get("py_" + key, 0.0) + _num(acc.get("Value"))
                        python_stage = True
                rdds = " ".join(r.get("Name", "") for r in info.get("RDD Info", []))
                if "PythonRDD" in rdds:
                    python_stage = True
                    c["python_rdd_run_s"] = (
                        c.get("python_rdd_run_s", 0.0) + stage_run.get(info["Stage ID"], 0.0)
                    )
                if python_stage:
                    c["python_stage"] = True
    return sorted(jobs.values(), key=lambda j: j.job_id)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
