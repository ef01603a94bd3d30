"""Lakehouse benchmark: one workload per invocation, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog_llm --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.MANIFEST`` for the frozen operation lists):

- ``catalog_llm``: catalog queries that cross the Python boundary
  (pandas/Arrow UDFs, a UDTF, ``mapInArrow``, ``applyInPandas`` and an
  ``applyInPandasWithState`` stream drain), each run by ``QueryDef.fn``
  and collected with ``toPandas``;
- ``medallion_ticks``: one lakehouse day per pass from the same state:
  a scheduled Uber tick (interval MERGE into bronze, recompute of
  bronze2/silver/gold, maintain), the data-audit DAG over silver, then
  ``nproc`` concurrent SQL-gateway clients over the new tables.

End-to-end metrics (untraced): ``setup_s`` (process start to the first
timed operation: session, ``load_all``, inputs, warm-up), ``pass_s``
(median over the measured passes of a pass's seconds), ``pass_cpu_s``
(median over the passes of the CPU seconds of the driver, the JVM and
the Python workers), ``op_geomean_ms`` (geometric mean of each
operation's median latency) and ``peak_rss_mb`` (peak RSS of the driver
Python process plus the JVM over the measured passes).

A run builds its inputs from ``--seed``, starts ``local[nproc]``, runs
the workload's untimed warm-up, then runs whole passes closed-loop
while another pass as long as the last still ends within ``--seconds``
seconds (at least one pass). Output checks run after the timed region,
on the outputs of the timed passes; an exception or a wrong output
counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first sets
the workload up on a session with the uncompressed event log on, the
span wrappers and the streaming listener, runs exactly one traced pass
and folds the event log; it then stops that SparkContext and runs the
untraced phase above, and prints the per-layer metrics (including
``trace.overhead_frac``, the traced pass over the untraced one).

Everything the run writes stays under ``.perfbench/`` in the current
directory; the per-run work directory and the event log are deleted at
the end, the span file of a traced run is kept.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses 0.2)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb every expected output (the smoke test's "
                         "check that wrong outputs are reported)")
    return ap.parse_args(argv)


def reset_hwm(pid) -> None:
    """Reset the kernel's peak-RSS mark of ``pid`` to its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def mc_probe() -> dict:
    """A short multi-core contention reading (tools/mc_probe.py), logged
    beside every run; empty when the tool is absent."""
    tool = os.path.join("tools", "mc_probe.py")
    if not os.path.exists(tool):
        return {}
    try:
        out = subprocess.run(
            [sys.executable, tool, "--iters", "1000000"],
            capture_output=True, text=True, timeout=60,
        ).stdout.strip().splitlines()
        return json.loads(out[-1]) if out else {}
    except (subprocess.SubprocessError, ValueError):
        return {}


def tree_cpu_s(pids) -> float:
    """User + system CPU seconds of ``pids`` and all their descendants
    (the JVM's Python workers included), reaped children counted."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep = set(pids)
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _t) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return sum(procs[p][1] for p in keep if p in procs) / os.sysconf("SC_CLK_TCK")


class Measure:
    """Per-operation samples and per-pass wall and CPU seconds of the
    measured region. Operations may be recorded from several threads."""

    def __init__(self, pids=(), tracer=None):
        self.samples: list[tuple[str, float, bool]] = []
        self.passes: list[tuple[float, float]] = []
        self.pids = pids
        self.tracer = tracer
        self._mu = threading.Lock()

    def record(self, op: str, seconds: float, ok: bool) -> None:
        end = time.time()
        with self._mu:
            self.samples.append((op, seconds, ok))
            if self.tracer is not None:
                from tracing import Span

                self.tracer.spans.append(Span("op", op, end - seconds, end, None, {"ok": ok}))

    def run_pass(self, wl) -> None:
        cpu0 = tree_cpu_s(self.pids) if self.pids else 0.0
        seconds = wl.run_pass(self.record)
        cpu = tree_cpu_s(self.pids) - cpu0 if self.pids else 0.0
        self.passes.append((seconds, cpu))

    def by_op(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for op, s, _ok in self.samples:
            out.setdefault(op, []).append(s)
        return out


def run_measured(wl, seconds: float, pids) -> Measure:
    """Whole passes while another pass as long as the last one still
    ends within ``seconds`` (at least one pass)."""
    m = Measure(pids)
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        m.run_pass(wl)
        now = time.perf_counter()
        if now + (now - t0) > deadline:
            return m


def end_to_end(m: Measure, setup_s: float, rss_mb: float) -> dict:
    """``pass_s`` and ``pass_cpu_s`` are medians over the measured
    passes; ``op_geomean_ms`` is the geometric mean of each operation's
    median latency."""
    lat_ms = [statistics.median(v) * 1e3 for v in m.by_op().values()]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(p[0] for p in m.passes), "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p[1] for p in m.passes), "unit": "s"},
        "op_geomean_ms": {"value": statistics.geometric_mean(lat_ms), "unit": "ms"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "lakehouse_v3_spark")):
        print("perfbench: run from the repository root (lakehouse_v3_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(repo, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, Python workers and tempfile write in the
    # checkout; the JVM launched below inherits this environment
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp
    # stdout carries only the result line: the JVM and the Python
    # workers inherit fd 1 pointing at stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    try:
        out = run(args, W, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.dup2(result_fd, 1)
    print(json.dumps(out), flush=True)
    return 0


def session(work: str, nproc: int, extra: dict | None = None):
    from lakehouse_v3_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed heap: G1 otherwise shrinks it after each full GC that
        # workloads.release forces between operations, and regrowing it
        # made pass times differ between processes
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # SparkSession.builder keeps options between sessions of one
        # process: switch the traced phase's event log off explicitly
        "spark.eventLog.enabled": "false",
    }
    conf.update(extra or {})
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, shut the py4j gateway down and wait until the
    JVM, and with it every Python worker it forked, has exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


EVENT_LOG = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def run(args, W, work: str, nproc: int) -> dict:
    """One run: in a traced run the traced pass comes first, then the
    untraced phase every run has (setup, warm-up, measured passes,
    output checks)."""
    from lakehouse_v3_spark.plans import load_all

    inputs = threading.Thread(
        target=W.prepare_inputs, args=(args.workload, work, args.seed, args.scale)
    )
    inputs.start()
    layer_metrics = traced(args, W, work, nproc, inputs) if args.trace else None

    spark = session(work, nproc)
    inputs.join()
    registry = load_all()
    wl = W.WORKLOADS[args.workload]()
    wl.open(W.Env(spark, work, args.seed, args.scale, None, nproc), registry)
    wl.warm_up()
    setup_s = time.time() - PROCESS_START

    pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
    for pid in pids:
        reset_hwm(pid)
    t_measure = time.time()
    m = run_measured(wl, args.seconds, pids)
    rss = sum(vm_hwm_mb(pid) for pid in pids)
    t_check = time.time()
    bad = wl.check(corrupt=args.corrupt_expected)
    print(f"perfbench: setup {setup_s:.1f}s, measured {t_check - t_measure:.1f}s "
          f"({len(m.passes)} passes), check {time.time() - t_check:.1f}s, "
          f"wrong outputs: {sorted(bad) or 'none'}", file=sys.stderr)
    print("perfbench: pass seconds " + json.dumps(
        [round(p[0], 3) for p in m.passes]
    ), file=sys.stderr)
    print("perfbench: median op seconds " + json.dumps(
        {op: round(statistics.median(v), 3) for op, v in m.by_op().items()}
    ), file=sys.stderr)
    failed = sum(1 for op, _s, ok in m.samples if not ok or op in bad)
    wl.close()
    stop_jvm(spark)

    probe = mc_probe()
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"mc_probe={json.dumps(probe)}", file=sys.stderr)
    if args.trace:
        import layers

        layer_metrics["trace.overhead_frac"] = (
            layer_metrics.pop("_traced_pass_s")
            / statistics.median(p[0] for p in m.passes) - 1.0
        )
        layer_metrics.update(wl.untraced_figures(m.samples))
        layer_metrics["host.mc_probe_ratio"] = float(probe.get("ratio", 0.0))
        layer_metrics["host.load1"] = os.getloadavg()[0]
        metrics = {
            k: {"value": v, "unit": layers.unit(k)} for k, v in sorted(layer_metrics.items())
        }
    else:
        metrics = end_to_end(m, setup_s, rss)
    return {
        "correct": failed == 0,
        "attempted": len(m.samples),
        "failed": failed,
        "metrics": metrics,
    }


def traced(args, W, work, nproc, inputs) -> dict:
    """Set the workload up under the event log and the span wrappers,
    warm it up, run exactly one traced pass and fold the counters.
    The traced pass runs on a colder JVM than the untraced phase that
    follows, so ``trace.overhead_frac`` errs high."""
    import layers
    from tracing import Tracer, fold_event_log, stream_listener, wrap_layers

    tracer = Tracer()
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir, exist_ok=True)
    with tracer.span("session", "get_spark"):
        spark = session(work, nproc, {**EVENT_LOG, "spark.eventLog.dir": evdir})
    from lakehouse_v3_spark.plans import load_all

    with tracer.span("plans", "load_all"):
        registry = load_all()
    inputs.join()
    listener = stream_listener()
    spark.streams.addListener(listener)
    wl = W.WORKLOADS[args.workload]()
    env = W.Env(spark, work, args.seed, args.scale, tracer, nproc)
    with wrap_layers(tracer):
        wl.open(env, registry)
        wl.warm_up()
        setup = layers.setup_metrics(tracer)
        n_progress = len(listener.progress)
        tracer.spans.clear()
        m = Measure(tracer=tracer)
        p0 = time.time()
        m.run_pass(wl)
        p1 = time.time()
    stored = (wl.stored_bytes(), wl.input_bytes()) if hasattr(wl, "stored_bytes") else None
    wl.close()
    spark.streams.removeListener(listener)
    spark.stop()
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    jobs = fold_event_log(logs[0]) if logs else []
    shutil.rmtree(evdir, ignore_errors=True)
    tracer.dump(os.path.join(
        os.path.dirname(work), f"trace-{args.workload}-seed{args.seed}.json"
    ))
    metrics = layers.per_layer(
        tracer, jobs, listener.progress[n_progress:], (p0, p1), stored,
    )
    metrics.update(setup)
    metrics["_traced_pass_s"] = m.passes[0][0]
    return metrics


if __name__ == "__main__":
    sys.exit(main())
