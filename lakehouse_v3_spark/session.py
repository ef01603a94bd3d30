"""SparkSession factory.

Mirrors the session conventions the reference sets up per job
(reference: spark/jobs/uber/bronze2_to_silver.py:24-39 — Delta extension +
S3A + Hive confs), re-expressed for a plain-Spark deployment: AQE on,
UTC session timezone, Arrow enabled, shuffle partitions sized to cores,
and a generated-code cache large enough to hold every whole-stage class
one scheduled tick, audit run and gateway round compile, so a
long-lived driver compiles each query once rather than once per run.

Python workers (every UDF, UDTF, ``mapInArrow``/``applyInPandas``
worker, the stateful-stream workers) and the driver's Arrow sockets
talk to the JVM over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``): over loopback TCP each
task's result waited on a delayed ACK (~40 ms per Python-boundary
task on a reused worker). Spark binds its ``.<uuid>.sock`` files in
``spark.python.unix.domain.socket.dir``, by default the JVM's
``java.io.tmpdir``, and a process that exits without ``spark.stop()``
leaves them there. So each new context on a ``local`` master gets a
private dir from ``tempfile.mkdtemp`` (under ``tempfile.gettempdir()``,
removed at interpreter exit). Spark refuses a socket dir longer than
61 characters: when the temp dir is too deep for that the private dir
goes under ``/tmp``, and when even that does not fit the flag stays
off (TCP). ``spark://`` masters keep Spark's default dir, the
executor's own tmpdir. ``extra_conf`` can turn the flag off.

Delta Lake / S3A / Hive are optional in this environment; the factory
gates them behind availability checks so the same code runs on a real
cluster (with the jars present) and in the local test harness.

One session serves the whole catalog, the DAGs and the gateway, so a
query that needs a conf changed for a while changes it only through
:func:`conf_window`, which restores it afterwards. All windows share one
lock, taken without blocking: a second window opened while one is open
(another thread, or a nested window) raises instead of silently
restoring the other's values.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

_CONF_WINDOW_LOCK = threading.Lock()

# Spark's check on spark.python.unix.domain.socket.dir: at most 61
# characters. A socket, "<dir>/.<uuid4>.sock", then takes at most 104
# bytes, within sun_path's 107.
SOCKET_DIR_MAX = 61


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def conf_window(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body, then restore each key:
    a key unset before is unset again, the rest get their old values,
    also when a set or the body raises.

    The confs are session-wide, so anything planned on the session while
    the window is open sees them (a concurrent gateway statement may
    pick another join strategy; values never change). Windows run
    serially: one module-level lock, and a window opened while another
    is open raises ``RuntimeError`` rather than wait, so a window opened
    inside a ``foreachBatch`` callback of another cannot deadlock."""
    if not _CONF_WINDOW_LOCK.acquire(blocking=False):
        raise RuntimeError(
            "concurrent session-conf windows on one SparkSession: run "
            "them serially or scope them to separate sessions"
        )
    try:
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            # inside the try: a set that throws part-way still restores
            # the keys already set
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        _CONF_WINDOW_LOCK.release()


def private_socket_dir(bases: tuple[str, ...] | None = None) -> str | None:
    """A new, empty dir for one context's Unix domain sockets, removed at
    interpreter exit: under the first of ``bases`` (default: the temp
    dir, then ``/tmp``) where its path fits SOCKET_DIR_MAX.
    ``None`` when none does."""
    for base in bases or (tempfile.gettempdir(), "/tmp"):
        try:
            d = tempfile.mkdtemp(prefix="spark-uds-", dir=base)
        except OSError:
            continue
        if len(d) <= SOCKET_DIR_MAX:
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            return d
        os.rmdir(d)
    return None


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executors via ``addPyFile`` (once per context).

    Pandas UDFs / applyInPandas functions defined inside this package are
    cloudpickled BY REFERENCE (module + qualname), so every Python worker
    must be able to ``import lakehouse_v3_spark``. On a real cluster —
    or a driver launched from any cwd that doesn't have the repo on
    ``sys.path`` — that fails with ModuleNotFoundError unless the package
    is distributed. Zipping the package and ``addPyFile``-ing it is the
    standard Spark deployment path (equivalent to ``spark-submit
    --py-files``) and costs ~100 KB once per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_lakehouse_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="lakehouse-pyfiles-")
    # addPyFile serves the zip from this dir to every executor fetch for
    # the life of the context, so it goes at interpreter exit, not at stop
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, "lakehouse_v3_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    sc.addPyFile(zpath)
    # Spark 4.1's transformWithStateInPandas spawns a DRIVER-SIDE
    # python runner (transform_with_state_driver_worker) for state
    # schema validation whose PYTHONPATH comes from the function's
    # envVars (sc.environment) + the JVM process env — NOT from
    # addPyFile's includes. From a foreign cwd it died with
    # ModuleNotFoundError before the first microbatch (found by the
    # /verify foreign-cwd probe, r12). Two merges close it for both
    # orders of initialization:
    #   - sc.environment: snapshotted into every later-created UDF's
    #     envVars, reaching workers the already-running JVM spawns;
    #   - os.environ: inherited by the JVM if the context is created
    #     AFTER this call (fresh get_spark from any cwd).
    extra = [zpath, os.path.dirname(pkg_dir)]
    env_pp = sc.environment.get("PYTHONPATH", "")
    sc.environment["PYTHONPATH"] = os.pathsep.join(
        [p for p in extra if p not in env_pp.split(os.pathsep)]
        + ([env_pp] if env_pp else [])
    )
    current = os.environ.get("PYTHONPATH", "")
    parts = [p for p in extra if p not in current.split(os.pathsep)]
    if parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            parts + ([current] if current else [])
        )
    sc._lakehouse_pkg_shipped = True


def get_spark(
    app_name: str = "lakehouse_v3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
    metastore_dir: str | None = None,
    metastore_uri: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale notes (100 TB target):
      - AQE enabled: runtime coalescing + skew-join handling replaces
        hand-tuned shuffle partition counts on a real cluster.
      - UTC session timezone: required for cross-engine (DuckDB oracle)
        timestamp parity and mirrors the reference pinning UTC
        (reference: spark/jobs/coin/convert_to_delta.py:34).
      - Arrow: vectorized pandas interchange for the Pandas-UDF slow path.
      - ignoreCorruptFiles/ignoreMissingFiles mirrors the reference's
        tolerance confs (reference: alphavantage/transform_into_delta.py:42-43).
      - ``metastore_dir``: opt-in PERSISTENT catalog — Spark's built-in
        derby Hive metastore (ships with pyspark, no external Hive
        service) pinned to that directory, so ``TableManager.register(
        persistent=True)`` entries survive the session and are visible
        to any later session given the same dir. Mirrors the reference's
        cross-job HMS registration (coin/convert_to_delta.py:167-173).
        Derby allows ONE concurrent session per metastore_dir — a
        SINGLE-HOST limit: concurrent sessions on one shared catalog
        need a networked metastore (``metastore_uri``).
      - ``metastore_uri``: a NETWORKED Hive Metastore (thrift://host:
        port) — the reference's actual substrate (docker-compose.yaml:
        70-108 runs a thrift HMS service). Sets
        ``spark.hadoop.hive.metastore.uris`` and enables Hive support;
        no thrift service exists in this harness, so the seam is
        config-plumbing-tested only (the derby path carries the
        cross-process test). Mutually exclusive with ``metastore_dir``
        (one catalog per session).
    """
    if metastore_dir and metastore_uri:
        raise ValueError(
            "metastore_dir (embedded derby) and metastore_uri (thrift "
            "HMS) are mutually exclusive — one catalog per session"
        )
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.unix.domain.socket.enabled", "true")
        # Static: the JVM's first codegen sizes this LRU of compiled
        # whole-stage classes for the life of the process.
        # Measured working sets (seed 7 of the medallion_ticks bench):
        # one scheduled uber tick + audit_dag run + gateway round
        # generates ~280 distinct classes, the catalog_llm queries 65.
        # At the default 100 entries the medallion classes evict each
        # other, so every pass recompiled ~280 classes (Janino compiles
        # per pass: uber tick 133-136, audit 118, gateway 30); at 2048
        # steady passes compile 4 / 0 / 0 — the 4 are the per-run
        # current_timestamp() literals inlined as Java constants.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.files.ignoreCorruptFiles", "true")
        .config("spark.sql.files.ignoreMissingFiles", "true")
        # split small fixture files across cores (default 128m leaves a
        # 10 MB sf0.1 parquet on ONE core of local[32]); on a cluster
        # with properly sized files override via SPARK_GRAFT_MAX_PART_BYTES
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "16m"),
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.streaming.schemaInference", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master.startswith("spark://"):
        # standalone-cluster runs (multi-process executors): size the
        # executor JVMs and pin the worker-side Python to the same
        # interpreter as the driver (pandas/pyarrow live in pyenv, not
        # the bare distro python).
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "16g"),
            )
            .config("spark.pyspark.python", sys.executable)
            .config("spark.pyspark.driver.python", sys.executable)
        )
    if master.startswith("local") and SparkContext._active_spark_context is None:
        # a new local context: its sockets go in a private dir (a reused
        # context keeps the dir it started with)
        sock_dir = private_socket_dir()
        if sock_dir is None:
            builder = builder.config("spark.python.unix.domain.socket.enabled", "false")
        else:
            builder = builder.config("spark.python.unix.domain.socket.dir", sock_dir)
    if metastore_dir:
        builder = (
            builder.config("spark.sql.warehouse.dir", f"{metastore_dir}/warehouse")
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={metastore_dir}/metastore_db;create=true",
            )
            # Hive's session makes "<java.io.tmpdir>/<uuid>_resources"
            # by default and never removes it
            .config(
                "spark.hadoop.hive.downloaded.resources.dir",
                f"{metastore_dir}/hive_resources",
            )
            .enableHiveSupport()
        )
    if metastore_uri:
        builder = (
            builder.config("spark.hadoop.hive.metastore.uris", metastore_uri)
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark
