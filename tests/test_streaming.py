"""Structured Streaming tests: availableNow CSV ingest with engine
checkpoints + foreachBatch (the reference's uber bronze1→bronze2 path),
and watermarked windowed aggregation on a stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_v3_spark.ids import max_id_seed, with_dense_id
from lakehouse_v3_spark.streaming.ingest import (
    csv_file_stream,
    run_foreach_batch,
    windowed_event_counts,
)
from lakehouse_v3_spark.tables import TableManager


def _write_csv(path, rows):
    path.write_text("booking_id,status,value\n" + "\n".join(rows))


@pytest.fixture
def no_stream_schema_inference(spark):
    """Streaming schema inference off on the session for one test."""
    key = "spark.sql.streaming.schemaInference"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    yield key
    if saved is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, saved)


def test_csv_stream_ingest_incremental(
    spark, tmp_path, no_stream_schema_inference
):
    src = tmp_path / "bronze1"
    src.mkdir()
    _write_csv(src / "day1.csv", ["B1,Completed,10.5", "B2,Cancelled,0.0"])

    tm = TableManager(spark, str(tmp_path / "warehouse"))

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        existing = tm.read("bronze2.bookings") if tm.exists("bronze2.bookings") else None
        seed = max_id_seed(existing, "cd_bronze_id") if existing is not None else 0
        out = with_dense_id(
            batch_df.withColumn("dt_record_to_bronze2", F.current_timestamp()),
            ["booking_id"],
            id_col="cd_bronze_id",
            offset=seed,
        )
        tm.append(out, "bronze2.bookings")

    stream = csv_file_stream(spark, str(src))
    # inference was on for the load only; the stream starts without it
    assert spark.conf.get(no_stream_schema_inference) == "false"
    run_foreach_batch(stream, process, str(tmp_path / "ckpt"))
    t1 = tm.read("bronze2.bookings")
    assert t1.count() == 2
    assert sorted(r.cd_bronze_id for r in t1.collect()) == [1, 2]

    # re-run with no new files → engine checkpoint prevents re-ingest
    run_foreach_batch(csv_file_stream(spark, str(src)), process, str(tmp_path / "ckpt"))
    assert tm.read("bronze2.bookings").count() == 2

    # new file → only its rows ingested, ids continue past existing max
    _write_csv(src / "day2.csv", ["B3,Completed,7.0"])
    run_foreach_batch(csv_file_stream(spark, str(src)), process, str(tmp_path / "ckpt"))
    t3 = tm.read("bronze2.bookings")
    assert t3.count() == 3
    assert sorted(r.cd_bronze_id for r in t3.collect()) == [1, 2, 3]


def test_windowed_agg_on_stream(spark, tmp_path):
    # drive the watermarked windowed agg with a real stream (parquet
    # file source), draining via availableNow into a memory sink
    batch = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:50:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 3.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    src = tmp_path / "events_src"
    batch.write.parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    agg = windowed_event_counts(stream, watermark="10 minutes", window_len="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(str(r.window_start), r.event_type): (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM win_counts").collect()}
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event ids arriving in
    later micro-batches (within the watermark delay) are dropped by the
    state store — streaming dedup, which batch dropDuplicates can't do
    incrementally. Reference parity: A14/W3 dedup, streaming extension."""
    import json

    src = tmp_path / "json_in"
    src.mkdir()
    ck = tmp_path / "ck"
    out: list = []

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    # batch 1: e1, e2; batch 2 re-delivers e2 and adds e3
    write_batch("b1.json", [
        {"event_id": "e1", "ts": "2026-01-01T00:00:00", "v": 1},
        {"event_id": "e2", "ts": "2026-01-01T00:01:00", "v": 2},
    ])

    schema = "event_id string, ts timestamp, v long"

    def drain():
        stream = (
            spark.readStream.schema(schema).json(str(src))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _id: out.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    write_batch("b2.json", [
        {"event_id": "e2", "ts": "2026-01-01T00:02:00", "v": 22},  # dup, dropped
        {"event_id": "e3", "ts": "2026-01-01T00:03:00", "v": 3},
    ])
    drain()

    rows = {r["event_id"]: r["v"] for r in out}
    assert rows == {"e1": 1, "e2": 2, "e3": 3}


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: purchases joined to clicks that
    happened in the hour BEFORE each purchase, both sides real streams.
    State cleanup is bounded by the watermark + interval condition —
    the Structured Streaming surface the reference's batch MERGE
    pipelines approximate (SURVEY §2.9 extension)."""
    clicks_dir = tmp_path / "ss_clicks"
    buys_dir = tmp_path / "ss_buys"
    clicks_dir.mkdir(); buys_dir.mkdir()

    def write(dirp, rows):
        spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(str(dirp))

    write(clicks_dir, [(1, "2026-01-01 10:00:00"), (2, "2026-01-01 09:00:00")])
    write(buys_dir, [(1, "2026-01-01 10:30:00"),   # joins: 30 min after click
                     (2, "2026-01-01 11:00:00")])  # no: click 2h earlier

    schema = "user_id long, ts timestamp"
    clicks = (
        spark.readStream.schema(schema).parquet(str(clicks_dir))
        .withWatermark("ts", "2 hours")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    buys = (
        spark.readStream.schema(schema).parquet(str(buys_dir))
        .withWatermark("ts", "2 hours")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    )
    joined = buys.join(
        clicks,
        F.expr(
            "b_user = c_user AND c_ts BETWEEN b_ts - INTERVAL 1 HOUR AND b_ts"
        ),
    )
    out: list = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [(r.b_user, str(r.c_ts)) for r in out] == [(1, "2026-01-01 10:00:00")]


def test_streaming_merge_into_snapshots(spark, tmp_path):
    """End-to-end lakehouse loop: stream micro-batches MERGE-upsert into
    a TableManager table, each batch committing a log version —
    time travel then exposes the state after every batch (the Delta
    'streaming upsert + history' pattern on the parquet backend)."""
    from lakehouse_v3_spark.operators.joins import merge_upsert
    from lakehouse_v3_spark.tables import TableManager

    src = tmp_path / "merge_src"
    src.mkdir()
    tm = TableManager(spark, str(tmp_path / "wh"))

    def process(batch_df, _bid):
        if batch_df.isEmpty():
            return
        # read-modify-write: the commit is pinned to the version read,
        # so a concurrent commit makes it raise instead of being lost
        ver = tm.version("silver.state")
        if ver is None:
            tm.overwrite(batch_df, "silver.state", read_version=None)
        else:
            merged = merge_upsert(
                tm.read("silver.state", ver), batch_df, ["user_id"]
            ).select("user_id", "v")
            tm.overwrite(merged, "silver.state", read_version=ver)

    def drain():
        stream = spark.readStream.schema("user_id long, v string").parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "merge_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, "a"), (2, "b")], "user_id long, v string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame([(2, "B"), (3, "c")], "user_id long, v string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    drain()

    head = {r.user_id: r.v for r in tm.read("silver.state").collect()}
    assert head == {1: "a", 2: "B", 3: "c"}
    v0 = {r.user_id: r.v for r in tm.read("silver.state", 0).collect()}
    assert v0 == {1: "a", 2: "b"}  # pre-merge state still time-travelable
    changes = {
        r.user_id: r.change_type
        for r in tm.diff("silver.state", 0, 1, ["user_id"]).collect()
    }
    assert changes == {2: "update", 3: "insert"}


def test_tws_catalog_query_return_path_is_distributed(spark):
    """r4 verdict item #4: the TWS catalog query's update-mode output
    must be sunk to a parquet table in foreachBatch and the final
    answer computed as a distributed last-emission-per-key window —
    never driver-side pandas accumulation. Checks (a) values against
    the plain batch aggregate, (b) the returned plan reads the parquet
    sink through a Window, (c) no toPandas/createDataFrame anywhere in
    the query source."""
    import inspect

    from pyspark.sql import functions as F

    from lakehouse_v3_spark.plans import load_all
    from lakehouse_v3_spark.plans.streaming_queries import (
        stream_tws_distinct_type_counts,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = load_all()["stream_tws_distinct_type_counts"].fn(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "tws_sink_" in plan, "final answer must scan the parquet sink"
    assert "Window" in plan, "last-emission-per-key must be a window"
    src = inspect.getsource(stream_tws_distinct_type_counts)
    assert ".toPandas(" not in src and ".createDataFrame(" not in src
    got = {(r.user_id, r.n_types, r.n_events) for r in out.collect()}
    exp = {
        (r.user_id, r.n_types, r.n_events)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert got == exp


def test_tws_drain_failure_restores_session_confs(spark, sf_dir, monkeypatch):
    """The TWS query sets the RocksDB provider and narrows the shuffle
    partitions for its drain. When the drain raises, while planning or
    inside a micro-batch, both confs read what they did before, the
    partial sink is still removed at exit, and the next streaming drain
    runs."""
    import glob
    import os
    import tempfile

    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.plans import load_all
    from lakehouse_v3_spark.plans import streaming_queries as sq
    from lakehouse_v3_spark.streaming import stateful

    keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    queries = load_all()

    def raise_at_plan(df):
        raise RuntimeError("injected TWS failure")

    def raise_in_batch(df):
        return df.select(
            "user_id", F.raise_error(F.lit("injected TWS failure")).alias("x")
        )

    sinks = os.path.join(tempfile.gettempdir(), "tws_sink_*")
    old_sinks = set(glob.glob(sinks))
    for broken in (raise_at_plan, raise_in_batch):
        monkeypatch.setattr(stateful, "distinct_type_counts", broken)
        with pytest.raises(Exception, match="injected TWS failure"):
            queries["stream_tws_distinct_type_counts"].fn(spark, sf_dir)
        assert {k: spark.conf.get(k, None) for k in keys} == before
    monkeypatch.undo()
    assert set(glob.glob(sinks)) - old_sinks <= set(sq._TWS_SINK_DIRS)

    got = queries["stream_state_running_totals"].fn(spark, sf_dir)
    want = load(spark, sf_dir, "events").groupBy("user_id").count()
    assert {(r.user_id, r.n_events) for r in got.collect()} == {
        (r.user_id, r["count"]) for r in want.collect()
    }


def test_stream_state_partitions_scales_with_source_and_caps(spark):
    from lakehouse_v3_spark.plans.streaming_queries import (
        _source_bytes,
        _stream_state_partitions,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny source: 1 partition, never 0
    assert _stream_state_partitions(spark, 1) == 1
    assert _stream_state_partitions(spark, 0) == 1
    # 512 KiB per partition: 1.5 MiB -> 3
    assert _stream_state_partitions(spark, 3 * 512 * 1024) == min(cap, 3)
    # huge source: capped at the session's configured parallelism
    assert _stream_state_partitions(spark, 2**63) == cap
    # a size that cannot be read is not "empty": full width, every caller
    assert _source_bytes("s3a://b/x") is None
    assert _stream_state_partitions(spark, None) == cap
