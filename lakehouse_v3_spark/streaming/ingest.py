"""Streaming ingest: incremental file discovery with engine-managed
checkpoints + foreachBatch micro-batch processing, and watermarked
windowed aggregation (the streaming extension the reference lacks,
SURVEY.md §2.9).

Reference pattern (uber/csv_to_delta.py:119-149):
  readStream.format("csv") + schema inference + recursiveFileLookup
  → writeStream.foreachBatch(process).option("checkpointLocation", ...)
    .trigger(availableNow=True).start() → awaitTermination
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import conf_window


def csv_file_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """S1: incremental CSV discovery (header, recursive, inferred
    schema). Turns streaming schema inference on for the ``load`` only
    (the source infers its schema there), so the operator also works on
    sessions not built by session.get_spark and leaves the session conf
    as it found it (reference sets it for its whole job,
    uber/csv_to_delta.py:119-120)."""
    reader = (
        spark.readStream.format("csv")
        .option("header", "true")
        .option("recursiveFileLookup", "true")
    )
    with conf_window(spark, {"spark.sql.streaming.schemaInference": "true"}):
        return reader.load(source_dir)


def run_foreach_batch(
    stream_df: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """S11: drain all available input through a driver-side micro-batch
    callback, exactly-once per file via the engine checkpoint, then stop
    (trigger(availableNow=True) + awaitTermination)."""
    q = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the late-data-tolerant
    streaming form of the batch hour() bucketing (works on readStream
    or batch frames identically; the reference handled late data via
    MERGE upserts instead, alphavantage/bronze2_to_silver.py:141-152)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
