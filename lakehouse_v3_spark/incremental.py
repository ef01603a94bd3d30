"""Incremental-ingest state: the reference's four hand-rolled checkpoint
patterns (SURVEY.md §2.9), re-expressed over the TableManager.

  1. LastKeyCheckpoint   — newest processed object key
     (reference: coin/convert_to_delta.py:38-59,86-102)
  2. FileLogCheckpoint   — processed-file log + left-anti diff
     (reference: alphavantage/transform_into_delta.py:48-65,100-104;
      finance_news/bronze1_to_bronze2.py:37-62)
  3. max_id_watermark    — rows with id > MAX(processed id)
     (reference: uber/bronze2_to_silver.py:45-60)
  4. max_ts_watermark    — rows with ts > MAX(processed ts)
     (reference: coin_bronze2_to_silver.py:70-83,133-149)

Each keeps state as a small table (control-table pattern) so jobs are
re-runnable and idempotent; Structured Streaming checkpoints (S11)
cover the file-source case natively in streaming/.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io_utils import local_frame
from .tables import TableManager


def _utcnow() -> datetime.datetime:
    # aware: Spark reads a naive datetime as host-local time
    return datetime.datetime.now(datetime.timezone.utc)


class LastKeyCheckpoint:
    """Single-value checkpoint: the last processed (lexicographically
    greatest) object key, stored append-only with run timestamps."""

    def __init__(self, tm: TableManager, name: str):
        self.tm = tm
        self.table = f"_control.last_key_{name}"

    def get(self) -> str | None:
        if not self.tm.exists(self.table):
            return None
        row = (
            self.tm.read(self.table)
            .orderBy(F.col("run_at").desc())
            .limit(1)
            .collect()
        )
        return row[0]["last_key"] if row else None

    def set(self, key: str) -> None:
        df = local_frame(
            self.tm.spark, [(_utcnow(), key)], "run_at timestamp, last_key string"
        )
        self.tm.append(df, self.table)

    def filter_new_keys(self, keys: DataFrame) -> DataFrame:
        """Rows of ``keys`` whose ``path`` sorts after the last key."""
        last = self.get()
        if last is None:
            return keys
        return keys.filter(F.col("path") > F.lit(last))


class FileLogCheckpoint:
    """Processed-file log; new files = listing ∖ log via left-anti join
    (J1). The listing side comes from the binaryFile source (S4)."""

    def __init__(self, tm: TableManager, name: str):
        self.tm = tm
        self.table = f"_control.file_log_{name}"

    def new_files(self, listing: DataFrame) -> DataFrame:
        if not self.tm.exists(self.table):
            return listing
        log = self.tm.read(self.table).select("path")
        return listing.join(log, on="path", how="left_anti")

    def record(self, files: DataFrame) -> None:
        self.tm.append(
            files.select("path").withColumn("logged_at", F.lit(_utcnow())),
            self.table,
        )


def list_files(spark: SparkSession, path: str, suffix: str | None = None) -> DataFrame:
    """S4 binaryFile listing source: files as rows (path, length,
    modificationTime) — reference: alphavantage/transform_into_delta.py:68-74."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", f"*{suffix}" if suffix else "*")
        .load(path)
        .select("path", "length", F.col("modificationTime").cast("timestamp").alias("modification_time"))
    )
    return df


def max_id_watermark(incoming: DataFrame, target: DataFrame | None, id_col: str) -> DataFrame:
    """Keep rows with id greater than the target's MAX(id) (0 when the
    target doesn't exist yet)."""
    if target is None:
        return incoming
    max_id = target.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m")).collect()[0]["m"]
    return incoming.filter(F.col(id_col) > F.lit(max_id))


def max_ts_watermark(incoming: DataFrame, target: DataFrame | None, ts_col: str) -> DataFrame:
    """Keep rows strictly newer than the target's MAX(ts)."""
    if target is None:
        return incoming
    row = target.agg(F.max(ts_col).alias("m")).collect()[0]
    if row["m"] is None:
        return incoming
    return incoming.filter(F.col(ts_col) > F.lit(row["m"]))
