"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
synthetic event-log source with partition planning, filter pushdown,
and Arrow-batch output — the S-section extension point for sources the
built-in readers don't cover (REST APIs, bespoke formats, generators).

Why a *generator* source: its output is a pure function of (row index,
options), so the DuckDB oracle can regenerate the identical relation
from ``range(n)`` with the same integer arithmetic — giving a custom
Python data source a full value-hash correctness row, not a weaker
rows-only check.

Scale design: ``partitions()`` splits the row space into contiguous
ranges (each worker generates its slice independently — no driver
materialization, no shuffle), ``pushFilters`` handles ``EqualTo`` on
``event_type``/``user_id`` inside ``read()`` so filtered scans move
less data across the Python-JVM boundary, and rows are emitted as
pyarrow RecordBatches (vectorized, not row tuples).

Reference parity: the reference's bespoke collectors (SURVEY.md §2.1
S16-S17 createDataFrame/object-store collectors) are driver-side row
builders; this is the Spark-native distributed equivalent.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")

# Knuth multiplicative-hash constant; products stay < 2^63 for n < ~3.4e9
_MIX = 2654435761

SCHEMA = "row_id long, user_id long, event_type string, value double"


@dataclass
class RangePartition(InputPartition):
    start: int
    end: int


class SyntheticEventsReader(DataSourceReader):
    # read() computes value via int64 (i * _MIX); past this bound the
    # product wraps and the batch path would silently diverge from the
    # exact-int stream reader and the DuckDB oracle (HUGEINT), so the
    # bound is enforced, not just documented.
    MAX_ROWS = (2**63 - 1) // _MIX  # ~3.47e9

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 100_000))
        if not 0 <= self.n_rows <= self.MAX_ROWS:
            raise ValueError(
                f"n_rows={self.n_rows} outside [0, {self.MAX_ROWS}]: row "
                f"indices beyond {self.MAX_ROWS} overflow the int64 "
                "value computation (i * 2654435761) and would diverge "
                "from the stream reader / oracle"
            )
        self.n_partitions = int(options.get("n_partitions", 8))
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Claim EqualTo on event_type/user_id (applied in read());
        everything else is returned for Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in (("event_type",), ("user_id",)):
                self.pushed.append(f)
            else:
                yield f

    def partitions(self):
        step = max(1, math.ceil(self.n_rows / self.n_partitions))
        return [
            RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: RangePartition):
        import numpy as np
        import pyarrow as pa

        i = np.arange(partition.start, partition.end, dtype=np.int64)
        user_id = i % 97
        event_type = np.array(EVENT_TYPES, dtype=object)[i % 5]
        value = ((i * _MIX) % 1000).astype(np.float64) / 10.0

        mask = np.ones(len(i), dtype=bool)
        for f in self.pushed:
            if f.attribute == ("event_type",):
                mask &= event_type == f.value
            elif f.attribute == ("user_id",):
                mask &= user_id == int(f.value)
        if not mask.all():
            i, user_id, event_type, value = (
                i[mask], user_id[mask], event_type[mask], value[mask]
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(i, type=pa.int64()),
                pa.array(user_id, type=pa.int64()),
                pa.array(event_type.tolist(), type=pa.string()),
                pa.array(value, type=pa.float64()),
            ],
            names=["row_id", "user_id", "event_type", "value"],
        )


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream over the same deterministic row space: offsets
    are row indices ({"row": k}); each batch emits up to rows_per_batch
    rows and advances the offset, stopping at n_rows. The driver-side
    simple reader fits this generator (tiny per-batch volume); a
    partition-planned DataSourceStreamReader is the high-throughput
    variant of the identical offset contract."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.per_batch = int(options.get("rows_per_batch", 1000))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        # a LIST, not a generator: the simple-reader harness pickles the
        # prefetched batch to ship it into the planning cache
        return [
            (i, i % 97, EVENT_TYPES[i % 5], float((i * _MIX) % 1000) / 10.0)
            for i in range(lo, hi)
        ]

    def read(self, start: dict):
        lo = start["row"]
        hi = min(lo + self.per_batch, self.n_rows)
        return self._rows(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: same rows for same offsets
        return self._rows(start["row"], end["row"])


class SyntheticEventsDataSource(DataSource):
    """spark.read.format("synthetic_events").option("n_rows", N).load()
    — or readStream with .option("rows_per_batch", B) for micro-batches
    over the same deterministic rows."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> SyntheticEventsStreamReader:
        return SyntheticEventsStreamReader(self.options)


def register_synthetic_source(spark) -> None:
    """Register the source with the session (idempotent — re-registering
    the same name simply replaces the entry)."""
    from ..session import ensure_package_shipped

    ensure_package_shipped(spark)  # workers unpickle this module by reference
    # Spark refuses a reader that implements pushFilters() while the
    # Python filter-pushdown feature flag is off — enable it with the
    # registration so every consumer gets a working scan. Permanent,
    # not a conf_window: the scan reads it when it runs.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)
