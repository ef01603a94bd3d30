"""Custom stateful streaming operators (SURVEY.md §2.9 'not present'
row — the extension point for operators Spark's built-in windowed aggs
can't express).

running_user_totals_exact: per-key running event count + exact-decimal
value sum that persists across micro-batches (applyInPandasWithState
GroupState), emitting one updated row per key per batch. The same
callable works under availableNow batch draining and continuous
triggers.

distinct_type_counts: per-key distinct event-type counts held in
MapState (transformWithStateInPandas, Spark 4.0+ — the catalog already
requires 4.0 through ``pyspark.sql.datasource``).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EXACT_OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
EXACT_STATE_SCHEMA = "n long, total string"


def _update_totals_exact(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Exact-decimal running totals: each incoming double is quantized
    to 6 dp HALF-UP on its exact binary value — the same per-element
    rounding as Spark's CAST(double AS DECIMAL(30,6)) (and DuckDB's) —
    then summed in exact decimal arithmetic, so the emitted double is
    independent of micro-batch boundaries and row order. The running
    decimal rides in state as a string (exact, schema-stable)."""
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")
    if state.exists:
        n, total_s = state.get
        total = Decimal(total_s)
    else:
        n, total = 0, Decimal(0)
    for pdf in pdfs:
        n += len(pdf)
        for v in pdf["value"]:
            # SQL SUM skips NULLs (and a NaN would poison the Decimal
            # total permanently) — match that semantics before
            # accumulating (r6 advisory). n_events still counts every
            # row, like COUNT(*).
            if v is None or v != v:
                continue
            # Decimal(float) is the EXACT binary value; quantize matches
            # DuckDB's double→decimal(30,6) cast (the oracle engine).
            # Caveat (r6 advisory): Spark's CAST(double AS DECIMAL)
            # rounds from the SHORTEST-string repr instead, so an edge
            # double sitting a sub-ulp above/below a .5 boundary at
            # 6 dp could quantize differently there — irrelevant here
            # because this UDF *is* the Spark-side engine (no CAST in
            # the Spark path) and the only cross-engine compare is
            # against DuckDB, whose semantics we mirror exactly.
            total += Decimal(float(v)).quantize(q6, rounding=ROUND_HALF_UP)
    state.update((n, str(total)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [float(total)],
        }
    )


def running_user_totals_exact(events: DataFrame) -> DataFrame:
    """applyInPandasWithState running totals whose value sum is exact
    decimal (oracle-hash-stable) — the catalog-facing variant; see
    plans/streaming_queries.py stream_state_running_totals."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals_exact,
        outputStructType=EXACT_OUTPUT_SCHEMA,
        stateStructType=EXACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary stateful processing)
# ---------------------------------------------------------------------------

# The TWS Python↔JVM state-server protocol is protobuf; without a
# google.protobuf wheel, fall back to the vendored mini wire-format
# runtime (lakehouse_v3_spark/vendor). Running at module import means
# every process that unpickles the processor class (executor workers,
# the TWS driver worker) gets the path fix before pyspark's lazy
# StateMessage_pb2 import.
from ..vendor import ensure_protobuf  # noqa: E402

ensure_protobuf()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class DistinctTypeCounts(StatefulProcessor):
    """Per-user distinct-event-type counts held in MapState across
    micro-batches — the Spark-4 ``transformWithStateInPandas``
    successor to applyInPandasWithState. MapState gives point
    lookups/updates per (user, event_type) without deserializing the
    whole per-key state each batch, which is what keeps a 100 TB
    keyspace's state store incremental (RocksDB-backed on a real
    cluster)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type string", "n long"
        )

    def handleInputRows(self, key, rows, timerValues):
        # ONE streamed iterator() read of the key's map, then point
        # updateValue writes for the touched types only (r14): the
        # previous shape paid containsKey + getValue per type PLUS
        # full keys() and values() iterations — ~35+ state-server
        # RPC round trips per user per batch, which dominated the
        # drain (the emission needs n_types/n_events over ALL types
        # anyway, so one full read is the floor). State content and
        # emitted values are identical.
        counts = {k[0]: v[0] for k, v in self._counts.iterator()}
        for pdf in rows:
            for etype, c in pdf["event_type"].value_counts().items():
                nxt = counts.get(etype, 0) + int(c)
                counts[etype] = nxt
                self._counts.updateValue((etype,), (nxt,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_types": [len(counts)],
                "n_events": [sum(counts.values())],
            }
        )

    def close(self) -> None:
        pass


def distinct_type_counts(events: DataFrame) -> DataFrame:
    """Per-user distinct event-type running counts over a stream via
    transformWithStateInPandas (update mode, processing-time)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=DistinctTypeCounts(),
        outputStructType="user_id long, n_types long, n_events long",
        outputMode="Update",
        timeMode="None",
    )
