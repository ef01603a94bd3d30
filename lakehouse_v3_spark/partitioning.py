"""Partitioning helpers for Python-boundary stages.

AQE's partition coalescing sizes post-shuffle partitions by BYTES
(``advisoryPartitionSizeInBytes`` / ``minPartitionSize``), a model built
for JVM-cheap operators. A grouped Python stage (``applyInPandas``, a
grouped pandas_udf) costs orders of magnitude more CPU per byte —
numpy GEMM over vector blocks, per-group pandas sorts — so on a small
input AQE happily coalesces the exchange feeding it down to one or two
partitions and funnels every group through a single Python worker
(measured r13: ``applyinpandas_group_median`` 3.2 s → 0.8 s once the
exchange kept the session's parallelism).

``pin_grouped_python_parallelism`` inserts an EXPLICIT numbered
repartition on the grouping keys at the session's configured shuffle
parallelism. Numbered repartitions are exempt from AQE coalescing, and
the downstream ``groupBy`` on the same keys reuses the partitioning, so
the plan still carries exactly ONE exchange — the same exchange as
before, just pinned to full width. Values are unaffected (hash
partitioning by the same keys either way); only task granularity
changes. At production scale this pin is what you would configure
anyway: a Python-boundary stage wants the cluster's full parallelism,
not byte-balanced partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def session_shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def fan_out_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Raise a CPU-dense pre-shuffle segment's parallelism when the scan
    itself cannot provide it.

    A parquet scan's parallelism is capped by its file/row-group layout
    (one single-row-group file = ONE task no matter the split size), so
    everything fused above the first exchange — per-row hashing,
    tokenize+explode, decimal aggregation — runs on one core while the
    rest of the machine idles. Guarded to be a production NO-OP: when
    the scan already has at least the session's shuffle parallelism in
    input files (any real lake layout), the input is returned unchanged;
    only a degenerate layout (one fat file, a tiny fixture, one gzip)
    pays the extra exchange, which is exactly when it is worth paying
    (measured r13: TPC-H q1's decimal aggregation 1.95 s → 0.73 s).

    ``keys`` (a high-cardinality column) selects HASH partitioning,
    which skips round-robin's sort-before-repartition pass
    (SPARK-23207 makes keyless repartition sort its input for retry
    determinism — measured 1.13 s vs 0.73 s on the same fan-out);
    keyless falls back to round-robin. Values are unaffected either
    way: only the placement of rows changes, and a numbered repartition
    is deterministic under retries (hash) or sorted (round-robin).
    """
    target = session_shuffle_partitions(df)
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if files is not None and len(files) >= target:
        return df  # production layout: the scan already fans out
    if not files:
        # non-file input (checkpointed RDD, in-memory rows): fall back
        # to the plan's actual partition count; undeterminable → no-op
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def pin_grouped_python_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` at the session's shuffle
    parallelism with an AQE-exempt numbered repartition, so the grouped
    Python stage that follows runs one task per partition instead of
    being byte-coalesced onto a single Python worker."""
    return df.repartition(session_shuffle_partitions(df), *keys)


TRAINING_BYTES_PER_PARTITION = 128 * 1024


def training_frame_width(df: DataFrame) -> int:
    """Partition count for a PERSISTED iterative-training frame (Lloyd
    / PQ): every iteration launches one job over it, so the width must
    balance per-task scheduling overhead (dozens of tiny tasks per
    iteration × tens of iterations) against parallel compute. One
    partition per ~128 KiB of input, clamped to [1, session
    parallelism] — measured at sf0.1 (780 KiB, 20k vectors): width 8 =
    0.34 s/iteration vs width 32 = 0.42 s and the unrepartitioned
    one-split scan ≈ 0.65 s (r13). A corpus-scale input hits the clamp
    and keeps full parallelism; bytes-unknown inputs (derived frames)
    fall back to full parallelism too."""
    cap = session_shuffle_partitions(df)
    total = input_bytes(df)
    if total is None:
        return cap  # bytes unknown: keep full width
    want = -(-total // TRAINING_BYTES_PER_PARTITION)
    return max(1, min(cap, want))


def local_bytes(paths) -> int | None:
    """Summed on-disk size of ``paths`` (``file://`` URIs or plain
    local paths), or None when any of them is on a non-local store (no
    cheap size) or cannot be stat'ed. Each caller picks its own
    fallback for None."""
    import os

    total = 0
    for f in paths:
        p = f[7:] if f.startswith("file://") else f
        if "://" in p:
            return None
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def input_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the files a frame scans (:func:`local_bytes` of
    its ``inputFiles()``); None when unknowable — a derived frame with
    no file scan, or a non-local store."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    return local_bytes(files) if files else None


PER_GROUP_WINDOW_BYTES = 256 * 1024 * 1024


def fits_per_group_window(df: DataFrame) -> bool:
    """True when the scan feeding ``df`` is small enough that a
    per-LOW-CARDINALITY-group window (each group sorted in ONE task) is
    safe — the size-derived dispatch between the plain window plan and
    the two-phase range-partition machinery (guide §2: derive the
    partitioning decision from input size, don't pin either shape).

    The range-partition formulation (ids.with_grouped_cumsum,
    scale_extras._ranks_fused) exists because Window.partitionBy on a
    single-digit-cardinality key sorts ~|rows|/|groups| of the corpus in
    one task at 100 TB (SURVEY §4 anti-pattern #1) — but it costs 3
    fixed driver-sequenced jobs (range sampling, partials collect,
    output materialization), which DOMINATE when the whole table is a
    few MB (measured r14 at sf0.1: window_ntile_ranks 0.30 s plain vs
    1.97 s fused; pack_sequences_greedy 0.36 vs 1.30 s — identical
    values, pinned by test). Below the threshold (total scan bytes ≤
    ``SPARK_GRAFT_GROUP_WINDOW_BYTES``, default 256 MiB — a one-task
    sort of ≤ a few hundred MB is routine) the plain window is the
    better plan at ANY deployment size; above it, or whenever the input
    size is unknowable (derived frames), the scale shape is used."""
    import os

    limit = int(
        os.environ.get("SPARK_GRAFT_GROUP_WINDOW_BYTES", PER_GROUP_WINDOW_BYTES)
    )
    total = input_bytes(df)
    return total is not None and total <= limit


# r14: training_loop_conf (the r13 AQE-off + 8-partition-reduce session
# window for the per-iteration DataFrame jobs) was removed along with
# those jobs — the training loops now iterate over a persisted RDD of
# numpy blocks with no SQL job in the loop at all (operators/
# train_blocks.py), so there is no session conf to mutate and the
# concurrency hazard of a shared-session conf window is gone with it.
