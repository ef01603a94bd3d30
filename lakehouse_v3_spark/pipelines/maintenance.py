"""Reusable small-file maintenance for DAG tables (r12 verdict item
#4): any table that takes one small file-set per run — an append-only
bronze layer, an accumulating state/index table — grows linearly in
file count with run count until something compacts it. The reference
runs VACUUM on its uber zone after every dedup pass
(spark/jobs/uber/drop_dup.py:96-101); round 12 gave the curation DAG a
``maintain`` task with that discipline, and this module's
:func:`maintain_task` is the one task body every DAG attaches
(curation, uber, scheduled uber, audit).

Design (unchanged from the r12 curation task, now shared):

- the file count is read from the table's commit log — zero Spark
  jobs on the steady-state run where everything is within bound;
- when a table exceeds the bound it is rewritten to ⌈rows/1M⌉ files
  (``TableManager.compact``, the OPTIMIZE analogue);
- every visited table is vacuumed (a log replay plus one listing, no
  Spark job), so the commit dirs each overwrite supersedes do not pile
  up between compactions. A DAG passes the tables it overwrites every
  run as ``vacuum_only``: one commit per run never needs compacting,
  but without a vacuum each run would leave a full copy on disk;
- the bound IS the cadence: every ~bound runs one table pays one
  deterministic overwrite, idempotent under crash-retry (a replay
  compacts again or finds the count low);
- compaction never changes table CONTENTS, so every
  incremental ≡ full-recompute equivalence holds across it.

At 100 TB the same task shape holds: the count reads the log, not the
data files, and compaction is per-table, so a DAG with
many tables amortizes one table's rewrite per run rather than paying
them all at once.
"""

from __future__ import annotations

from ..orchestrate import Skip
from ..tables import TableManager

# compact a table when its data-file count exceeds this
MAINTAIN_FILE_BOUND = 64


def run_maintain(
    tm: TableManager, tables, file_bound: int, vacuum_only=()
) -> dict:
    """One maintenance sweep: compact every existing table of ``tables``
    whose live data-file count exceeds ``file_bound``, then vacuum every
    existing table of ``tables`` and ``vacuum_only``; raises
    :class:`Skip` (zero Spark jobs) when nothing was compacted. Returns
    ``{"compacted": {table: {"before": n, "after": m}}}``."""
    compacted = {}
    for t in tables:
        if not tm.exists(t):
            continue
        n_files = len(tm.files(t))
        if n_files > file_bound:
            compacted[t] = {"before": n_files, "after": tm.compact(t)}
        tm.vacuum(t)
    for t in vacuum_only:
        if tm.exists(t):
            tm.vacuum(t)
    if not compacted:
        raise Skip(f"all tables within {file_bound} data files")
    return {"compacted": compacted}


def maintain_task(tm: TableManager, tables, vacuum_only=()):
    """Task-body factory for a DAG ``maintain`` task over ``tables``
    (and ``vacuum_only``, see :func:`run_maintain`). The bound is the
    module's MAINTAIN_FILE_BOUND, read at CALL time (so tests can
    monkeypatch the global)."""
    tables, vacuum_only = tuple(tables), tuple(vacuum_only)

    def maintain(ctx):
        return run_maintain(tm, tables, MAINTAIN_FILE_BOUND, vacuum_only)

    return maintain
