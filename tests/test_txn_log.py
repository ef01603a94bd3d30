"""Optimistic-concurrency commit log (r6 verdict item #3): the one
Delta ACID behavior reproducible without the unobtainable jars —
versioned commits with atomic claims, append-retry, loud
overwrite-conflict, and torn-read-free concurrent reads.

Acceptance (per the verdict): a two-OS-process test where concurrent
appends BOTH land (retry), a concurrent overwrite+append conflicts
LOUDLY, and a concurrent reader never sees a torn table.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

import pytest

from lakehouse_v3_spark.tables import ConcurrentWriteError, TableManager

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _record(mgr, version, op, add, read_version):
    """A complete commit record for table ``t``, as another writer
    would claim it (the schema of ``t``'s latest commit)."""
    return {"version": version, "op": op, "add": add,
            "readVersion": read_version,
            "schema": mgr._record("t", mgr.version("t"))["schema"],
            "properties": {}}


@pytest.fixture(
    autouse=True,
    params=["posix_link", "rename_noreplace", "conditional_put"],
)
def claim_impl(request, monkeypatch):
    """Run the ENTIRE commit-log suite over ALL THREE ClaimBackends
    (r8 verdict item #1 + r9 item #5: every implementation must
    exercise the seam — every conflict/retry/vacuum/compact scenario,
    not a bespoke smoke test; conditional_put is the mock object-store
    If-None-Match backend). TableManager's default claim constructor is
    swapped per-param, so each test body runs unchanged three times."""
    import lakehouse_v3_spark.tables as T

    impl = {
        "posix_link": T.PosixLinkClaim,
        "rename_noreplace": T.RenameNoReplaceClaim,
        "conditional_put": T.ConditionalPutClaim,
    }[request.param]
    monkeypatch.setattr(T, "PosixLinkClaim", impl)
    return request.param


# -- single-process protocol basics --------------------------------------


def test_txn_append_overwrite_timetravel_vacuum(spark, tmp_path):
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    v0 = mgr.append(spark.range(5).withColumnRenamed("id", "x"), "t")
    v1 = mgr.append(spark.range(5, 8).withColumnRenamed("id", "x"), "t")
    assert (v0, v1) == (0, 1)
    assert mgr.read("t").count() == 8
    v2 = mgr.overwrite(spark.range(2).withColumnRenamed("id", "x"), "t")
    assert v2 == 2
    assert mgr.read("t").count() == 2
    # time travel to the pre-overwrite state
    assert mgr.read("t", version=1).count() == 8
    # vacuum drops the two dirs the overwrite removed
    removed = mgr.vacuum("t")
    assert len(removed) == 2
    assert mgr.read("t").count() == 2
    with pytest.raises(Exception):
        mgr.read("t", version=1).count()  # vacuumed away


def test_txn_claim_is_exclusive(spark, tmp_path):
    """The hard-link claim admits exactly one writer per version."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(1), "t")
    rec = _record(mgr, 1, "append", [{"path": "_txn_data/x/a.parquet", "stats": {}}], 0)
    assert mgr._try_commit("t", rec) is True
    loser = dict(rec, add=[{"path": "_txn_data/y/a.parquet", "stats": {}}])
    assert mgr._try_commit("t", loser) is False
    # and the surviving record is the winner's, fully formed
    live = [e["path"] for e in mgr._snapshot("t")[1]]
    assert "_txn_data/x/a.parquet" in live and "_txn_data/y/a.parquet" not in live


def test_append_racing_append_retries(spark, tmp_path):
    """A lost append claim retries at the new tip — both land."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")
    # simulate a racer stealing version 1 between snapshot and claim
    real_try = mgr._try_commit
    stolen = {"done": False}

    def steal_once(table, record):
        if not stolen["done"]:
            stolen["done"] = True
            racer = _record(mgr, record["version"], "append",
                            mgr._write_data(spark.range(100, 102), "t"), 0)
            assert real_try(table, racer)
        return real_try(table, record)

    mgr._try_commit = steal_once
    try:
        v = mgr.append(spark.range(10, 14), "t")
    finally:
        mgr._try_commit = real_try
    assert v == 2  # retried past the stolen version
    assert mgr.read("t").count() == 3 + 2 + 4


def test_append_racing_overwrite_conflicts_loudly(spark, tmp_path):
    """An append whose snapshot predates a committed OVERWRITE must
    raise ConcurrentWriteError, not silently resurrect removed data."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")
    real_try = mgr._try_commit
    stolen = {"done": False}

    def steal_with_overwrite(table, record):
        if not stolen["done"]:
            stolen["done"] = True
            racer = _record(mgr, record["version"], "overwrite",
                            mgr._write_data(spark.range(1), "t"), 0)
            assert real_try(table, racer)
        return real_try(table, record)

    mgr._try_commit = steal_with_overwrite
    try:
        with pytest.raises(ConcurrentWriteError, match="overwrite"):
            mgr.append(spark.range(10, 14), "t")
    finally:
        mgr._try_commit = real_try


def test_overwrite_racing_anything_conflicts_loudly(spark, tmp_path):
    """An overwrite NEVER retries: any commit after its snapshot makes
    its remove-set stale."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")
    real_try = mgr._try_commit
    stolen = {"done": False}

    def steal_once(table, record):
        if not stolen["done"]:
            stolen["done"] = True
            racer = _record(mgr, record["version"], "append",
                            mgr._write_data(spark.range(5), "t"), 0)
            assert real_try(table, racer)
        return real_try(table, record)

    mgr._try_commit = steal_once
    try:
        with pytest.raises(ConcurrentWriteError, match="conflicts"):
            mgr.overwrite(spark.range(9), "t")
    finally:
        mgr._try_commit = real_try


def test_append_never_lands_above_overwrite_committed_mid_retry(
    spark, tmp_path
):
    """r7 advisory (medium): the exact lost-append window — append
    loses v_N to another APPEND, an OVERWRITE then takes v_{N+1}
    before the retry's claim. The old code's post-failure scan ran
    before the overwrite landed and its retry claimed v_{N+2}
    silently, resurrecting removed data; the reordered
    scan-after-version-compute must raise instead."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")  # v0
    real_try = mgr._try_commit
    state = {"injected": False}

    def inject(table, record):
        if record["op"] == "append" and not state["injected"]:
            state["injected"] = True
            racer = _record(mgr, record["version"], "append",
                            mgr._write_data(spark.range(5), "t"), 0)
            assert real_try(table, racer)
            res = real_try(table, record)  # our claim loses
            assert res is False
            ow = _record(mgr, record["version"] + 1, "overwrite",
                         mgr._write_data(spark.range(1), "t"), record["version"])
            assert real_try(table, ow)  # overwrite lands pre-retry
            return res
        return real_try(table, record)

    mgr._try_commit = inject
    try:
        with pytest.raises(ConcurrentWriteError, match="overwrite"):
            mgr.append(spark.range(10, 14), "t")
    finally:
        mgr._try_commit = real_try
    # the overwrite's state is intact: only its single row is live
    assert mgr.read("t").count() == 1


def test_vacuum_retention_spares_inflight_writer(spark, tmp_path):
    """r7 advisory (medium): a writer that has written its data dir
    but not yet claimed a version must survive vacuum — only
    never-committed dirs OLDER than the retention window are treated
    as orphans. Superseded committed dirs drop at any age."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3).withColumnRenamed("id", "x"), "t")  # v0
    mgr.overwrite(spark.range(2).withColumnRenamed("id", "x"), "t")  # v1

    # an in-flight writer: data written, claim not yet made
    inflight = mgr._write_data(
        spark.range(7, 9).withColumnRenamed("id", "x"), "t"
    )
    removed = mgr.vacuum("t")  # default retention: 7 days (Delta's)
    # the superseded v0 dir is gone; the fresh in-flight dir is spared
    assert len(removed) == 1
    inflight_name = inflight[0]["path"].split("/")[1]
    assert inflight_name not in removed
    # ... so the in-flight writer can still commit, and its rows exist
    rec = _record(mgr, 2, "append", inflight, 1)
    assert mgr._try_commit("t", rec)
    assert mgr.read("t").count() == 2 + 2

    # an ANCIENT never-committed dir (crashed writer) is reclaimed —
    # older than the 7-day default window (r8 advisory raised it from
    # 10 min: retention must exceed the longest possible write)
    orphan_name = mgr._write_data(spark.range(1), "t")[0]["path"].split("/")[1]
    orphan_path = f"{mgr.path('t')}/_txn_data/{orphan_name}"
    old = time.time() - 8 * 24 * 3600
    os.utime(orphan_path, (old, old))
    removed2 = mgr.vacuum("t")
    assert removed2 == [orphan_name]
    assert mgr.read("t").count() == 4  # committed state untouched


def test_claim_backend_probe_fails_loudly_without_primitive(
    spark, tmp_path, monkeypatch, claim_impl
):
    """r7 verdict item #5: the claim primitive is a pluggable
    ClaimBackend with a capability probe — a filesystem where the
    backend's primitive doesn't work (hard links on object-store FUSE
    mounts; renameat2 on non-Linux/old kernels) must raise
    ClaimUnsupportedError, never degrade to a racy create."""
    from lakehouse_v3_spark.tables import (
        ClaimUnsupportedError,
        RenameNoReplaceClaim,
    )

    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")

    if claim_impl == "posix_link":
        def no_link(src, dst):
            raise OSError(38, "Function not implemented (hard links)")

        monkeypatch.setattr(os, "link", no_link)
    elif claim_impl == "rename_noreplace":
        def no_renameat2(self, src, dst):
            raise OSError(38, "Function not implemented (renameat2)")

        monkeypatch.setattr(
            RenameNoReplaceClaim, "_renameat2_noreplace", no_renameat2
        )
    else:
        import lakehouse_v3_spark.tables as T

        real_mkdir = os.mkdir

        def no_mkdir(path, *a, **kw):
            # only the CLAIM mkdir is "unsupported" — makedirs of the
            # log dir itself must keep working so the probe reaches the
            # primitive under test
            if str(path).endswith(".claim"):
                raise OSError(38, "Function not implemented (mkdir)")
            return real_mkdir(path, *a, **kw)

        monkeypatch.setattr(T.os, "mkdir", no_mkdir)
    with pytest.raises(ClaimUnsupportedError, match="conditional-put"):
        mgr.append(spark.range(1), "t")


def test_claim_backend_is_injectable(spark, tmp_path):
    """A custom backend (the conditional-put seam) is used for every
    claim; the POSIX default stays untouched."""
    from lakehouse_v3_spark.tables import PosixLinkClaim

    calls = []

    class Recording(PosixLinkClaim):
        def put_if_absent(self, payload, final_path):
            calls.append(final_path)
            return super().put_if_absent(payload, final_path)

    mgr = TableManager(
        spark, str(tmp_path / "wh"), backend="parquet",
        claim_backend=Recording(),
    )
    mgr.append(spark.range(2), "t")
    mgr.overwrite(spark.range(1), "t")
    # both commits (+1 probe file) went through the injected backend
    assert sum(c.endswith(".json") for c in calls) == 2


def test_txn_read_merges_evolving_schema(spark, tmp_path):
    """S8's mergeSchema contract extends to the commit log: an append
    that adds a column evolves the table schema; earlier rows read the
    new column as NULL (Delta append semantics)."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3).selectExpr("id AS x"), "t")
    mgr.append(
        spark.range(3, 5).selectExpr("id AS x", "id * 10 AS y"), "t"
    )
    df = mgr.read("t")
    assert set(df.columns) == {"x", "y"}
    rows = {r.x: r.y for r in df.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40}


def test_txn_compact_loses_race_loudly_not_rows(spark, tmp_path):
    """r8 review finding: an append committed between compaction's
    read snapshot and its overwrite claim must make the compaction
    RAISE — never silently drop the append's committed rows. The
    overwrite is pinned to the read version, so the interloper taking
    read_version+1 defeats the claim."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(10), "t")  # v0
    real_write = mgr._write_data
    injected = {"done": False}

    def write_then_interlope(df, table, partition_by=None):
        add = real_write(df, table, partition_by)
        if not injected["done"]:
            injected["done"] = True
            # a concurrent append lands AFTER compact's snapshot but
            # BEFORE its claim (mid-rewrite)
            mgr._write_data = real_write
            try:
                mgr.append(spark.range(100, 105), "t")  # v1
            finally:
                mgr._write_data = write_then_interlope
        return add

    mgr._write_data = write_then_interlope
    try:
        with pytest.raises(ConcurrentWriteError):
            mgr.compact("t")
    finally:
        mgr._write_data = real_write
    # nothing lost: both commits' rows remain live
    assert mgr.read("t").count() == 15


def test_txn_compact_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE on the commit log: fewer files, identical content, a
    real commit (pre-compaction versions stay time-travelable until
    vacuumed; version number advances)."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    for i in range(4):  # 4 appends → ≥4 data dirs, many small files
        mgr.append(
            spark.range(i * 10, i * 10 + 10).repartition(4), "t"
        )
    assert mgr.version("t") == 3

    before = len(mgr.files("t"))
    assert mgr.compact("t") == 1
    assert mgr.version("t") == 4
    assert len(mgr.files("t")) < before
    assert sorted(r.id for r in mgr.read("t").collect()) == list(range(40))
    # pre-compaction state still readable (time travel)
    assert mgr.read("t", version=3).count() == 40
    # and vacuum now reclaims the superseded small-file dirs
    removed = mgr.vacuum("t")
    assert len(removed) == 4


def test_txn_restore_copies_no_data(spark, tmp_path):
    """RESTORE is one overwrite commit whose add-set is the old
    version's live set: no new _txn_data dir, old content back, later
    versions still time-travelable."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")  # v0
    mgr.append(spark.range(3, 5), "t")  # v1
    mgr.overwrite(spark.range(100, 107), "t")  # v2
    data_root = f"{mgr.path('t')}/_txn_data"
    dirs_before = sorted(os.listdir(data_root))
    v = mgr.restore("t", 1)
    assert v == 3 and mgr.version("t") == 3
    assert sorted(os.listdir(data_root)) == dirs_before
    assert sorted(r.id for r in mgr.read("t").collect()) == list(range(5))
    assert mgr.read("t", version=2).count() == 7
    # the restore commit is an ordinary overwrite record
    rec = mgr._record("t", 3)
    assert rec["op"] == "overwrite" and rec["readVersion"] == 2
    assert rec["add"] == mgr._snapshot("t", 1)[1]
    # appends after a restore extend the restored set
    mgr.append(spark.range(50, 51), "t")
    assert mgr.read("t").count() == 6


def test_txn_restore_to_vacuumed_version_raises(spark, tmp_path):
    """A version whose files vacuum removed, or one the log never
    held, cannot be restored — FileNotFoundError, and no commit."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.overwrite(spark.range(3), "t")  # v0
    mgr.overwrite(spark.range(5), "t")  # v1
    assert len(mgr.vacuum("t")) == 1  # v0's dir
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        mgr.restore("t", 0)
    for missing in (2, 99, -1):
        with pytest.raises(FileNotFoundError, match="not committed"):
            mgr.restore("t", missing)
    with pytest.raises(FileNotFoundError):
        mgr.restore("never", 0)
    assert mgr.version("t") == 1
    assert mgr.read("t").count() == 5


def test_txn_vacuum_keep_last_keeps_previous_version(spark, tmp_path):
    """keep_last=2 retains every dir live in the last two versions:
    time travel and restore to the previous version keep working, only
    older superseded dirs are dropped."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.overwrite(spark.range(2), "t")  # v0
    mgr.append(spark.range(2, 3), "t")  # v1 (v0's dir still live)
    mgr.overwrite(spark.range(10, 14), "t")  # v2
    mgr.overwrite(spark.range(20, 25), "t")  # v3
    live_v1 = {e["path"].split("/")[1] for e in mgr._snapshot("t", 1)[1]}
    removed = mgr.vacuum("t", keep_last=2)
    assert set(removed) == live_v1  # v0+v1 dirs; v2 and v3 kept
    assert mgr.read("t", version=2).count() == 4
    assert mgr.read("t").count() == 5
    with pytest.raises(Exception):
        mgr.read("t", version=1).count()
    assert mgr.restore("t", 2) == 4
    assert mgr.read("t").count() == 4
    with pytest.raises(ValueError):
        mgr.vacuum("t", keep_last=0)


def test_vacuum_bounds_the_log(spark, tmp_path):
    """Vacuum also drops the commit records below the last overwrite
    the kept versions replay from: 40 appends, a compaction and a
    vacuum leave one record, and the table reads, versions and appends
    on as before."""
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    for i in range(40):
        mgr.append(spark.range(i, i + 1, numPartitions=1), "t")
    mgr.compact("t")  # v40
    mgr.vacuum("t")
    tip = f"{40:020d}.json"
    assert sorted(os.listdir(mgr._log_dir("t"))) in (
        [tip], [tip, tip + ".claim"]  # ConditionalPutClaim's marker
    )
    assert mgr.version("t") == 40
    assert mgr.read("t").count() == 40
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        mgr.read("t", version=39)
    assert mgr.append(spark.range(40, 41), "t") == 41
    assert mgr.read("t").count() == 41
    assert mgr.vacuum("t") == [] and len(os.listdir(mgr._log_dir("t"))) >= 2


# -- the two-OS-process acceptance test ----------------------------------

_WRITER_SCRIPT = textwrap.dedent(
    """
    import sys, time
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession, functions as F
    from lakehouse_v3_spark.tables import (
        TableManager, ConcurrentWriteError, PosixLinkClaim,
        RenameNoReplaceClaim, ConditionalPutClaim,
    )

    wh, marker, mode, claim_name = (
        sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
    )
    claim = {{"posix_link": PosixLinkClaim,
              "rename_noreplace": RenameNoReplaceClaim,
              "conditional_put": ConditionalPutClaim}}[claim_name]()
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    mgr = TableManager(spark, wh, backend="parquet", claim_backend=claim)

    if mode == "append":
        # 4 batches of 50 rows each, marker-tagged
        for b in range(4):
            df = (spark.range(50)
                  .select(F.lit(marker + "-" + str(b)).alias("batch"),
                          F.col("id")))
            v = mgr.append(df, "t")
            print("committed", marker, b, "as v", v, flush=True)
        print("APPENDER_OK", flush=True)
    else:  # conflicted overwrite: snapshot, wait for an append, commit
        real = mgr._write_data
        def slow_write(df, table, partition_by=None):
            add = real(df, table, partition_by)
            # wait until the other process has committed something
            # beyond our read snapshot
            base = mgr.version("t")
            for _ in range(600):
                if mgr.version("t") != base:
                    break
                time.sleep(0.1)
            return add
        mgr._write_data = slow_write
        try:
            mgr.overwrite(spark.range(1).select(
                F.lit("ow").alias("batch"), F.col("id")), "t")
            print("OVERWRITE_LANDED", flush=True)
        except ConcurrentWriteError as e:
            print("CONFLICT_RAISED:", type(e).__name__, flush=True)
    spark.stop()
    """
)


def test_two_process_appends_conflict_and_reads(spark, tmp_path, claim_impl):
    """THE acceptance test: two separate OS processes append
    concurrently (all 8 batches land exactly-once via claim retries), a
    third process's overwrite whose snapshot went stale raises
    ConcurrentWriteError, and this process reads concurrently
    throughout without ever observing a torn batch (every visible
    batch has all 50 rows). Runs once per ClaimBackend (the
    cross-process races are exactly what the claim primitive exists
    for — both implementations must survive them)."""
    wh = str(tmp_path / "wh")
    mgr = TableManager(spark, wh, backend="parquet")
    mgr.append(
        spark.range(50).selectExpr("'seed-0' AS batch", "id"), "t"
    )

    env = dict(os.environ)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c",
             _WRITER_SCRIPT.format(repo=REPO_DIR), wh, m, "append",
             claim_impl],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=env,
        )
        for m in ("alpha", "beta")
    ]
    conflicted = subprocess.Popen(
        [sys.executable, "-c",
         _WRITER_SCRIPT.format(repo=REPO_DIR), wh, "gamma", "overwrite",
         claim_impl],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
    )

    # concurrent reader: no torn batches, version never goes backwards
    deadline = time.time() + 240
    last_version = -1
    try:
        while any(p.poll() is None for p in procs) and time.time() < deadline:
            v = mgr.version("t")
            assert v >= last_version, "committed version went backwards"
            last_version = v
            counts = {
                r["batch"]: r["n"]
                for r in mgr.read("t")
                .groupBy("batch").agg(F_count())
                .collect()
            }
            assert all(n == 50 for n in counts.values()), (
                f"torn read: {counts}"
            )
            time.sleep(0.3)
    finally:
        outs = [p.communicate(timeout=240) for p in procs]
        c_out, c_err = conflicted.communicate(timeout=240)

    for (out, err), p in zip(outs, procs):
        assert p.returncode == 0, err[-2000:]
        assert "APPENDER_OK" in out
    assert "CONFLICT_RAISED: ConcurrentWriteError" in c_out, (
        c_out + c_err[-2000:]
    )

    # all 9 batches (1 seed + 2×4) landed exactly once, 50 rows each
    final = {
        r["batch"]: r["n"]
        for r in mgr.read("t").groupBy("batch").agg(F_count()).collect()
    }
    assert len(final) == 9, sorted(final)
    assert all(n == 50 for n in final.values())
    # versions are contiguous 0..8 (every claim resolved)
    assert mgr.version("t") == 8


def F_count():
    from pyspark.sql import functions as F

    return F.count(F.lit(1)).alias("n")


def test_claim_probe_is_per_directory(spark, tmp_path):
    """r9 ADVICE (low): the capability probe must run once per claim
    DIRECTORY, not once per TableManager — tables can span mounts with
    different claim support."""
    from lakehouse_v3_spark.tables import PosixLinkClaim

    probed = []

    class Recording(PosixLinkClaim):
        def probe(self, directory):
            probed.append(directory)
            return super().probe(directory)

    mgr = TableManager(
        spark, str(tmp_path / "wh"), backend="parquet",
        claim_backend=Recording(),
    )
    mgr.append(spark.range(1), "t1")        # txn-log dir of t1
    mgr.append(spark.range(1), "t1")        # same dir: no new probe
    mgr.append(spark.range(1), "t2")        # txn-log dir of t2
    mgr.overwrite(spark.range(1), "t2")     # same dir: no new probe
    assert len(probed) == 2 and len(set(probed)) == 2
    assert mgr._log_dir("t1") in probed
    assert mgr._log_dir("t2") in probed


# -- conditional-put (mock object store) fault injection ------------------


def test_conditional_put_visibility_lag_is_safe(spark, tmp_path, claim_impl):
    """r9 verdict item #5: the object-store failure mode the POSIX
    backends cannot express — the conditional PUT is ACKNOWLEDGED
    (claim decided) while the object lags out of listings. A competing
    appender keeps targeting the invisible version and losing its
    claim; once the object publishes, it lands exactly-once ABOVE it.
    No version is ever double-claimed, no reader sees a torn record."""
    import threading

    from lakehouse_v3_spark.tables import ConditionalPutClaim

    if claim_impl != "conditional_put":
        pytest.skip("backend-specific fault injection")
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")  # v0

    # racer: claims v1 through a LAGGY backend (ack now, publish late)
    laggy = ConditionalPutClaim(visibility_delay_s=0.6)
    rec = _record(mgr, 1, "append", mgr._write_data(spark.range(100, 105), "t"), 0)
    payload = __import__("json").dumps(rec).encode()
    racer = threading.Thread(
        target=lambda: laggy.put_if_absent(
            payload, mgr._commit_path("t", 1)
        )
    )
    racer.start()
    time.sleep(0.1)  # claim marker is down, object not yet visible
    # competing append: loses the claim on invisible v1 until it
    # publishes, then retries onto v2 — exactly-once
    v = mgr.append(spark.range(10, 14), "t", max_retries=200_000)
    racer.join()
    assert v == 2
    assert mgr.version("t") == 2
    assert mgr.read("t").count() == 3 + 5 + 4  # racer's rows landed too


def test_conditional_put_crash_window_fails_loudly(
    spark, tmp_path, claim_impl
):
    """The mock's disclosed crash window (claim marker down, object
    never published — real S3 makes both one conditional PUT): the
    orphaned claim must make competing appends fail LOUDLY after their
    retry budget, never double-claim or corrupt the log."""
    from lakehouse_v3_spark.tables import ConditionalPutClaim

    if claim_impl != "conditional_put":
        pytest.skip("backend-specific fault injection")
    mgr = TableManager(spark, str(tmp_path / "wh"), backend="parquet")
    mgr.append(spark.range(3), "t")  # v0

    class Crash(RuntimeError):
        pass

    crasher = ConditionalPutClaim(
        on_claimed=lambda path: (_ for _ in ()).throw(Crash("died"))
    )
    with pytest.raises(Crash):
        crasher.put_if_absent(b"{}", mgr._commit_path("t", 1))
    # v1 is claimed forever but never published: appends stall, then
    # raise — the log itself stays clean (v0 only, every record parses)
    with pytest.raises(ConcurrentWriteError, match="lost the commit race"):
        mgr.append(spark.range(5), "t", max_retries=10)
    assert mgr.version("t") == 0
    assert mgr.read("t").count() == 3
