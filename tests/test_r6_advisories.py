"""Regression pins for the round-5 advisory findings (ADVICE.md r5):

1. medium — ivf_queries._N_UNROLL (22) < sf0.1's measured convergence
   (30-31 iterations), so the primary unrolled oracle silently returned
   ZERO rows at sf0.1: a false correctness failure on a stocked fixture.
2. low — sf_gate's one-shot Timer(con.interrupt) was lost when it fired
   between two statements of a multi-statement callable oracle.
3. low — the TWS sink-dir ring (keep=2) deleted the parquet backing a
   DataFrame returned two invocations earlier.
4. low — _lsh_index_manager keyed the warehouse on os.getpid() (index
   rebuilt per process, dirs leaked) and used second-granular mtime.
5. low — ngram_jaccard_pairs silently computed wrong jaccard when an id
   had shingle rows under more than one block value.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS_DIR = os.path.join(REPO_DIR, "tools")


# -- 1. IVF unroll covers every stocked fixture -------------------------


def test_ivf_unroll_covers_fixtures():
    from lakehouse_v3_spark.plans import ivf_queries

    # measured convergence: 13 / 19 / 30 / 24 / 9 iterations at
    # sf0.001 / 0.01 / 0.1 / 1 / 5 — the unroll must exceed the max
    # with headroom so the chain always contains a converged iteration
    assert ivf_queries._N_UNROLL >= 36


def test_ivf_primary_oracle_nonempty_at_sf01():
    """The actual r5 bug: at sf0.1 (a driver-stocked fixture) the
    unrolled chain had no iteration with shift<=tol, tsel was NULL and
    the oracle returned zero rows. Runs the REAL primary oracle SQL at
    sf0.1 (~3 s in DuckDB) and requires the converged centroids."""
    import duckdb

    from lakehouse_v3_spark.operators.ivf import IVF_K
    from lakehouse_v3_spark.plans import load_all

    qd = load_all()["kmeans_converged_centroids"]
    sf = "/root/testdata/sf0.1"
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        df = con.execute(qd.oracle).fetchdf()
    finally:
        con.close()
    assert len(df) > 0, "unrolled oracle returned zero rows at sf0.1"
    assert df["cid"].nunique() == IVF_K


# -- 2. sf_gate watchdog fires between statements -----------------------


def test_sf_gate_watchdog_interrupts_multi_statement_oracle():
    if TOOLS_DIR not in sys.path:
        sys.path.insert(0, TOOLS_DIR)
    import sf_gate

    def looped_oracle(con, sf_dir):
        # many sequential quick statements: the old one-shot timer's
        # interrupt routinely landed between two of them and was lost,
        # so the loop ran all the way through (~unbounded for the real
        # 200-round CC oracle). Each statement is ~0.05-0.2 s.
        for _ in range(400):
            con.execute("SELECT sum(range) FROM range(3000000)").fetchone()
        return None

    t0 = time.monotonic()
    df, timed_out = sf_gate.run_oracle_with_timeout(
        looped_oracle, tempfile.gettempdir(), timeout=1.0
    )
    elapsed = time.monotonic() - t0
    assert timed_out, "watchdog never interrupted the looped oracle"
    assert elapsed < 15, f"oracle ran {elapsed:.1f}s past a 1s timeout"


# -- 3. TWS sink dirs live until process exit ---------------------------


def test_tws_sink_dirs_not_reaped_within_process(spark, sf_dir):
    """A result DataFrame held across two further invocations of the
    TWS catalog query must still be collectable (the old 2-deep ring
    rmtree'd its backing parquet)."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from lakehouse_v3_spark.plans import load_all
    from lakehouse_v3_spark.plans import streaming_queries as sq

    fn = load_all()["stream_tws_distinct_type_counts"].fn
    first = fn(spark, sf_dir)
    n_first = first.count()
    fn(spark, sf_dir)
    fn(spark, sf_dir)
    # third invocation would previously have deleted `first`'s sink dir
    assert first.count() == n_first
    assert len(sq._TWS_SINK_DIRS) >= 3
    for d in sq._TWS_SINK_DIRS[-3:]:
        assert os.path.exists(d)


# -- 4. LSH index warehouse is cross-process + ns-fingerprinted ---------


def _fake_fixture(tmpdir: str) -> str:
    os.makedirs(tmpdir, exist_ok=True)
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        os.path.join(tmpdir, "documents.parquet"),
    )
    return tmpdir


def _private_tempdir(tmp_path, monkeypatch):
    """Point the index cache and its lock files at a per-test dir, so
    no ``lsh_index_*`` entry is left in the system temp dir."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    return scratch


def test_lsh_index_path_is_process_independent(spark, tmp_path, monkeypatch):
    from lakehouse_v3_spark.plans.dedup_queries import _lsh_index_manager

    _private_tempdir(tmp_path, monkeypatch)
    fix = _fake_fixture(str(tmp_path / "lshfix"))
    tm1, lock1 = _lsh_index_manager(spark, fix)
    tm2, lock2 = _lsh_index_manager(spark, fix)
    assert tm1.warehouse_dir == tm2.warehouse_dir
    assert str(os.getpid()) not in os.path.basename(tm1.warehouse_dir)
    assert lock1 == lock2


def test_lsh_index_invalidated_by_mtime_ns_and_superseded_dir_cleaned(
    spark, tmp_path, monkeypatch
):
    from lakehouse_v3_spark.plans.dedup_queries import _lsh_index_manager

    _private_tempdir(tmp_path, monkeypatch)
    fix = _fake_fixture(str(tmp_path / "lshfix"))
    doc = os.path.join(fix, "documents.parquet")
    tm1, _ = _lsh_index_manager(spark, fix)
    os.makedirs(tm1.warehouse_dir, exist_ok=True)  # simulate a built index
    # same-second regeneration: bump mtime by ONE NANOSECOND — the
    # old int(st_mtime) fingerprint cannot see this
    st = os.stat(doc)
    os.utime(doc, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    tm2, _ = _lsh_index_manager(spark, fix)
    assert tm2.warehouse_dir != tm1.warehouse_dir, "stale index would be served"
    assert not os.path.exists(tm1.warehouse_dir), "superseded dir not cleaned"


def test_lsh_index_entries_of_a_deleted_fixture_are_swept(
    spark, tmp_path, monkeypatch
):
    """Each lock file records its fixture dir; once that dir is gone,
    the next call (for any fixture) removes its index dirs and lock."""
    from lakehouse_v3_spark.plans.dedup_queries import _lsh_index_manager

    scratch = _private_tempdir(tmp_path, monkeypatch)
    gone = _fake_fixture(str(tmp_path / "gone"))
    kept = _fake_fixture(str(tmp_path / "kept"))
    tm_gone, lock_gone = _lsh_index_manager(spark, gone)
    os.makedirs(tm_gone.warehouse_dir, exist_ok=True)  # a built index
    assert open(lock_gone).read() == gone
    shutil.rmtree(gone)
    tm_kept, lock_kept = _lsh_index_manager(spark, kept)
    assert not os.path.exists(tm_gone.warehouse_dir)
    assert not os.path.exists(lock_gone)
    assert sorted(os.listdir(scratch)) == sorted(
        os.path.basename(p) for p in (lock_kept, tm_kept.warehouse_dir)
    )


def test_lsh_index_old_empty_lock_is_swept_and_fresh_one_kept(
    spark, tmp_path, monkeypatch
):
    """A lock written without a fixture dir is reaped with its index
    dirs once it is over a day old; a fresh empty lock may belong to a
    caller about to write its dir, so it stays."""
    from lakehouse_v3_spark.plans.dedup_queries import _lsh_index_manager

    scratch = _private_tempdir(tmp_path, monkeypatch)
    old_lock = scratch / "lsh_index_0000aaaa.lock"
    old_lock.write_text("")
    old_dir = scratch / "lsh_index_0000aaaa_11112222"
    old_dir.mkdir()
    two_days_ago = time.time() - 2 * 24 * 3600
    os.utime(old_lock, (two_days_ago, two_days_ago))
    fresh_lock = scratch / "lsh_index_0000bbbb.lock"
    fresh_lock.write_text("")

    tm, lock = _lsh_index_manager(spark, _fake_fixture(str(tmp_path / "fx")))
    assert not old_lock.exists() and not old_dir.exists()
    assert fresh_lock.exists()
    assert set(os.listdir(scratch)) - {os.path.basename(tm.warehouse_dir)} == {
        fresh_lock.name, os.path.basename(lock)
    }


# -- 5. ngram_jaccard_pairs block contract ------------------------------


def test_ngram_jaccard_rejects_id_straddling_blocks(spark):
    from lakehouse_v3_spark.operators.dedup import ngram_jaccard_pairs

    sets = spark.createDataFrame(
        [(1, "en", "a b"), (1, "fr", "b c"), (2, "en", "a b")],
        "id long, lang string, shingle string",
    )
    with pytest.raises(ValueError, match="more than one"):
        ngram_jaccard_pairs(
            sets, "id", block_cols=["lang"], allow_quadratic=True
        ).collect()


def test_ngram_jaccard_accepts_single_block_ids(spark):
    from lakehouse_v3_spark.operators.dedup import ngram_jaccard_pairs

    sets = spark.createDataFrame(
        [(1, "en", "a b"), (1, "en", "b c"), (2, "en", "a b")],
        "id long, lang string, shingle string",
    )
    rows = ngram_jaccard_pairs(
        sets, "id", block_cols=["lang"], allow_quadratic=True
    ).collect()
    assert len(rows) == 1
    assert abs(rows[0]["jaccard"] - 0.5) < 1e-12
