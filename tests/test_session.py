"""Session factory: what a process leaves behind, and the one window
through which a query changes a session conf for a while."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import os
from lakehouse_v3_spark.session import get_spark
spark = get_spark(master="local[1]", driver_memory="1g")
print([p for p in os.environ["PYTHONPATH"].split(os.pathsep)
       if "lakehouse-pyfiles-" in p])
spark.stop()
"""


def test_shipped_package_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO_DIR)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    shipped = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert shipped and all(p.startswith(str(tmp_path)) for p in shipped)
    assert not list(tmp_path.glob("lakehouse-pyfiles-*"))


# ---------------------------------------------------------------------------
# conf_window: the one temporary session-conf change
# ---------------------------------------------------------------------------

_SHUFFLE = "spark.sql.shuffle.partitions"


def test_conf_window_restores_session_conf(spark):
    from lakehouse_v3_spark.session import conf_window

    before = spark.conf.get(_SHUFFLE)
    with conf_window(spark, {_SHUFFLE: "1"}):
        assert spark.conf.get(_SHUFFLE) == "1"
    assert spark.conf.get(_SHUFFLE) == before
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with conf_window(spark, {_SHUFFLE: "1"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_SHUFFLE) == before


def test_conf_window_releases_lock_when_conf_set_raises(
    spark, failing_conf_session
):
    """A conf.set that throws on entering the window must not leave the
    window lock held (every later window would then fail as
    'concurrent') nor change the session conf."""
    from lakehouse_v3_spark import session
    from lakehouse_v3_spark.session import conf_window

    lock = session._CONF_WINDOW_LOCK
    before = spark.conf.get(_SHUFFLE)
    with pytest.raises(RuntimeError, match="injected"):
        with conf_window(failing_conf_session(1), {_SHUFFLE: "1"}):
            pass  # pragma: no cover
    free = lock.acquire(blocking=False)
    lock.release()  # ours, or the leaked hold: later tests need it free
    assert free, "window lock still held after entering the window raised"
    assert spark.conf.get(_SHUFFLE) == before
    # and the next window opens normally
    with conf_window(spark, {_SHUFFLE: "1"}):
        assert spark.conf.get(_SHUFFLE) == "1"
    assert spark.conf.get(_SHUFFLE) == before


def test_conf_window_rejects_concurrent_windows(spark):
    from lakehouse_v3_spark.session import conf_window

    before = spark.conf.get(_SHUFFLE)
    with conf_window(spark, {_SHUFFLE: "1"}):
        with pytest.raises(RuntimeError, match="concurrent session-conf"):
            with conf_window(spark, {_SHUFFLE: "2"}):
                pass  # pragma: no cover
        # inner failure must not have clobbered the outer window
        assert spark.conf.get(_SHUFFLE) == "1"
    assert spark.conf.get(_SHUFFLE) == before


def test_bloom_conf_window_restores_when_conf_set_raises(
    spark, sf_dir, failing_conf_session
):
    """A conf.set that throws part-way through the bloom join's conf
    window must restore the keys already set and free the window lock:
    the session conf is unchanged afterwards."""
    from lakehouse_v3_spark import session
    from lakehouse_v3_spark.plans import load_all

    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    # the first set lands, the second raises
    with pytest.raises(RuntimeError, match="injected"):
        load_all()["bloom_runtime_filter_join"].fn(
            failing_conf_session(2), sf_dir
        )
    assert session._CONF_WINDOW_LOCK.acquire(blocking=False), (
        "conf-window lock held"
    )
    session._CONF_WINDOW_LOCK.release()
    assert {k: spark.conf.get(k, None) for k in keys} == before
