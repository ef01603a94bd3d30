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
# Python workers over Unix domain sockets
# ---------------------------------------------------------------------------

_UDS = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"

# exits without spark.stop(): the socket dir must go at interpreter exit
_SOCKET_SCRIPT = """
from lakehouse_v3_spark.session import get_spark
spark = get_spark(master="local[1]", driver_memory="1g")
conf = spark.sparkContext.getConf()
rows = spark.range(3).mapInPandas(lambda it: it, "id long").collect()
assert sorted(r.id for r in rows) == [0, 1, 2], rows
print(repr((conf.get({uds!r}), conf.get({uds_dir!r}))))
""".format(uds=_UDS, uds_dir=_UDS_DIR)


def _sockets_under(root) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".sock")
    ]


def test_socket_dir_removed_at_exit_without_stop(tmp_path_factory):
    # a short temp dir, so the private socket dir fits under it; the
    # JVM's own temp dir (Spark's default socket dir) is there too
    tmp = tmp_path_factory.mktemp("uds")
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=REPO_DIR,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    out = subprocess.run(
        [sys.executable, "-c", _SOCKET_SCRIPT],
        env=env,
        cwd=str(tmp),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    enabled, sock_dir = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert enabled == "true"
    assert os.path.basename(sock_dir).startswith("spark-uds-")
    assert not os.path.exists(sock_dir)
    assert not list(tmp.glob("spark-uds-*"))
    assert not _sockets_under(tmp)


def test_private_socket_dir_fits_sun_path(tmp_path_factory, monkeypatch):
    """The socket dir goes under the first base where its path fits
    Spark's 61-character limit (which also keeps every socket path
    within sun_path's 107 bytes); a base too deep falls back to /tmp."""
    import tempfile
    import uuid

    from lakehouse_v3_spark.session import SOCKET_DIR_MAX, private_socket_dir

    def sock_path(d: str) -> str:
        return os.path.join(d, f".{uuid.uuid4()}.sock")

    # dir = base + "/spark-uds-" + 8 random chars
    fits = SOCKET_DIR_MAX - len("/spark-uds-") - 8
    root = str(tmp_path_factory.mktemp("s"))
    if len(root) + 1 >= fits:
        pytest.skip(f"pytest's temp dir {root} is deeper than the limit")

    def base_of_length(n: int) -> str:
        # "<root>/<x...>" exactly n characters long
        d = os.path.join(root, "x" * (n - len(root) - 1))
        os.makedirs(d, exist_ok=True)
        assert len(d) == n
        return d

    chosen = private_socket_dir((base_of_length(fits),))
    assert chosen is not None
    assert len(chosen) == SOCKET_DIR_MAX
    assert len(os.fsencode(sock_path(chosen))) <= 107
    os.rmdir(chosen)
    too_deep = base_of_length(fits + 1)
    assert private_socket_dir((too_deep,)) is None
    assert os.listdir(too_deep) == []  # the trial dir is not left behind

    monkeypatch.setattr(tempfile, "tempdir", too_deep)
    chosen = private_socket_dir()
    try:
        assert os.path.dirname(chosen) == "/tmp"
        assert len(chosen) <= SOCKET_DIR_MAX
    finally:
        os.rmdir(chosen)


_TCP_SCRIPT = """
from pyspark.sql import functions as F
from lakehouse_v3_spark.session import get_spark
spark = get_spark(master="local[1]", driver_memory="1g",
                  extra_conf={{{uds!r}: "false"}})
plus1 = F.udf(lambda x: x + 1, "long")
rows = spark.range(3).select(plus1("id").alias("y")).collect()
print(repr((spark.sparkContext.getConf().get({uds!r}),
            sorted(r.y for r in rows))))
spark.stop()
""".format(uds=_UDS)


def test_extra_conf_turns_unix_sockets_off(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO_DIR)
    out = subprocess.run(
        [sys.executable, "-c", _TCP_SCRIPT],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    enabled, ys = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert (enabled, ys) == ("false", [1, 2, 3])
    assert not _sockets_under(tmp_path)


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
