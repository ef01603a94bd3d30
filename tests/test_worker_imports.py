"""The stat-guarded zip-importer invalidation (worker_imports.py).

In-process tests pin the guard's semantics against the stdlib method;
the Spark test pins that a real Python worker stops re-reading its
archives on every task once it has imported the package.
"""

from __future__ import annotations

import importlib
import os
import sys
import threading
import uuid
import zipfile
import zipimport

import pytest

import lakehouse_v3_spark  # noqa: F401  installs the guard
from lakehouse_v3_spark import worker_imports

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zip importers lazily; no guard installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path):
    """A fresh archive on sys.path; yields (archive, unique module prefix)."""
    archive = str(tmp_path / "mods.zip")
    prefix = "zg_" + uuid.uuid4().hex[:8]
    sys.path.insert(0, archive)
    try:
        yield archive, prefix
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in [m for m in sys.modules if m.startswith(prefix)]:
            del sys.modules[name]


def _count_reads(monkeypatch):
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_zip_rewritten_in_place_is_reread(zip_on_path):
    archive, prefix = zip_on_path
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    assert importlib.import_module(f"{prefix}_a").X == 1
    importlib.invalidate_caches()  # stamps the archive
    inode = os.stat(archive).st_ino
    _write_zip(
        archive,
        {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 'new module'\n" * 20},
    )
    assert os.stat(archive).st_ino == inode  # same file, new size
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_b").Y == "new module"


def test_unchanged_zip_is_not_reparsed(zip_on_path, monkeypatch):
    archive, prefix = zip_on_path
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    importlib.import_module(f"{prefix}_a")
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # first call reads and stamps
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    assert (
        sys.path_importer_cache[archive]._files
        is zipimport._zip_directory_cache[archive]
    )


def test_deleted_zip_behaves_like_stdlib(zip_on_path):
    archive, prefix = zip_on_path
    _write_zip(archive, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 2\n"})
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # no exception
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{prefix}_b")


def test_racing_reads_of_a_replaced_zip_keep_the_newer_directory(
    zip_on_path, monkeypatch
):
    """Thread A reads the old directory, the archive is replaced, thread B
    reads the new one. Without serialisation B can cache first and stamp
    last, pairing the new stamp with A's old directory for good."""
    archive, prefix = zip_on_path
    _write_zip(archive, {f"{prefix}_a": ""})
    importlib.import_module(f"{prefix}_a")
    importer = sys.path_importer_cache[archive]
    reached = {"A": threading.Event(), "B": threading.Event()}
    go = {"A": threading.Event(), "B": threading.Event()}

    class GatedCache(dict):
        def __setitem__(self, key, value):
            name = threading.current_thread().name
            if name == "A":  # pause between reading and caching
                reached[name].set()
                go[name].wait(10)
            super().__setitem__(key, value)
            if name == "B":  # pause between caching and stamping
                reached[name].set()
                go[name].wait(10)

    monkeypatch.setattr(
        zipimport, "_zip_directory_cache", GatedCache(zipimport._zip_directory_cache)
    )
    a = threading.Thread(target=importer.invalidate_caches, name="A")
    a.start()
    assert reached["A"].wait(10)
    _write_zip(archive + ".tmp", {f"{prefix}_a": "", f"{prefix}_b": ""})
    os.replace(archive + ".tmp", archive)
    b = threading.Thread(target=importer.invalidate_caches, name="B")
    b.start()
    reached["B"].wait(0.5)  # only reached when B is not held back
    go["A"].set()
    a.join(10)
    go["B"].set()
    b.join(10)
    assert not a.is_alive() and not b.is_alive()
    importer.invalidate_caches()
    assert f"{prefix}_b.py" in importer._files


def test_install_twice_wraps_once():
    worker_imports.install()
    worker_imports.install()
    guard = zipimport.zipimporter.invalidate_caches
    stdlib = guard.__wrapped__
    assert not hasattr(stdlib, "__wrapped__")
    assert stdlib.__module__ == "zipimport"


def test_python_worker_stops_reparsing_archives(spark):
    """A reused worker that imported the package re-reads no archive.

    Idle workers are handed out first-in first-out, so the probe job runs
    until some worker serves it a second time; that run must find zip
    importers on the worker's path and re-read none of them.
    """

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import lakehouse_v3_spark  # noqa: F401

        for _ in batches:
            pass
        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"pid": [os.getpid()], "zips": [zips], "reparsed": [len(calls)]}
        )

    df = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pid long, zips long, reparsed long"
    )
    seen = set()
    for _ in range(24):
        row = df.collect()[0]
        if row.pid in seen:
            break
        seen.add(row.pid)
    else:
        pytest.fail(f"no worker served the probe twice: pids {sorted(seen)}")
    assert row.zips >= 1
    assert row.reparsed == 0, row
