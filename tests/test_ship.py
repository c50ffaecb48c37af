"""tsidx/ship.py: shipping the package once per context, and the worker's
stat-checked zipimport invalidation."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import threading
import zipfile
import zipimport

import pytest

from tsidx.ship import ensure_shipped, install_zip_stat_check


def _write_zip(path, module: str, body: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", body)
    os.replace(tmp, path)  # a new inode, as a fresh download would be


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """A module imported from a zip on sys.path, with the zipimporter class
    restored after the test and directory reads of that zip counted."""
    module = f"tsidx_ship_probe_{os.getpid()}"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, module, raising=False)
    assert importlib.import_module(module).VALUE == 1
    reads = []
    read = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield module, archive, sys.path_importer_cache[archive], reads
    sys.modules.pop(module, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter invalidates lazily",
)
def test_unchanged_archive_is_not_reread(zipped_module):
    module, archive, importer, reads = zipped_module
    importer.invalidate_caches()
    assert len(reads) == 1  # eager re-read before the install
    assert install_zip_stat_check()
    importer.invalidate_caches()  # first read under the check records the stat
    assert len(reads) == 2
    del reads[:]
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importer._files is zipimport._zip_directory_cache[archive]


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter invalidates lazily",
)
def test_rewritten_archive_is_reread(zipped_module):
    module, archive, importer, reads = zipped_module
    assert install_zip_stat_check()
    importlib.invalidate_caches()
    _write_zip(archive, module, "VALUE = 22  # a longer file\n")
    importlib.invalidate_caches()
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 22
    assert len(reads) == 2
    os.remove(archive)  # a failed stat falls through to the original
    importer.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_is_idempotent(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.delattr(zipimport.zipimporter, "_get_files", raising=False)
    assert install_zip_stat_check()
    installed = zipimport.zipimporter.invalidate_caches
    assert not install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_noop_where_invalidation_is_lazy(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    assert not install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is original


def test_driver_import_installs_nothing():
    """Outside a PySpark task, importing tsidx leaves zipimport alone and
    does not import pyspark."""
    code = (
        "import sys, zipimport, tsidx; "
        "print('pyspark' in sys.modules, "
        "hasattr(zipimport.zipimporter.invalidate_caches, '_stat_checked'))"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert out == ["False", "False"]


def _from_threads(fn, n=8):
    """Run *fn* on *n* threads at once (more threads than cores, with a
    short switch interval); returns the exceptions they raised."""
    errors = []

    def run():
        try:
            fn()
        except Exception as e:  # reported by the caller's assert
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    return errors


def test_ensure_shipped_from_another_thread(spark):
    ensure_shipped(spark)
    assert _from_threads(lambda: ensure_shipped(spark)) == []
    includes = spark.sparkContext._python_includes
    assert [p for p in includes if os.path.basename(p) == "tsidx.zip"] == ["tsidx.zip"]


def test_zip_built_once_and_shipped_once_per_context(tmp_path, monkeypatch):
    """Concurrent first calls register the zip once per context, and a second
    context gets the same zip file rather than a new build."""
    import types

    import tsidx.ship as ship

    builds = []
    build = ship.package_zip

    def package_zip(dest_dir):
        builds.append(dest_dir)
        return build(str(tmp_path))

    monkeypatch.setattr(ship, "package_zip", package_zip)
    monkeypatch.setattr(ship, "_zip_path", None)

    class Context:
        def __init__(self):
            self.added = []

        def addPyFile(self, path):
            self.added.append(path)

    first, second = Context(), Context()
    for sc in (first, second):
        session = types.SimpleNamespace(sparkContext=sc)
        assert _from_threads(lambda: ship.ensure_shipped(session)) == []
    assert len(builds) == 1
    assert first.added == second.added == [str(tmp_path / "tsidx.zip")]


def test_reused_worker_skips_zip_rereads(spark):
    """Once a worker has imported tsidx, a later task's set-up re-reads no
    zip directory: each task reports, per worker PID, the
    ``zipimport._read_directory`` calls since that worker's previous probe.
    Without the stat check every task re-reads every zipimporter's archive
    (pyspark.zip, the Spark jar and tsidx.zip: 17 reads per task here)."""
    import pandas as pd

    ensure_shipped(spark)

    def probe(batches):
        import zipimport

        import tsidx  # noqa: F401  (installs the check in a task)

        read = zipimport._read_directory
        state = getattr(read, "probe_state", None)
        if state is None:
            state = {"reads": -1, "seq": 0}

            def counted(archive, _read=read):
                state["reads"] += 1
                return _read(archive)

            counted.probe_state = state
            zipimport._read_directory = counted
        reads, seq = state["reads"], state["seq"]
        state["reads"], state["seq"] = 0, seq + 1
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "seq": [seq], "reads": [reads]})

    rows = []
    for _ in range(3):
        df = spark.range(0, 8, numPartitions=8)
        rows += df.mapInPandas(probe, "pid long, seq long, reads long").collect()
    # 24 tasks over at most a handful of reused workers: some worker ran >= 3.
    # Its first probed task installs the counter; the next one may still read
    # each archive once to record its stat; every later one reads nothing.
    later = [r for r in rows if r["seq"] >= 2]
    assert later, rows
    assert [r for r in later if r["reads"] != 0] == [], rows
