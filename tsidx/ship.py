"""What tsidx ships to, and sets up on, the executors.

On a real cluster the jobs run as ``spark-submit --py-files tsidx.zip ...``
(see jobs/). For programmatic use (driver scripts, notebooks) this helper
makes the library self-shipping: it zips the installed package once per
process and registers it with ``SparkContext.addPyFile`` once per context,
so Arrow-UDF task closures can ``import tsidx`` on every executor regardless
of the driver's working directory.

Worker side, ``worker_init`` runs when a Python worker first imports tsidx
(every tsidx UDF does: cloudpickle pickles tsidx functions by reference).
PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
and before Python 3.13 each ``zipimporter`` on ``sys.path`` answers by
re-parsing its whole archive's central directory; a reused worker holds a
dozen of them over ``pyspark.zip`` and the Spark jar, about 0.2-0.3 s per
task before the UDF body runs. ``install_zip_stat_check`` makes that re-read
conditional on the archive file having changed.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import weakref
import zipfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

__all__ = ["ensure_shipped", "install_zip_stat_check", "package_zip", "worker_init"]

_ship_lock = threading.Lock()
_shipped_contexts = weakref.WeakSet()
_zip_path: str | None = None


def package_zip(dest_dir: str) -> str:
    """Write tsidx as an importable zip into *dest_dir*; returns the path.

    Deterministic content: files are added in sorted order with fixed
    timestamps, so repeated builds produce byte-identical artifacts.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(dest_dir, "tsidx.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(os.listdir(pkg_dir)):
            if not name.endswith(".py"):
                continue
            info = zipfile.ZipInfo(f"tsidx/{name}", date_time=(1980, 1, 1, 0, 0, 0))
            with open(os.path.join(pkg_dir, name), "rb") as f:
                zf.writestr(info, f.read())
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently register the tsidx package with the session's context.

    The flag is per SparkContext and process-wide, so calls from any thread
    register the zip once; the zip itself is built once per process.
    """
    global _zip_path
    sc = spark.sparkContext
    with _ship_lock:
        if sc in _shipped_contexts:
            return
        if _zip_path is None or not os.path.exists(_zip_path):
            _zip_path = package_zip(tempfile.mkdtemp(prefix="tsidx_ship_"))
        sc.addPyFile(_zip_path)
        _shipped_contexts.add(sc)


def install_zip_stat_check() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    An archive whose (mtime_ns, size, inode) equals the one stat-ed just
    before its directory was last read keeps ``_zip_directory_cache[archive]``;
    any change, a failed stat, or a cache entry replaced behind our back
    falls through to the original re-read. New ``addPyFile`` zips still
    arrive as new ``sys.path`` entries and ``FileFinder`` invalidation is
    untouched. A no-op on interpreters whose zipimporter already
    invalidates lazily (3.13+) and on a second call. Returns True when this
    call installed it.
    """
    import zipimport

    importer = zipimport.zipimporter
    if hasattr(importer, "_get_files") or getattr(
        importer.invalidate_caches, "_stat_checked", False
    ):
        return False
    reread = importer.invalidate_caches
    seen: dict = {}  # archive -> (stat key before the read, directory read)

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            key = st.st_mtime_ns, st.st_size, st.st_ino
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(archive)
        last_key, last_files = seen.get(archive, (None, None))
        if key is not None and key == last_key and files is last_files:
            self._files = files
            return
        reread(self)
        files = zipimport._zip_directory_cache.get(archive)
        if key is None or files is None:
            seen.pop(archive, None)
        else:
            seen[archive] = (key, files)

    invalidate_caches._stat_checked = True
    importer.invalidate_caches = invalidate_caches
    return True


def worker_init() -> None:
    """Per-process set-up of a Python worker; run when tsidx is imported.

    Acts only inside a PySpark task, and imports no pyspark: a process that
    never loaded ``pyspark.taskcontext`` is not a worker.
    """
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install_zip_stat_check()
