"""Python-worker hook: re-read a zip archive's directory only when the
archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``) so that files
added with ``addPyFile`` become importable. On CPython 3.11/3.12 every
cached ``zipimport.zipimporter`` answers that call by re-reading its
archive's whole central directory, and a worker holds one importer per
imported package directory of ``pyspark.zip`` (1,328 entries) and of the
Spark jar on its path. On a 4-core host that is ~0.1-0.3 s of fixed cost
per Python task, more than the feature kernel's own time.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an
archive is re-read only when its ``(st_ino, st_mtime_ns, st_size)``
differs from the stamp this process took when it last read that
archive. All importers of one archive share the stamp and the re-read
directory. A rewritten archive is still re-read, and a vanished one
still clears, exactly as the stock method does. (The one change that
goes unseen is an in-place rewrite to the same size within the file
system's timestamp granularity; Spark never rewrites the files it
ships to a worker.)

The package calls :func:`install` on import inside a Spark Python
worker only; the driver process is never patched.
"""

from __future__ import annotations

import logging
import os
import zipimport

from featureengineer_spark._log import log_event

_log = logging.getLogger(__name__)

# zipimport internals the hook relies on (private: may drift between
# CPython versions, so their absence disables the hook, loudly).
_REQUIRED = ("_zip_directory_cache", "_read_directory")


def in_python_worker() -> bool:
    """True inside a Spark Python worker (daemon-forked or not): the JVM
    passes the worker factory's secret in the worker's environment."""
    return "PYTHON_WORKER_FACTORY_SECRET" in os.environ


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Install the stat-checked ``zipimporter.invalidate_caches``.

    Idempotent. Returns whether the hook is active; when ``zipimport``
    lacks an internal the hook relies on, installs nothing and logs one
    structured line."""
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if getattr(stock, "_stat_checked", False):
        return True
    missing = [name for name in _REQUIRED if not hasattr(zipimport, name)]
    if missing:
        log_event(_log, "pyworker_zip_hook_skipped", reason="zipimport internals missing", missing=missing)
        return False

    stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stamp at last read

    def invalidate_caches(self):
        cache = zipimport._zip_directory_cache
        stamp = _stamp(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp:
            files = cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        # Stamp taken before the read: an archive rewritten in between
        # reads as changed next time, never as current.
        stock(self)
        if stamp is not None and self.archive in cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches
    return True
