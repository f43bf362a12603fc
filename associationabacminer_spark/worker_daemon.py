"""Python-worker daemon: ``pyspark.daemon`` with a stat-guarded zip cache.

Before every Python UDF task, the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 that makes
every cached ``zipimport.zipimporter`` re-read the whole central directory
of its archive: about 16 importers per worker (sub-packages of
``pyspark.zip`` at 6-9 ms each, the ``spark-core`` jar at 27-31 ms), so a
reused worker spends 130-300 ms per task before the UDF runs (4-core
host).  CPython 3.13 made that re-read lazy.

``install_zip_guard`` makes an importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from its last read: a changed
zip is still reloaded, an unchanged one costs one ``os.stat``.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it), this
module installs the guard, primes every importer and pre-imports the
kernels' dependencies, then runs ``pyspark.daemon.manager()``; the workers
it forks inherit all three.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_guard() -> None:
    """Skip ``zipimporter.invalidate_caches`` for archives unchanged on disk
    since the importer last read them.  Idempotent; a no-op on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self):
        # stat before reading: a write racing the read leaves a stale
        # signature, which costs one extra read later, never a missed one
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: let the original drop the cached directory
            sig = None
        else:
            sig = (st.st_mtime_ns, st.st_size)
            if getattr(self, "_read_signature", None) == sig:
                return
        reread(self)
        self._read_signature = sig

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _serve() -> None:
    install_zip_guard()
    for name in ("numpy", "pandas", "pyarrow", "associationabacminer_spark.sketch"):
        try:
            importlib.import_module(name)
        except ImportError:  # a worker that needs it fails as it would without the daemon
            pass
    from pyspark import daemon

    # one read per importer here, in the daemon, instead of in every worker
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    _serve()
