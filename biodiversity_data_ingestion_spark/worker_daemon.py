"""Python-worker daemon: ``pyspark.daemon`` with stamp-keyed zip caches.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so the JVM starts it (``python -m <module> pyspark.worker``) in place of
``pyspark.daemon``. The worker code and the fork/accept loop stay
pyspark's own; this module changes one thing before the loop starts.

Every task a Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's whole central directory; a worker holds one importer per
imported package directory of ``pyspark.zip`` (3.5 MB), so a trivial
task paid about 0.3 CPU-s before any kernel code ran. Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from the stamp of its last read, or when ``stat`` fails; then it runs
the original method, so a rewritten archive is still picked up.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if it changed since this importer last
    read it (an importer that never read it through here re-reads)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _original_invalidate(self)
    self._read_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # stamp every importer once, before the fork: each forked worker
    # inherits them and skips the re-read in its first task too
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run through the package module, so the patched method reports
    # this module's import name rather than __main__
    from biodiversity_data_ingestion_spark.worker_daemon import main as _main

    _main()
