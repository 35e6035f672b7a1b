"""PySpark worker daemon for the engine (``spark.python.daemon.module``).

Spark forks every Python worker from one daemon per executor, and before
each task a worker runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that makes
every ``zipimporter`` on the worker's path read its archive's directory
again: ``pyspark.zip`` and its subpackages, py4j and the spark-core jar,
16 importers that cost 0.12-0.25 CPU-s per task, more than the decode
work of a small EDF slice.

This daemon keys each importer's directory on its archive's
``os.stat`` (inode, size, mtime in ns), re-reads the archive only when
that key has changed, calls ``importlib.invalidate_caches()`` once so the
forked workers inherit every recorded key, then runs PySpark's own
``pyspark.daemon.manager()``.  An archive replaced during a session (a
``--py-files`` zip shipped again) changes its key and is re-read by every
importer of it; directory finders keep CPython's behaviour.

Running it as ``python -m processor_edf_spark._daemon`` imports the
package first, so numpy, pandas, pyarrow and the EDF decoder are loaded
once per executor, before the fork, rather than in each worker.  The
package must therefore be importable by the executors' Python when the
daemon starts (installed, or on ``PYTHONPATH``), not only shipped per task
with ``addPyFile``; its UDFs are pickled by reference and need that too.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_UNREAD = object()  # the key of an importer this daemon has not read yet


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    """Re-read this importer's archive only if its stat key has changed.
    The key is taken before the read, so an archive rewritten during the
    read is read again on the next call."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key != getattr(self, "_stat_key", _UNREAD):
        _reread(self)
        self._stat_key = key


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the copy imported under the package's name, so the installed
    # method belongs to processor_edf_spark._daemon rather than __main__.
    from processor_edf_spark._daemon import main

    main()
