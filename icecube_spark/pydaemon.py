"""PySpark daemon that keeps zip importers' directories across tasks.

``get_spark`` names this module as ``spark.python.daemon.module``, so
Spark starts the Python daemon with ``python -m icecube_spark.pydaemon``
and every Python worker is forked from it.

Before each task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. That calls ``invalidate_caches`` on
every zip importer in ``sys.path_importer_cache``, and a zip importer
answers by reading its archive's whole central directory again. A
worker holds about 16 of them, over ``pyspark.zip`` and its
subpackages, the py4j zip and the Spark core jar (5359 entries), so
every task paid 130-210 ms (4 cores, Python 3.11) before its function
started, for archives that do not change during a session.

Here a zip importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken when that
importer last read it. A changed or new archive (``addPyFile``) is
still read afresh. As with Python's own source and directory caches, a
rewrite that keeps both the size and the modification time is not
seen. The importers that exist before the first fork are stamped
first, so a new worker's first task skips the re-read too.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_icecube_stamp", None):
        _read_directory(self)
        self._icecube_stamp = stamp


def _stamp_importers() -> None:
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._icecube_stamp = _stamp(importer.archive)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _stamp_importers()
    daemon.manager()
