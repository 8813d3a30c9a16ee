"""Zip importers that re-read an archive's directory only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 each
cached ``zipimport.zipimporter`` then re-reads its whole archive
directory at once, and a worker holds one per package it imported from
``pyspark.zip`` and py4j. That is most of a task's fixed cost: an
identity ``mapInPandas`` over 32 partitions took 4.7-5.2 s of worker CPU
with the re-reads and 0.9-1.1 s without (4-core host, ``local[4]``).
CPython 3.13 instead drops the cached directory and reads it when next
needed (``zipimporter._get_files``).

``install`` runs when the package is imported inside a PySpark worker on
an interpreter whose zip importers re-read eagerly. It makes every cached
zip importer, and the ``sys.path_hooks`` entry that creates new ones, a
``StatZipImporter``. The driver's import machinery is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class StatZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` re-reads the archive
    directory only when the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from the stamp taken when it last got its directory. A
    rewritten archive, such as a re-shipped ``--py-files`` zip, is still
    re-read; a missing one is re-tried on every call."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stat_key(self.archive)

    def invalidate_caches(self):
        stamp = _stat_key(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> bool:
    """Make the zip importers of this process ``StatZipImporter`` if it
    is a PySpark worker whose interpreter re-reads zip directories
    eagerly; return whether it did."""
    if ("pyspark.worker" not in sys.modules
            or hasattr(zipimport.zipimporter, "_get_files")):
        return False
    sys.path_hooks[:] = [StatZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            # its directory is what the task start's re-read just left
            finder.__class__ = StatZipImporter
            finder._stamp = _stat_key(finder.archive)
    return True
