"""Lazy ``zipimport`` cache invalidation on CPython < 3.12 (gh-103200).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 each ``zipimport.zipimporter`` then re-reads its
archive's whole central directory, in pure Python. A PySpark worker holds
16 of them, over pyspark.zip, py4j and the spark-core jar, so that one call
costs about 0.3 s per task. CPython 3.12 made the re-read lazy:
``invalidate_caches()`` only drops the cached directory, and the importer
reads it again on its next lookup. This module backports that change.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    """The archive's directory, read again on first use after an invalidation."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zip_invalidation() -> None:
    """Give ``zipimporter`` CPython 3.12's lazy invalidation. Does nothing on
    CPython >= 3.12, or when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or isinstance(cls.__dict__.get("_files"), property):
        return
    # A property on the class wins over the ``_files`` each importer keeps in
    # its instance dict, so importers made before the install switch too.
    # ``__init__`` caches the directory before it assigns ``_files``, so the
    # setter has nothing to keep.
    cls._files = property(_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)  # free the stale directory copies
