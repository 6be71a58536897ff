"""The engine's Python worker daemon: pyspark's own daemon, plus CPython
3.13's lazy ``zipimporter`` cache on older interpreters.

``get_spark`` names this module in ``spark.python.daemon.module``; Spark
starts it once per executor as ``python -m datalake_brief_spark.worker_daemon``
and every Python worker (curation UDFs, ``mapInPandas``, pandas UDFs) is
forked from it, so the patch below is in place in every task while the
driver process is never touched.

Why: every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
central directory, and a warm worker holds one zipimporter per package
directory it imported from ``pyspark.zip`` (16 importers over 1,328
entries), so each task re-read the archive 16 times: 0.19-0.24 s of CPU
per task with 4 tasks in parallel, two thirds of a ``multimodal_png`` task.
3.13 makes invalidation drop the shared cache entry and re-reads the
archive once, on the next lookup; this module backports exactly that
(``Lib/zipimport.py``, ``zipimporter._get_files`` and
``invalidate_caches``). On 3.13+ it patches nothing. The daemon loop itself
is ``pyspark.daemon.manager``, called as is.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """Return the files within the archive path."""
    try:
        files = zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = (
                zipimport._read_directory(self.archive)
            )
        except zipimport.ZipImportError:
            files = {}

    return files


def _invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


if sys.version_info < (3, 13):
    # A data descriptor on the class also shadows the ``_files`` that
    # importers created before this import keep in their own __dict__.
    # ``__init__`` assigns ``self._files`` the dict it has just stored in the
    # shared cache, before it sets ``self.archive``: the setter drops it.
    zipimport.zipimporter._files = property(_get_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
