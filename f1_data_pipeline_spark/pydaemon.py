"""Spark's Python worker daemon, minus the per-task zip directory re-read.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that archives added or replaced by ``addPyFile`` are seen.
Before Python 3.13 that makes every ``zipimporter`` re-read its whole
archive directory: a worker holds 16 of them on the 1,328-entry
``pyspark.zip``, about 0.19 CPU s per task. Run as
``python -m f1_data_pipeline_spark.pydaemon`` (``session.get_spark`` sets
``spark.python.daemon.module``), this module skips the re-read while an
archive's (mtime, size, inode) is unchanged, then runs ``pyspark.daemon``
unchanged. A replaced archive changes that key and is re-read as before.
Importing the module patches nothing.
"""

import importlib
import os
import runpy
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_if_archive_changed(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_archive_key", None):
        _stock_invalidate_caches(self)
    self._archive_key = key


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_archive_changed
    # key the importers every forked worker inherits
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
