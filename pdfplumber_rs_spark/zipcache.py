"""Zip import directories re-read only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 that makes every ``zipimport.zipimporter`` on the path re-read its
archive's whole central directory in pure Python. A worker holds about 16
of them (``pyspark.zip`` subpackages, py4j, the spark-core jar; a
``--py-files`` archive adds its own), and the re-read costs 0.2-0.45 s of
CPU per task, taken from the kernel running on the same cores.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from what that importer last read. The key lives on the importer, so
every importer of a changed archive still reloads; an importer without a
key (built or last read before ``install()``) re-reads once. CPython 3.13
only drops the cached directory there, so nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

_KEY = "_pdfplumber_rs_spark_stat"
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The stat is taken before the read, so a change racing the read shows
    as a changed key at the next call."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, _KEY, None):
        _stock_invalidate(self)
        setattr(self, _KEY, key)


def install() -> None:
    """Idempotent; installs nothing on CPython 3.13 and later."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
