"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.13.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
CPython 3.13 every ``zipimporter`` answers by re-reading its archive's whole
central directory in pure Python: a worker imports pyspark from
``pyspark.zip`` (1,328 entries) through 14-16 importers, which costs
about 0.1 s of CPU per task. CPython 3.13 only drops the cache there.

The gated form re-reads, through the stock method, only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one recorded at the
importer's last re-read, or when ``os.stat`` fails; otherwise it does
nothing. The archive is stat'ed before it is read, so a zip that changes on
disk is always loaded as the stock method would load it.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _archive_signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _gate(stock):
    @functools.wraps(stock)
    def invalidate_caches(self):
        sig = _archive_signature(self.archive)
        if sig is None or sig != getattr(self, "_gate_signature", None):
            stock(self)
            self._gate_signature = sig

    invalidate_caches.stat_gated = True
    return invalidate_caches


def is_gated() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` once per process (< 3.13 only)."""
    if sys.version_info < (3, 13) and not is_gated():
        zipimport.zipimporter.invalidate_caches = _gate(zipimport.zipimporter.invalidate_caches)
