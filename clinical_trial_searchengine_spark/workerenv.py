"""Python-worker environment fix: make repeated ``importlib.invalidate_caches()``
cheap (guide §4 — the JVM<->Python boundary).

Why this exists
---------------
``pyspark.worker_util.setup_spark_files`` runs once per TASK in every
Python worker and unconditionally ends with ``importlib.invalidate_caches()``.
On CPython 3.11, ``zipimport.zipimporter.invalidate_caches()`` re-reads the
archive's entire table of contents on EVERY call (the mtime/size guard only
landed in CPython 3.12, see python/cpython PR for gh-84530 follow-ups), and
Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and (Spark 4.1) the
``spark-core`` JAR on each worker's ``sys.path`` — with one cached
zipimporter per visited subpackage directory (16 instances here).

Measured on this machine (scripts/probe_floor*.py, event-log + in-worker
sampling): ~140 ms of worker CPU per task, burned between tasks, before the
user function runs.  It is the dominant fixed cost of every python-stage
job — a 1-task mapInArrow job over 64 cached rows costs ~150 ms wall of
which the user function is 0.3 ms — and therefore of every per-query
search (8 such tasks), every build stage, and every dedup/ANN operator.

The fix
-------
Wrap ``zipimporter.invalidate_caches`` with the exact guard CPython 3.12
applies natively: skip the TOC re-read while the archive's (mtime_ns, size)
is unchanged; re-read (preserving stock behavior bit-for-bit) as soon as it
changes or the stat fails.  Semantics are unchanged for every supported
case — a zip that is modified mid-run is still picked up — only the
pathological re-read-per-task disappears.

Installation happens once per Python daemon: ``fastdaemon`` (the
``spark.python.daemon.module`` that ``session.get_spark`` sets for local
masters) calls :func:`install_zipimport_guard` before handing over to the
stock daemon, and every worker forks from it already patched.  Importing
the package installs nothing, so an application that embeds the library
keeps its interpreter untouched; a cluster deployment opts in by setting
the same daemon conf.  On CPython >= 3.12 the native guard already exists
and this wrapper is skipped.
"""

from __future__ import annotations

import os
import sys
import zipimport

_INSTALLED_FLAG = "_ctse_zipimport_guard"


def install_zipimport_guard() -> None:
    """Idempotently wrap ``zipimporter.invalidate_caches`` with an
    (mtime_ns, size) guard — CPython 3.12 semantics on 3.11."""
    if sys.version_info >= (3, 12):
        return  # native guard exists
    cls = zipimport.zipimporter
    if getattr(cls, _INSTALLED_FLAG, False):
        return
    orig = cls.invalidate_caches

    def invalidate_caches(self):  # noqa: ANN001 - stdlib signature
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_ctse_zip_key", None) == key:
            return None
        out = orig(self)
        self._ctse_zip_key = key
        return out

    invalidate_caches.__doc__ = orig.__doc__
    cls.invalidate_caches = invalidate_caches
    setattr(cls, _INSTALLED_FLAG, True)
