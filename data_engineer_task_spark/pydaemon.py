"""Spark's Python-worker daemon, with lazy zip-archive invalidation.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts it as ``python -m data_engineer_task_spark.pydaemon
pyspark.worker`` instead of ``pyspark.daemon``. It installs one patch
and then runs ``pyspark.daemon.manager()``; every worker forks from
this process and inherits the patch.

Why: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Up to
CPython 3.12 that makes each ``zipimporter`` re-read the whole central
directory of its archive, and pyspark is imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB) with one importer per
imported subpackage. On a streaming entry this was 72 % of all
Python-worker CPU. CPython 3.13 made ``invalidate_caches`` lazy; on
3.13 and later this module changes nothing.

The patched ``invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp differs from the one this importer saw
when it last read it, so an archive rewritten in place is still picked
up.

``spark.python.worker.module`` cannot do this: ``pyspark/daemon.py``
ignores worker modules whose names do not start with ``pyspark``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read_all = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since this
    importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _read_all(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13 only) and
    stamp the importers this process already holds, so forked workers
    start with every archive read once."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # import first: the worker's own imports then hold importers that
    # install() stamps here, once, instead of once per forked worker
    from pyspark.daemon import manager

    install()
    manager()
