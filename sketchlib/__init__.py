"""PySpark sketch library.

Importing the package inside a PySpark Python worker (every worker that
unpickles a sketchlib kernel, fold, probe or UDF does) installs one
worker-side fix, below.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:144``, ``setup_spark_files``). On Python 3.11
and 3.12.1 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive index
(``zipimport.py:329``, ``invalidate_caches``; 3.13 drops it for a lazy
re-read, and the shim below is correct on both). Workers import pyspark from
``pyspark.zip``, so each task re-read its 1,328-entry index 12 times
(once per cached package path, ~11 ms each), the spark-core jar on the
Python path twice (~46 ms each) and the py4j and shipped sketchlib zips:
0.16-0.23 s per task on a 4-vCPU host before the task read a row, on a
warm, reused worker too.

The fix swaps ``pyspark.worker_util``'s ``importlib`` for a shim whose
``invalidate_caches`` sets the zip importers aside around the real call.
Everything else the call does still happens (FileFinder mtimes reset,
``None`` and relative entries dropped, namespace epoch bumped), and a
file or zip added later with ``addPyFile`` is a new path, so it gets a
new importer and imports. Spark never rewrites an archive in place
while a worker lives, so a cached zip index never goes stale. A fresh
worker's first task still pays the cost once; the tasks after it on the
same worker do not. The driver never imports ``pyspark.worker_util``,
and when PySpark's internals differ the install does nothing.
"""

import importlib
import sys
import zipimport


def _invalidate_caches_keeping_zip_indexes() -> None:
    """``importlib.invalidate_caches()`` without re-reading zip indexes."""
    zips = {path: finder
            for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)}
    for path in zips:
        del sys.path_importer_cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        sys.path_importer_cache.update(zips)


class _WorkerImportlib:
    """``importlib`` as ``pyspark.worker_util`` sees it once patched."""

    invalidate_caches = staticmethod(_invalidate_caches_keeping_zip_indexes)

    def __getattr__(self, name):
        return getattr(importlib, name)


def _install_worker_import_shim() -> None:
    worker_util = sys.modules.get("pyspark.worker_util")
    if worker_util is not None and \
            getattr(worker_util, "importlib", None) is importlib:
        worker_util.importlib = _WorkerImportlib()


_install_worker_import_shim()
