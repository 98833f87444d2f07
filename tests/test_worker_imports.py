"""The per-task import-cache reset of PySpark's Python worker keeps its
zip indexes (``sketchlib/__init__.py``)."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport
from importlib.machinery import FileFinder, PathFinder

import pandas as pd

import sketchlib


def test_worker_cache_reset_keeps_zip_indexes(tmp_path, monkeypatch):
    """After the install, ``pyspark.worker_util``'s per-task
    ``importlib.invalidate_caches()`` re-reads no zip index and keeps
    the zip importers cached, and still resets a FileFinder."""
    from pyspark import worker_util

    monkeypatch.setattr(worker_util, "importlib", importlib)
    archive = tmp_path / "zipped.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_pkg/__init__.py", "")
        zf.writestr("zipped_pkg/mod.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zipped_pkg.mod").VALUE == 1
    plain = tmp_path / "plain"
    plain.mkdir()
    assert PathFinder.find_spec("no_such_module", [str(plain)]) is None
    finder = sys.path_importer_cache[str(plain)]
    assert isinstance(finder, FileFinder) and finder._path_mtime != -1
    zips = {path: f for path, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)}
    assert str(archive) in zips and len(zips) >= 2  # archive + package
    reread = []
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        lambda self: reread.append(self.archive))
    try:
        sketchlib._install_worker_import_shim()
        assert worker_util.importlib is not importlib
        worker_util.importlib.invalidate_caches()
        assert reread == []
        for path, f in zips.items():
            assert sys.path_importer_cache.get(path) is f, path
        assert finder._path_mtime == -1
    finally:
        for name in ("zipped_pkg", "zipped_pkg.mod"):
            sys.modules.pop(name, None)
        for path in zips:
            if path.startswith(str(archive)):
                sys.path_importer_cache.pop(path, None)
        sys.path_importer_cache.pop(str(plain), None)


def test_file_added_to_warm_workers_imports(spark, tmp_path):
    """On workers that already ran a sketchlib task, a zip shipped with
    ``addPyFile`` afterwards still imports, and the shim is in place."""
    n = spark.sparkContext.defaultParallelism

    def warm(batches):
        import sketchlib  # noqa: F401  (installs the shim)
        yield from batches

    spark.range(4 * n, numPartitions=n).mapInPandas(warm, "id long") \
         .collect()
    module = f"late_module_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import sys
        warm = "sketchlib" in sys.modules
        value = importlib.import_module(module).VALUE
        shim = sys.modules["pyspark.worker_util"].importlib is not importlib
        for b in batches:
            yield pd.DataFrame({"warm": warm, "value": value, "shim": shim},
                               index=b.index)

    out = (spark.range(4 * n, numPartitions=n)
           .mapInPandas(probe, "warm boolean, value long, shim boolean")
           .toPandas())
    assert len(out) == 4 * n
    assert out["warm"].any()  # some task ran on a warmed worker
    assert (out["value"] == 42).all()
    assert out[out["warm"]]["shim"].all()
