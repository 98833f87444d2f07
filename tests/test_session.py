"""``sketchlib.session`` helpers that need no JVM: the shipped package
zip and the driver heap size."""

from __future__ import annotations

import os
import tempfile
import zipfile

from sketchlib import session


class _Context:
    def __init__(self):
        self.shipped = []

    def addPyFile(self, path):
        self.shipped.append(path)


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_stale_zip_at_the_pid_path_is_not_shipped(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_pyfiles", None)
    stale = tmp_path / f"sketchlib-pyfiles-{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("sketchlib/session.py", "raise ImportError('old code')")
    spark = _Session()
    session._ship_package(spark)
    session._ship_package(spark)  # one zip per process
    (path,) = set(spark.sparkContext.shipped)
    assert path != str(stale)
    with zipfile.ZipFile(path) as zf, open(session.__file__, "rb") as fh:
        assert zf.read("sketchlib/session.py") == fh.read()
    session._remove_pyfiles(path)  # what runs at exit
    assert not os.path.exists(path)


def _meminfo(tmp_path, avail_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal: {2 * avail_kb} kB\n"
                    f"MemAvailable: {avail_kb} kB\n")
    return str(path)


def test_driver_heap_is_capped_by_the_cgroup_limit(monkeypatch, tmp_path):
    monkeypatch.delenv("SKETCHLIB_DRIVER_MEM", raising=False)
    meminfo = _meminfo(tmp_path, 10 << 20)  # 10 GiB available
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    assert session._driver_mem(meminfo, ()) == "4096m"
    v2.write_text("max\n")  # unlimited
    v1.write_text("9223372036854771712\n")  # v1's "unlimited"
    assert session._driver_mem(meminfo, (str(v2), str(v1))) == "4096m"
    v2.write_text(f"{2 << 30}\n")  # a 2 GiB container
    assert session._driver_mem(meminfo, (str(v2), str(v1))) == "819m"
    v1.write_text(f"{1 << 30}\n")
    assert session._driver_mem(meminfo, (str(v2), str(v1))) == "409m"
    assert session._driver_mem(meminfo,
                               (str(tmp_path / "absent"),)) == "4096m"


def test_driver_heap_override_and_ceiling(monkeypatch, tmp_path):
    meminfo = _meminfo(tmp_path, 100 << 20)
    monkeypatch.delenv("SKETCHLIB_DRIVER_MEM", raising=False)
    assert session._driver_mem(meminfo, ()) == f"{16 << 10}m"
    monkeypatch.setenv("SKETCHLIB_DRIVER_MEM", "3g")
    assert session._driver_mem(meminfo, ()) == "3g"
