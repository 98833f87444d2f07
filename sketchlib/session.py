"""SparkSession factory with the settings this library assumes.

Local mode is the sandbox; the same settings are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from sketchlib import cds

_pyfiles: str | None = None
# the memory limit of this process's cgroup as seen from inside it:
# v2, then v1 ("max" or a huge number when unlimited)
_CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max",
                  "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _remove_pyfiles(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _ship_package(spark: SparkSession) -> None:
    """Make ``sketchlib`` importable on executor Python workers no
    matter where the driver was launched from — the in-process
    equivalent of ``spark-submit --py-files sketchlib.zip``. The zip is
    written once per process under a fresh name, so no file a dead
    process left behind is ever shipped, and removed at exit."""
    global _pyfiles
    if _pyfiles is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        fd, zpath = tempfile.mkstemp(prefix="sketchlib-pyfiles-",
                                     suffix=".zip")
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
        atexit.register(_remove_pyfiles, zpath)
        _pyfiles = zpath
    spark.sparkContext.addPyFile(_pyfiles)


def _driver_mem(meminfo: str = "/proc/meminfo",
                limits: tuple[str, ...] = _CGROUP_LIMITS) -> str:
    """``SKETCHLIB_DRIVER_MEM`` if set, else 40% of what the process can
    use, capped at 16 GiB: MemAvailable, or the cgroup's memory limit
    when that is lower. The heap is pre-touched, so a size the host or
    the container cannot back kills the JVM at start-up."""
    mem = os.environ.get("SKETCHLIB_DRIVER_MEM")
    if mem:
        return mem
    with open(meminfo) as fh:
        avail = next(int(line.split()[1]) << 10 for line in fh
                     if line.startswith("MemAvailable:"))
    for path in limits:
        with contextlib.suppress(OSError, ValueError), open(path) as fh:
            avail = min(avail, int(fh.read()))
    return f"{min(16 << 10, avail * 2 // 5 >> 20)}m"


def _host_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app: str = "sketchlib", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
    mem = _driver_mem()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    from pyspark import SparkContext
    # a new driver JVM starts from the class-data archive (or records
    # one); getOrCreate on a running JVM keeps that JVM as it is
    start = (cds.plan() if SparkContext._gateway is None
             and "PYSPARK_GATEWAY_PORT" not in os.environ else cds.Start())
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # fixed-size pre-touched heap: page faults are paid at start, not
        # mid-job. 4 vCPU / 15 GiB, perfbench kmer_occm, 7 runs per side:
        # at a 2 GiB heap it adds 0.3 s to setup_s and takes build_s
        # from 0.779 to 0.708 s (lower in 5/7, spread not smaller); at
        # the 5.9 GiB default it adds 1.9 s and build_s does not move
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions",
                "-XX:+AlwaysPreTouch -Xms" + mem + start.java_options)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    with start.launching():
        spark = builder.getOrCreate()
    start.started(spark)
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def borrowed_spark(app: str = "sketchlib", cpus: int | None = None):
    """``get_spark`` for command-style entry points: yields the
    (possibly pre-existing) session and stops it on exit ONLY if no
    session or context existed anywhere in the process beforehand.

    ``getActiveSession`` is thread-local, so it alone would mark a
    session created in another thread as "ours" and stop it out from
    under its owner — the process-wide SparkContext check closes that
    hole."""
    from pyspark import SparkContext

    owned = (SparkSession.getActiveSession() is None
             and SparkContext._active_spark_context is None)
    spark = get_spark(app, cpus=cpus)
    try:
        yield spark
    finally:
        if owned:
            spark.stop()
