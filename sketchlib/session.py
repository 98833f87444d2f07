"""SparkSession factory with the settings this library assumes.

Local mode is the sandbox; the same settings are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make ``sketchlib`` importable on executor Python workers no
    matter where the driver was launched from — the in-process
    equivalent of ``spark-submit --py-files sketchlib.zip``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(),
                         f"sketchlib-pyfiles-{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)


def _driver_mem() -> str:
    """``SKETCHLIB_DRIVER_MEM`` if set, else 40% of MemAvailable capped
    at 16 GiB: the heap is pre-touched, so a size the host cannot back
    kills the JVM at start-up."""
    mem = os.environ.get("SKETCHLIB_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemAvailable:"))
    return f"{min(16 << 10, avail_kb * 2 // 5 >> 10)}m"


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
    spark = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # fixed-size pre-touched heap: a growing lazily-faulted heap
        # spends tens of seconds at ~95% kernel time zeroing pages
        # mid-job (measured in this sandbox); pre-touching moves that
        # cost to startup and removes the dominant source of run-to-run
        # variance
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions",
                "-XX:+AlwaysPreTouch -Xms" + mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
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
