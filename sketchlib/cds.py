"""Start the driver JVM from a cached class-data-sharing archive.

Most of a fresh session's start is the JVM loading ~16k classes out of
Spark's ~290 jars. A JDK 17 AppCDS archive holds those classes already
parsed, and a JVM started with ``-XX:SharedArchiveFile`` maps them in
(session start 6.3 -> 3.5 s on 4 vCPUs).

The archive is ``<key>.jsa`` in ``${XDG_CACHE_HOME:-~/.cache}/sketchlib``.
The key hashes what decides whether an archive fits the JVM about to
start: the JDK ``release`` file, the class path (the conf directory,
each Spark jar's name, size and mtime, and the launch settings that add
to it) and the module options (Spark's launcher jar sets them; extra
ones come through ``SPARK_SUBMIT_OPTS`` or ``PYSPARK_SUBMIT_ARGS``).
The JVM checks the class path and jar stamps again itself and ignores
an archive that does not fit, as it ignores a corrupt one.

A start that finds no archive records the classes its JVM loads
(``-XX:DumpLoadedClassList=<key>.<pid>.lst``). An ``atexit`` hook then
waits for that JVM to exit, runs ``java -Xshare:dump`` over the list
with the live JVM's class path and module options (about 45 s, output
discarded) and moves the archive into place with ``os.replace``. One
process records at a time: it holds an ``flock`` on ``<key>.lock``.

JDK 17 will not dump while a non-empty directory is on the class path,
and Spark puts its conf directory there. When that directory holds only
``*.template`` files the JVM is launched with ``SPARK_CONF_DIR`` set to
an empty directory in the cache; when it holds a real file, there is no
archive. Whatever fails, the session starts as it would without one.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess

# launch settings that change the driver's class path or JVM options
_LAUNCH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
               "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS")


def cache_dir(env=os.environ) -> str:
    base = (env.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "sketchlib")


def _java_home(env) -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on
    the path."""
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java", path=env.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) \
        if java else None


def _spark_home(env) -> str:
    if env.get("SPARK_HOME"):
        return env["SPARK_HOME"]
    import pyspark
    return os.path.dirname(pyspark.__file__)


def _holds_real_file(directory: str) -> bool:
    try:
        return any(not n.endswith(".template") for n in os.listdir(directory))
    except OSError:
        return False


def _key(java_home: str, spark_home: str, conf_dir: str, env) -> str:
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for part in (java_home, conf_dir, *(env.get(v, "") for v in _LAUNCH_ENV)):
        h.update(part.encode() + b"\0")
    return h.hexdigest()[:24]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_orphans(cache: str) -> None:
    """Class lists and half-written archives of processes that died
    before their dump finished."""
    for path in glob.glob(os.path.join(cache, "*.*.lst")) + \
            glob.glob(os.path.join(cache, "*.*.tmp")):
        pid = path.rsplit(".", 2)[1]
        if pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(path)


def dump_command(spark, listing: str, archive: str) -> list[str]:
    """``java -Xshare:dump`` of the classes in ``listing`` into
    ``archive``, with the session JVM's own JDK, class path and module
    options: the archive is only used by a JVM that matches them."""
    jvm = spark._jvm
    sysprop = jvm.System.getProperty
    args = jvm.String.join("\n", jvm.java.lang.management.ManagementFactory
                           .getRuntimeMXBean().getInputArguments())
    return [os.path.join(sysprop("java.home"), "bin", "java"), "-Xshare:dump",
            f"-XX:SharedClassListFile={listing}",
            f"-XX:SharedArchiveFile={archive}",
            *(a for a in args.split("\n") if a.startswith("--")
              or a == "-XX:+IgnoreUnrecognizedVMOptions"),
            "-cp", sysprop("java.class.path")]


class Start:
    """How the next driver JVM starts: extra Java options, the conf
    directory to launch it with (``None``: leave ``SPARK_CONF_DIR``
    alone) and, when it records a class list, what to dump after it."""

    def __init__(self, java_options: str = "", conf_dir: str | None = None,
                 lock: int | None = None, listing: str | None = None,
                 archive: str | None = None):
        self.java_options = java_options
        self.conf_dir = conf_dir
        self.lock, self.listing, self.archive = lock, listing, archive
        self.tmp = f"{archive}.{os.getpid()}.tmp" if archive else None
        self.jvm = self.dump_cmd = None

    @contextlib.contextmanager
    def launching(self):
        """Around the ``getOrCreate`` that launches the JVM: PySpark
        passes ``os.environ`` to ``spark-submit``."""
        if self.conf_dir is None:
            yield
            return
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def started(self, spark) -> None:
        """Read the live JVM's class path and module options for the
        dump, and dump at exit."""
        if self.lock is None:
            return
        try:
            self.dump_cmd = dump_command(spark, self.listing, self.tmp)
            self.jvm = spark.sparkContext._gateway.proc
        except Exception:  # no archive, the session runs on
            self.close()
            return
        pid = os.getpid()
        atexit.register(lambda: os.getpid() == pid and self.build())

    def build(self) -> None:
        """Wait for the recording JVM to exit (it flushes the class list
        then), dump the archive and move it into place."""
        try:
            if self.jvm.poll() is None:
                self.jvm.stdin.close()  # the JVM exits when its stdin closes
                self.jvm.wait(timeout=120)
            if not os.path.exists(self.archive):
                done = subprocess.run(
                    self.dump_cmd, stdin=subprocess.DEVNULL,
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                    timeout=900)
                if done.returncode == 0:
                    os.replace(self.tmp, self.archive)
        except (OSError, subprocess.SubprocessError):
            pass
        finally:
            self.close()

    def close(self) -> None:
        for path in (self.listing, self.tmp):
            with contextlib.suppress(OSError):
                os.remove(path)
        if self.lock is not None:
            os.close(self.lock)
            self.lock = None


def plan(env=os.environ) -> Start:
    """How to start a driver JVM about to be launched: from the
    matching archive, or recording a class list for one, or plain."""
    try:
        spark_home, java_home = _spark_home(env), _java_home(env)
        conf_dirs = [env.get("SPARK_CONF_DIR")
                     or os.path.join(spark_home, "conf"),
                     env.get("HADOOP_CONF_DIR"), env.get("YARN_CONF_DIR")]
        if java_home is None or any(_holds_real_file(d)
                                    for d in conf_dirs if d):
            return Start()
        cache = cache_dir(env)
        conf = os.path.join(cache, "conf")
        os.makedirs(conf, exist_ok=True)
        key = _key(java_home, spark_home, conf, env)
        archive = os.path.join(cache, key + ".jsa")
        if os.path.isfile(archive):
            return Start(f" -XX:SharedArchiveFile={archive}", conf)
        lock = os.open(os.path.join(cache, key + ".lock"),
                       os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:  # another process is recording or dumping
            os.close(lock)
            return Start()
        _remove_orphans(cache)
        listing = os.path.join(cache, f"{key}.{os.getpid()}.lst")
        return Start(f" -XX:DumpLoadedClassList={listing}", conf,
                     lock, listing, archive)
    except OSError:
        return Start()
