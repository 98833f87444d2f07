"""The driver JVM's class-data archive (``sketchlib/cds.py``) never
stands in the way of a session: a corrupt or foreign archive, another
process's half-written files and a real Spark conf directory all end in
a normal start, and the dump writes nothing to stdout.

The planning cases run against a fake JDK and Spark home; the two
cases that start a real JVM do it in a child process with its own
cache directory, in a form that never records (so no dump runs)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from sketchlib import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_homes(tmp_path) -> dict:
    jdk, spark = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.0"\n')
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "spark-core.jar").write_bytes(b"PK" * 10)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    return {"JAVA_HOME": str(jdk), "SPARK_HOME": str(spark),
            "XDG_CACHE_HOME": str(tmp_path / "cache")}


def _archive(env: dict) -> str:
    cache = cds.cache_dir(env)
    key = cds._key(cds._java_home(env), cds._spark_home(env),
                   os.path.join(cache, "conf"), env)
    return os.path.join(cache, key + ".jsa")


def _child_env(tmp_path, **extra) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"),
               SKETCHLIB_DRIVER_MEM="512m", SPARK_GRAFT_CPUS="1",
               PYTHONPATH=ROOT, **extra)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env


_CHILD = textwrap.dedent("""
    import os
    from sketchlib.session import get_spark
    spark = get_spark("cds-test")
    args = spark._jvm.String.join(" ", spark._jvm.java.lang.management
        .ManagementFactory.getRuntimeMXBean().getInputArguments())
    print(spark.range(10).selectExpr("sum(id)").collect()[0][0])
    print(" ".join(a for a in args.split() if "Shared" in a or "Dump" in a))
    print(spark.sparkContext.getConf().get("spark.sketchlib.probe", "-"))
    print(os.environ.get("SPARK_CONF_DIR", "-"))
""")


def _exited() -> subprocess.Popen:
    """Stands in for the recording JVM, already gone."""
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc


def _run_child(env: dict) -> list[str]:
    done = subprocess.run([sys.executable, "-c", _CHILD], env=env,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    return done.stdout.splitlines()


def test_corrupt_archive_falls_back_to_a_plain_start(tmp_path):
    env = _child_env(tmp_path)
    archive = _archive(env)
    os.makedirs(os.path.dirname(archive))
    junk = os.urandom(1 << 16)
    with open(archive, "wb") as fh:
        fh.write(junk)
    total, flags, _, _ = _run_child(env)
    assert total == "45"  # a job ran
    assert flags == f"-XX:SharedArchiveFile={archive}"  # and it was tried
    with open(archive, "rb") as fh:
        assert fh.read() == junk  # not replaced, and nothing recorded
    assert sorted(os.listdir(os.path.dirname(archive))) == \
        sorted(["conf", os.path.basename(archive)])


def test_real_conf_dir_skips_the_archive_and_keeps_spark_conf_dir(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sketchlib.probe 42\n")
    env = _child_env(tmp_path, SPARK_CONF_DIR=str(conf))
    assert cds.plan(env).java_options == ""
    total, flags, probe, conf_dir = _run_child(env)
    assert (total, flags, probe, conf_dir) == ("45", "", "42", str(conf))
    assert not (tmp_path / "cache").exists()


def test_archive_under_another_key_is_ignored(tmp_path):
    env = _fake_homes(tmp_path)
    cache = cds.cache_dir(env)
    os.makedirs(cache)
    other = os.path.join(cache, "0123456789abcdef01234567.jsa")
    open(other, "wb").close()
    start = cds.plan(env)
    try:
        assert "SharedArchiveFile" not in start.java_options
        assert start.java_options == \
            f" -XX:DumpLoadedClassList={start.listing}"
    finally:
        start.close()
    # the matching key is used; a changed jar gives another key
    open(_archive(env), "wb").close()
    assert cds.plan(env).java_options == \
        f" -XX:SharedArchiveFile={_archive(env)}"
    with open(os.path.join(env["SPARK_HOME"], "jars", "spark-core.jar"),
              "ab") as fh:
        fh.write(b"!")
    assert not os.path.exists(_archive(env))


def test_unwritable_cache_means_a_plain_start(tmp_path):
    env = _fake_homes(tmp_path)
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    env["XDG_CACHE_HOME"] = str(blocker)
    start = cds.plan(env)
    assert (start.java_options, start.conf_dir, start.lock) == ("", None,
                                                                None)


def test_live_process_partial_files_are_never_used_or_promoted(tmp_path):
    env = _fake_homes(tmp_path)
    archive = _archive(env)
    key = os.path.basename(archive)[:-len(".jsa")]
    cache = os.path.dirname(archive)
    os.makedirs(cache)
    dead = _exited()
    live = subprocess.Popen(["sleep", "60"])
    try:
        planted = {}
        for pid in (live.pid, dead.pid):
            for name in (f"{key}.{pid}.lst", f"{key}.jsa.{pid}.tmp"):
                planted[name] = os.path.join(cache, name)
                with open(planted[name], "w") as fh:
                    fh.write(str(pid))
        start = cds.plan(env)
        assert start.listing == os.path.join(cache,
                                             f"{key}.{os.getpid()}.lst")
        # the dump of this process fails: nothing is promoted
        start.jvm = _exited()
        start.dump_cmd = ["false"]
        start.build()
        assert not os.path.exists(archive)
        for name, path in planted.items():
            assert os.path.exists(path) == (f".{live.pid}." in name), name
        again = cds.plan(env)
        again.close()
        assert "SharedArchiveFile" not in again.java_options
    finally:
        live.kill()
        live.wait()


def test_dump_output_never_reaches_stdout(tmp_path, capfd):
    env = _fake_homes(tmp_path)
    java = tmp_path / "java"
    java.write_text(textwrap.dedent("""\
        #!/bin/sh
        echo "dumping to stdout"; echo "warning to stderr" >&2
        for a; do case $a in -XX:SharedArchiveFile=*)
            echo archive > "${a#*=}";; esac; done
    """))
    java.chmod(0o755)
    start = cds.plan(env)
    start.jvm = _exited()
    start.dump_cmd = [str(java), f"-XX:SharedArchiveFile={start.tmp}"]
    start.build()
    out, err = capfd.readouterr()
    assert (out, err) == ("", "")
    assert open(_archive(env)).read() == "archive\n"
    assert not os.path.exists(start.tmp)
    assert cds.plan(env).java_options == \
        f" -XX:SharedArchiveFile={_archive(env)}"


def test_dump_command_uses_the_live_jvm_class_path_and_module_options(
        spark):
    cmd = cds.dump_command(spark, "/x.lst", "/x.jsa")
    jvm = spark._jvm
    assert cmd[0] == os.path.join(jvm.System.getProperty("java.home"),
                                  "bin", "java")
    assert cmd[1:4] == ["-Xshare:dump", "-XX:SharedClassListFile=/x.lst",
                        "-XX:SharedArchiveFile=/x.jsa"]
    assert cmd[-2:] == ["-cp", jvm.System.getProperty("java.class.path")]
    assert any(a.startswith("--add-opens=") for a in cmd)
    assert not any(a.startswith(("-Xm", "-Xs", "-D")) for a in cmd[4:-2])
