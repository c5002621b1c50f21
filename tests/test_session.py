"""Session defaults derived from the host when the environment sets none,
and the session's local filesystem."""

from __future__ import annotations

import glob
import os
import shutil
import stat
import subprocess
import zipfile

import pytest

from energy_data_stream_processing_spark import session


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2}, raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session._host_cpus() == "3"
    assert session._host_driver_memory() == f"{15 * 2**30 // 2 // 2**20}m"  # half of RAM

    pages["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert session._host_driver_memory() == "16384m"  # capped at 16g


def test_explicit_environment_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "16g")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0}, raising=False)
    assert session._host_cpus() == "32"
    assert session._host_driver_memory() == "16g"


def test_driver_class_path_appends_the_local_fs_jar_once(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        f"spark.driver.extraClassPath /opt/a.jar{os.pathsep}{session.LOCAL_FS_JAR}\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._driver_class_path() == f"/opt/a.jar{os.pathsep}{session.LOCAL_FS_JAR}"
    (conf / "spark-defaults.conf").write_text("spark.driver.extraClassPath /opt/a.jar\n")
    assert session._driver_class_path() == f"/opt/a.jar{os.pathsep}{session.LOCAL_FS_JAR}"
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.delenv("SPARK_HOME", raising=False)
    assert session._driver_class_path() == session.LOCAL_FS_JAR


def test_session_local_fs_is_the_committed_build_of_its_source(spark, tmp_path):
    """The engine session resolves ``file://`` to the jar's filesystem,
    whose ``setPermission`` leaves exactly the mode asked for; and the
    committed jar's classes are what its source compiles to, as built by
    the command in the source's header."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    target = tmp_path / "f"
    target.write_text("x")
    for mode in (0o640, 0o755, 0o000, 0o1777):  # the sticky bit goes to chmod
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(target)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
        )
        assert stat.S_IMODE(os.stat(target).st_mode) == mode

    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH to rebuild the jar with")
    import pyspark

    (api,) = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    src = os.path.join(os.path.dirname(session.LOCAL_FS_JAR), "ForkFreeLocalFileSystem.java")
    classes = tmp_path / "classes"
    subprocess.run(
        ["javac", "--release", "17", "-cp", api, "-d", str(classes), src],
        check=True, capture_output=True,
    )
    built = {}
    for p in glob.glob(str(classes / "**" / "*.class"), recursive=True):
        with open(p, "rb") as f:
            built[os.path.relpath(p, classes)] = f.read()
    with zipfile.ZipFile(session.LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert built and built == committed
