"""The local posture's filesystem, session.NIO_LOCAL_FS: it sets the
modes Hadoop's RawLocalFileSystem sets, and a boot falls back to
RawLocalFileSystem whenever the class cannot be built or loaded."""

from __future__ import annotations

import os
import stat
import subprocess
import sys

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RAW_LOCAL_FS = "org.apache.hadoop.fs.RawLocalFileSystem"
MODES = (0o000, 0o600, 0o644, 0o750, 0o755, 0o777)


def _modes(spark, fs, root: str) -> dict[str, int]:
    """The modes ``fs`` leaves under ``root``: a created file, made
    dirs (default and 0o750), a file set to each of MODES, and a dir
    set to 0o1777, whose sticky bit takes the superclass's path."""
    jvm = spark._jvm
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    path = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    fs.create(path(f"{root}/created")).close()
    fs.mkdirs(path(f"{root}/made"))
    fs.mkdirs(path(f"{root}/made750"), perm("750"))
    fs.mkdirs(path(f"{root}/sticky"))
    fs.setPermission(path(f"{root}/sticky"), perm("1777"))
    for mode in MODES:
        fs.create(path(f"{root}/set{mode:03o}")).close()
        fs.setPermission(path(f"{root}/set{mode:03o}"), perm(f"{mode:03o}"))
    return {n: stat.S_IMODE(os.stat(os.path.join(root, n)).st_mode) for n in os.listdir(root)}


def test_nio_filesystem_sets_raw_local_modes(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    local = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert local.getClass().getName() == session.NIO_LOCAL_FS
    nio = _modes(spark, jvm.sparkgraft.NioLocalFileSystem(), str(tmp_path / "nio"))
    raw = _modes(spark, jvm.org.apache.hadoop.fs.RawLocalFileSystem(), str(tmp_path / "raw"))
    assert nio == raw
    assert {nio[f"set{m:03o}"] for m in MODES} == set(MODES)
    assert nio["sticky"] == 0o1777
    assert nio["made750"] == 0o750


def test_running_jvm_that_loads_the_class_keeps_it(spark):
    """The tier-1 session booted with the classes dir on its classpath,
    so a later boot in this process (after a stop) can still use it."""
    assert session._driver_fs_classes() == session.local_fs_classes() is not None


def test_classes_compile_once_into_the_cache(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    classes = session.local_fs_classes()
    assert classes is not None
    assert os.path.isfile(os.path.join(classes, "sparkgraft", "NioLocalFileSystem.class"))
    # No temp dir left beside it, and a second boot needs no javac.
    assert os.listdir(tmp_path / "spark-graft") == [os.path.basename(classes)]
    monkeypatch.setenv("PATH", str(tmp_path / "nobin"))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    assert session.local_fs_classes() == classes


def test_no_javac_keeps_raw_local_filesystem(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PATH", str(tmp_path / "nobin"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "nojdk"))
    assert session.local_fs_classes() is None
    _, confs = session.session_confs(env={}, fs_classes=None)
    assert confs["spark.hadoop.fs.file.impl"] == RAW_LOCAL_FS
    assert "spark.driver.extraClassPath" not in confs


def test_user_driver_classpath_is_joined_with_the_classes_dir():
    env = {"SPARK_GRAFT_EXTRA_CONFS": "spark.driver.extraClassPath=/opt/user.jar"}
    _, confs = session.session_confs(env=env, fs_classes="/cache/classes")
    assert confs["spark.driver.extraClassPath"] == f"/opt/user.jar{os.pathsep}/cache/classes"
    assert confs["spark.hadoop.fs.file.impl"] == session.NIO_LOCAL_FS


# A plain session started and stopped first, so get_spark's boot finds
# a JVM whose classpath lacks the classes dir.
_RESTART = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.sinks import write_csv
SparkSession.builder.master("local[1]").getOrCreate().stop()
spark = get_spark("sse_restart")
print("IMPL", spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl"))
write_csv(spark.range(3), sys.argv[1])
spark.stop()
print("RESTART_OK")
"""


def test_boot_after_a_plain_session_falls_back_to_raw_local(tmp_path):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=REPO), str(tmp_path / "out")],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "RESTART_OK" in proc.stdout, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}"
    assert f"IMPL {RAW_LOCAL_FS}" in proc.stdout
