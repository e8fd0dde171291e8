"""The ``file:`` FileSystem that ``build_session`` installs
(``jvm/NioLocalFileSystem.java``): a partitioned write forks no ``chmod``,
a JVM started without the jar stays stock, a launch keeps its own
``--driver-class-path`` and ``spark-defaults.conf`` class path, every mode
lands as stock ``chmod`` sets it, and the committed jar is built from the
committed source.

One JVM per process is a Spark invariant, so the session checks run in
subprocesses with a logging ``chmod`` first on PATH.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from udacity_data_engineering_spark.session import NIO_FS_CLASS, NIO_FS_JAR

ROOT = Path(__file__).resolve().parents[1]

# argv: output dir, then "stock-jvm-first" to start (and stop) a stock
# session before build_session, as a caller that owns the JVM would
CHILD = r"""
import json, sys

from pyspark.sql import SparkSession

from udacity_data_engineering_spark.session import build_session

out = sys.argv[1]
if sys.argv[2:] == ["stock-jvm-first"]:
    SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
spark = build_session(app_name="localfs", cpus=2, shuffle_partitions=2)
df = spark.range(40).selectExpr("id", "id % 4 AS year", "id % 5 AS artist")
df.repartition(2).write.partitionBy("year", "artist").parquet(out)
conf = spark.sparkContext.getConf()
print(json.dumps({
    "rows": spark.read.parquet(out).count(),
    "impl": conf.get("spark.hadoop.fs.file.impl"),
    "jar": conf.get("spark.driver.defaultExtraClassPath"),
    "class_path": spark._jvm.java.lang.System.getProperty("java.class.path"),
}))
"""


def _run_child(tmp_path: Path, env: dict[str, str], *args: str) -> tuple[dict, list[str]]:
    """Run CHILD; return its JSON line and the ``chmod`` calls on its output."""
    bin_dir, log, out = tmp_path / "bin", tmp_path / "chmod.log", tmp_path / "out"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    wrapper.chmod(0o755)
    child_env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "SPARK_DRIVER_MEMORY": "1g",
        **env,
    }
    done = subprocess.run(
        [sys.executable, "-c", CHILD, str(out), *args],
        capture_output=True, text=True, timeout=300, cwd=str(ROOT), env=child_env,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert result["rows"] == 40
    calls = log.read_text().splitlines() if log.exists() else []
    return result, [c for c in calls if str(out) in c]


def test_partitioned_write_forks_no_chmod(tmp_path):
    result, calls = _run_child(tmp_path, {})
    assert result["impl"] == NIO_FS_CLASS
    assert result["jar"] == str(NIO_FS_JAR)
    assert calls == []


def test_own_driver_class_path_is_kept(tmp_path):
    extra = tmp_path / "extra"
    extra.mkdir()
    submit = f"--driver-class-path {extra} pyspark-shell"
    result, calls = _run_child(tmp_path, {"PYSPARK_SUBMIT_ARGS": submit})
    entries = [e.rstrip("/") for e in result["class_path"].split(os.pathsep)]
    assert str(extra) in entries and str(NIO_FS_JAR) in entries
    assert result["impl"] == NIO_FS_CLASS
    assert calls == []


def test_spark_defaults_class_path_is_kept(tmp_path):
    extra, conf_dir = tmp_path / "extra", tmp_path / "conf"
    extra.mkdir()
    conf_dir.mkdir()
    key = "spark.driver.defaultExtraClassPath"
    (conf_dir / "spark-defaults.conf").write_text(f"# launcher defaults\n{key} {extra}\n")
    result, calls = _run_child(tmp_path, {"SPARK_CONF_DIR": str(conf_dir)})
    assert result["jar"] == f"{extra}{os.pathsep}{NIO_FS_JAR}"
    entries = [e.rstrip("/") for e in result["class_path"].split(os.pathsep)]
    assert str(extra) in entries and str(NIO_FS_JAR) in entries
    assert result["impl"] == NIO_FS_CLASS
    assert calls == []


def test_jvm_started_without_the_jar_stays_stock(tmp_path):
    result, calls = _run_child(tmp_path, {}, "stock-jvm-first")
    assert result["impl"] is None
    assert calls


MODES = [0o644, 0o755, 0o700, 0o600, 0o777, 0o1777]


@pytest.mark.parametrize("kind", ["file", "dir", "setgid-dir"])
@pytest.mark.parametrize("mode", MODES, ids=lambda m: f"{m:04o}")
def test_set_permission_matches_stock_chmod(spark, tmp_path, kind, mode):
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
    assert perm.toShort() == mode
    modes = {}
    for name, fs in (
        ("nio", jvm.udacity_data_engineering_spark.jvm.NioLocalFileSystem()),
        ("stock", jvm.org.apache.hadoop.fs.LocalFileSystem()),
    ):
        fs.initialize(jvm.java.net.URI.create("file:///"), spark._jsc.hadoopConfiguration())
        target = tmp_path / name
        if kind == "file":
            target.touch()
        else:
            target.mkdir()
            if kind == "setgid-dir":
                target.chmod(0o2750)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)), perm)
        modes[name] = stat.S_IMODE(target.stat().st_mode)
    assert modes["nio"] == modes["stock"]
    # NIO cannot set the sticky bit nor keep setgid: these took the fallback
    if mode & 0o1000 and kind != "file":
        assert modes["nio"] & 0o1000
    if kind == "setgid-dir":
        assert modes["nio"] & 0o2000


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_committed_jar_is_built_from_committed_source(tmp_path):
    spec = importlib.util.spec_from_file_location("build_nio_fs", ROOT / "scripts" / "build_nio_fs.py")
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    classes = build.compile_classes(tmp_path)
    with zipfile.ZipFile(NIO_FS_JAR) as jar:
        assert {name: jar.read(name) for name in jar.namelist()} == classes
