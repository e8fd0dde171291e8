#!/usr/bin/env python3
"""Rebuild ``udacity_data_engineering_spark/jvm/nio-local-fs.jar``.

Compiles ``NioLocalFileSystem.java`` with the JDK's ``javac --release 17``
against the ``hadoop-client-api`` jar that pyspark ships (no download), and
writes the classes into the jar with fixed entry times, so a rebuild from
unchanged source gives the same bytes. Needs ``javac`` on PATH.

    python scripts/build_nio_fs.py
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pyspark

ROOT = Path(__file__).resolve().parents[1]
SOURCE = ROOT / "udacity_data_engineering_spark" / "jvm" / "NioLocalFileSystem.java"
JAR = SOURCE.with_name("nio-local-fs.jar")


def compile_classes(out: Path) -> dict[str, bytes]:
    """Compile ``SOURCE`` into ``out``; return {jar entry name: class bytes}."""
    (hadoop_api,) = (Path(pyspark.__file__).parent / "jars").glob("hadoop-client-api-*.jar")
    subprocess.run(
        ["javac", "--release", "17", "-cp", str(hadoop_api), "-d", str(out), str(SOURCE)],
        check=True,
    )
    return {p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(out.rglob("*.class"))}


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
        for name, data in classes.items():
            jar.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
    print(f"{JAR.relative_to(ROOT)}: {', '.join(classes)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
