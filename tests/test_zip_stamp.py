"""The worker zip-stamp patch (zip_stamp.py): an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one still is,
the kill switch restores stock, and only PySpark Python workers get it.

The patch is process-wide, so each check runs in a subprocess and the
pytest process keeps the stock ``zipimport``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

# Imports the package (whose __init__ installs the patch), puts a
# one-module zip on sys.path and counts zipimport._read_directory calls.
PRELUDE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    import udacity_data_engineering_spark  # noqa: F401

    ARCHIVE = sys.argv[1]

    def write_zip(modules):
        with zipfile.ZipFile(ARCHIVE, "w") as z:
            for name in modules:
                z.writestr(name + ".py", "VALUE = %r\\n" % name)

    write_zip(["mod_a"])
    sys.path.insert(0, ARCHIVE)
    import mod_a  # noqa: F401

    READS = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        READS.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read

    def reads_per_invalidation():
        del READS[:]
        importlib.invalidate_caches()
        return len(READS)

    def zip_importers():
        return sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
    """
)


def _run(tmp_path, body, **env_overrides):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHON_WORKER_FACTORY_SECRET", "SPARK_GRAFT_ZIP_STAMP")
    }
    env.update(env_overrides)
    out = subprocess.run(
        [sys.executable, "-c", PRELUDE + textwrap.dedent(body), str(tmp_path / "mods.zip")],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=str(ROOT),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


WORKER = {"PYTHON_WORKER_FACTORY_SECRET": "test-secret"}
stamped_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ keeps the stock method"
)


@stamped_python
def test_rewritten_zip_becomes_importable(tmp_path):
    out = _run(
        tmp_path,
        """
        assert zipimport.zipimporter.invalidate_caches._zip_stamped
        reads_per_invalidation()
        assert reads_per_invalidation() == 0
        write_zip(["mod_a", "mod_b"])  # in place: same path, same inode
        assert reads_per_invalidation() == 1
        import mod_b
        print("VALUE", mod_b.VALUE)
        """,
        **WORKER,
    )
    assert "VALUE mod_b" in out


@stamped_python
def test_unchanged_zip_is_not_reread(tmp_path):
    out = _run(
        tmp_path,
        """
        first = reads_per_invalidation()
        assert first == zip_importers() >= 1, (first, zip_importers())
        print("LATER", [reads_per_invalidation() for _ in range(5)])
        """,
        **WORKER,
    )
    assert "LATER [0, 0, 0, 0, 0]" in out


def test_kill_switch_rereads_every_time(tmp_path):
    out = _run(
        tmp_path,
        """
        n = zip_importers()
        counts = [reads_per_invalidation() for _ in range(4)]
        assert counts == [n] * 4 and n >= 1, (counts, n)
        print("STOCK_READS", counts)
        """,
        SPARK_GRAFT_ZIP_STAMP="0",
        **WORKER,
    )
    assert "STOCK_READS" in out


def test_plain_process_keeps_stock_method(tmp_path):
    out = _run(
        tmp_path,
        """
        from udacity_data_engineering_spark import zip_stamp

        assert not zip_stamp.install()
        method = zipimport.zipimporter.invalidate_caches
        assert not hasattr(method, "_zip_stamped")
        assert method.__module__ == "zipimport"
        print("STOCK")
        """,
    )
    assert "STOCK" in out


@stamped_python
def test_worker_tasks_after_package_import_run_stamped(spark):
    """Three one-task jobs on one fresh worker pool: the first imports the
    package, the second finds the stamped method and starts counting
    archive reads, the third reports how many its task set-up made."""
    sc = spark.sparkContext
    pool_key = "ZIP_STAMP_TEST_POOL"
    # a distinct worker environment gets its own pool, so the three
    # tasks run one after another on that pool's single worker
    sc.environment[pool_key] = uuid.uuid4().hex

    # each task drains its input: a worker that leaves input unread is
    # not returned to the pool
    def import_package(rows):
        import os

        import udacity_data_engineering_spark  # noqa: F401

        list(rows)
        yield os.getpid()

    def count_reads(rows):
        import os
        import zipimport

        list(rows)

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        zipimport._test_reads = reads
        method = zipimport.zipimporter.invalidate_caches
        yield os.getpid(), getattr(method, "_zip_stamped", False)

    def report_reads(rows):
        import os
        import zipimport

        list(rows)
        yield os.getpid(), len(zipimport._test_reads)

    try:
        one = sc.parallelize([0], 1)
        pid = one.mapPartitions(import_package).collect()[0]
        pid2, stamped = one.mapPartitions(count_reads).collect()[0]
        pid3, reads = one.mapPartitions(report_reads).collect()[0]
    finally:
        del sc.environment[pool_key]
    assert pid == pid2 == pid3
    assert stamped
    assert reads == 0
