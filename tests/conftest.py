from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _enable_protobuf_shim() -> None:
    """Make google.protobuf importable (driver AND Spark Python workers)
    via the narrow vendor/protobuf_shim bridge to the Cloud SDK's
    bundled pure-Python runtime — see vendor/protobuf_shim/google/
    __init__.py. No-op where protobuf is really installed or the SDK
    copy is absent. Must run BEFORE the Spark JVM starts so workers
    inherit PYTHONPATH."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    shim = str(Path(__file__).resolve().parents[1] / "vendor" / "protobuf_shim")
    if not (Path(shim) / "google" / "__init__.py").exists():
        return
    sys.path.insert(0, shim)
    # no trailing empty component when PYTHONPATH was unset — "shim:"
    # would add cwd to every worker/subprocess import path
    existing = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = shim + (os.pathsep + existing if existing else "")
    os.environ.setdefault("PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION", "python")


_enable_protobuf_shim()

from udacity_data_engineering_spark.session import TABLES, build_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="pytest", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def job_tasks(spark):
    """``with job_tasks() as tasks:`` runs the block under a fresh job
    group; on exit ``tasks`` holds the task count of each job it ran."""
    sc = spark.sparkContext

    @contextmanager
    def run_jobs():
        group = f"job-tasks-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        tasks: list[int] = []
        try:
            yield tasks
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            stages = (tracker.getStageInfo(s) for s in tracker.getJobInfo(job_id).stageIds)
            tasks.append(sum(s.numTasks for s in stages if s is not None))

    return run_jobs


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
