"""Source-matrix robustness: CSV fidelity, JSON parse modes
(PERMISSIVE / DROPMALFORMED / FAILFAST), approximate distinct accuracy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_spark.session import table
from udacity_data_engineering_spark.sources.csv_source import read_csv, write_csv
from udacity_data_engineering_spark.sources.json_source import (
    FIXTURES,
    SONG_SCHEMA,
    read_song_data,
)


def test_csv_roundtrip_fidelity(spark, sf_dir, tmp_path):
    nat = table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(nat, out)
    back = read_csv(spark, out, nat.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nat.collect()))
    assert back.schema == nat.schema


LOGS = f"{FIXTURES}/log_data/*/*/*.json"


def test_json_dropmalformed_drops_corrupt_line(spark):
    permissive = spark.read.json(LOGS, mode="PERMISSIVE").cache()
    try:
        total = permissive.count()
        bad = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    finally:
        permissive.unpersist()
    dropped = spark.read.json(LOGS, mode="DROPMALFORMED").count()
    assert bad == 1
    assert dropped == total - bad


def test_json_failfast_raises_on_corrupt_line(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        spark.read.json(LOGS, mode="FAILFAST").count()


def test_declared_schema_ignores_extra_fields(spark, tmp_path):
    p = tmp_path / "extra.json"
    p.write_text('{"song_id": "S1", "title": "t", "unexpected_field": 1}\n')
    df = spark.read.json(str(p), schema=SONG_SCHEMA, mode="PERMISSIVE")
    row = df.collect()[0]
    assert row.song_id == "S1" and row.duration is None


def test_listing_fans_out_to_cores_not_paths(spark, tmp_path, job_tasks):
    """A read of more paths than the 32-path threshold lists them in a
    Spark job; a session this package builds gives that job at most one
    task per core, not one per path."""
    for i in range(40):
        (tmp_path / f"song_{i:02d}.json").write_text(f'{{"song_id": "S{i}"}}\n')
    with job_tasks() as tasks:
        df = read_song_data(spark, str(tmp_path / "*.json"))
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism
    assert df.count() == 40


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """The HLL path (the 100 TB tier of E2) must land within its 5% rsd
    of the exact distinct count."""
    o = table(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.05)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.15


def test_orc_roundtrip_fidelity(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.sources.orc_source import read_orc, write_orc

    sup = table(spark, sf_dir, "supplier")
    out = str(tmp_path / "supplier_orc")
    write_orc(sup, out)
    back = read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sup.collect()))
    assert back.schema == sup.schema


def test_orc_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.sources.orc_source import read_orc, write_orc

    sup = table(spark, sf_dir, "supplier")
    out = str(tmp_path / "supplier_orc_part")
    write_orc(sup, out, partition_by=["s_nationkey"])
    one = read_orc(spark, out).filter(F.col("s_nationkey") == 1)
    exp = sup.filter(F.col("s_nationkey") == 1).count()
    assert one.count() == exp


def test_compact_produces_exact_file_count(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.sources.parquet_source import compact

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compacted")
    orders = table(spark, sf_dir, "orders")
    orders.repartition(32).write.parquet(frag)
    compact(spark.read.parquet(frag), out, target_files=3)
    import pathlib

    files = list(pathlib.Path(out).glob("*.parquet"))
    assert len(files) == 3
    assert spark.read.parquet(out).count() == orders.count()


def test_schema_evolution_nulls_old_rows(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.plans.registry import all_queries

    df = all_queries()["q_schema_evolution"].fn(spark, sf_dir)
    assert "iso_code" in df.columns
    n = table(spark, sf_dir, "nation").count()
    assert df.count() == 2 * n
    assert df.filter(F.col("iso_code").isNull()).count() == n


def test_scratch_dirs_are_reused_not_leaked(spark, sf_dir):
    """Sink round-trip queries rewrite one deterministic directory per
    query instead of leaking a fresh mkdtemp per invocation (ADVICE r1)."""
    import os

    from udacity_data_engineering_spark.plans.registry import all_queries
    from udacity_data_engineering_spark.sources.parquet_source import scratch_dir

    q = all_queries()["q_parquet_roundtrip"].fn
    q(spark, sf_dir).count()
    path = scratch_dir("roundtrip")
    before = sorted(os.listdir(path))
    root_before = sorted(os.listdir(os.path.dirname(path)))
    q(spark, sf_dir).count()
    assert sorted(os.listdir(os.path.dirname(path))) == root_before
    assert len(os.listdir(path)) == len(before)
