"""``session.table`` infers a table's Parquet schema once per application
and files stamp; stock ``spark.read.parquet`` is the reference for every
schema it declares."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameReader

from udacity_data_engineering_spark import session
from udacity_data_engineering_spark.session import TABLES, table


def _cached_schema(spark, path):
    return session._SCHEMAS[(spark.sparkContext.applicationId, path)][1]


def test_build_session_hides_console_progress(spark):
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_repeat_table_load_runs_no_job(spark, sf_dir, job_tasks):
    table(spark, sf_dir, "orders")
    with job_tasks() as tasks:
        df = table(spark, sf_dir, "orders")
    assert tasks == []
    with job_tasks() as tasks:
        spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert len(tasks) == 1  # what the repeat load no longer pays
    assert df.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def _assert_schemas_match_stock(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        table(spark, sf_dir, name)
        warm = session._read_parquet(spark, path)
        stock = spark.read.parquet(path)
        assert _cached_schema(spark, path) == stock.schema, name
        assert warm.schema == stock.schema, name
    assert dict(table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp_ntz"


def test_cached_schema_equals_stock_single_files(spark, sf_dir):
    _assert_schemas_match_stock(spark, sf_dir)


def test_cached_schema_equals_stock_directory_copy(spark, sf_dir, tmp_path):
    """Each table split into part files under ``<name>.parquet/``, as the
    benchmark rewrites its inputs, with ``events.ts`` written as
    TIMESTAMP(NANOS): it arrives as bigint under the nanos shim."""
    for name in TABLES:
        t = pq.read_table(f"{sf_dir}/{name}.parquet")
        if name == "events":
            i = t.schema.get_field_index("ts")
            t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
        out = tmp_path / f"{name}.parquet"
        out.mkdir()
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), out / "part-00000.parquet")
        pq.write_table(t.slice(half), out / "part-00001.parquet")
    _assert_schemas_match_stock(spark, str(tmp_path))
    assert dict(session._read_parquet(spark, f"{tmp_path}/events.parquet").dtypes)["ts"] == "bigint"
    a, b = table(spark, str(tmp_path), "region"), table(spark, str(tmp_path), "region")
    # two loads are two relations: the self-join matches key to key
    assert a.join(b, a["r_regionkey"] == b["r_regionkey"]).count() == a.count()


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
    assert _cached_schema(spark, str(path)) == df.schema


def test_object_store_path_takes_stock_route(spark, monkeypatch):
    """A non-local URI has no files stamp: every load infers, as stock.
    The reader is stubbed, so nothing is contacted."""
    calls = []
    monkeypatch.setattr(DataFrameReader, "schema", lambda self, s: calls.append(("schema", s)) or self)
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, p: calls.append(("parquet", p)) or p)
    for _ in range(2):
        assert table(spark, "s3a://bucket/sf", "orders") == "s3a://bucket/sf/orders.parquet"
    assert calls == [("parquet", "s3a://bucket/sf/orders.parquet")] * 2
    assert session._files_stamp("s3a://bucket/sf/orders.parquet") is None
    assert (spark.sparkContext.applicationId, "s3a://bucket/sf/orders.parquet") not in session._SCHEMAS
