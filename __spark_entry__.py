"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs the
first 50 ``queries()`` entries at sf=0.01 and compares each against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Those 50 are
``registry.driver_window()``, computed from the CORRECTNESS_r*.json
history: six parity anchors, then the oracled queries whose newest green
driver hash is oldest.

All real logic lives in the ``udacity_data_engineering_spark`` package;
this module just exposes its declared-query registry
(udacity_data_engineering_spark/plans/registry.py).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from udacity_data_engineering_spark.plans.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The songplays-analog star join (SURVEY.md §7.1 step 2): fact ⋈ two
    dims with computed year/month + surrogate id + deterministic dedup —
    exercising scan, projection, derived columns, synthetic ids, SQL
    join, and windowed dedup in one plan (etl.py:152-174 analog).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from udacity_data_engineering_spark.plans.registry import all_queries

    base = all_queries()["q_sql_entry"].fn(spark, "/root/testdata/sf0.001")
    w = Window.partitionBy("user_id").orderBy(F.col("amount").desc(), F.col("order_id"))
    return (
        base.withColumn("songplay_id", F.monotonically_increasing_id())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}
