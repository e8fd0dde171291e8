"""Parquet sink/scan round-trips — reference rows 19/20 (SURVEY.md §2A).

The reference's outputs are overwrite-mode parquet (etl.py:86,120) and
hive-partitioned parquet (partitionBy year/artist_id at etl.py:74,
year/month at etl.py:139-140,173-174). Partitioning by low-cardinality
time columns is exactly right at 100 TB — it is what makes partition
pruning work on every downstream read — so we keep it verbatim.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table


def scratch_dir(name: str) -> str:
    """Deterministic *per-process* scratch path for sink round-trips.

    mkdtemp-per-invocation leaked a fresh orders copy on every bench /
    verify run (ADVICE r1); a fixed per-name path gets rewritten in
    place by overwrite-mode writes instead. The root carries the PID —
    a shared fixed root would let two concurrent processes (bench while
    pytest runs) clobber each other's sink directories mid-read — and
    is removed at interpreter exit, so nothing accumulates either.
    Override the root with SPARK_GRAFT_SCRATCH to pin a location.
    """
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is None:
        root = f"/tmp/uds_scratch_{os.getpid()}"
        _cleanup_at_exit(root)
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    return path


_CLEANUP_REGISTERED: set[str] = set()


def _cleanup_at_exit(root: str) -> None:
    if root in _CLEANUP_REGISTERED:
        return
    import atexit
    import shutil

    _CLEANUP_REGISTERED.add(root)
    atexit.register(shutil.rmtree, root, ignore_errors=True)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    cluster: bool = True,
    num_tasks: int | None = None,
) -> None:
    """Hive-partitioned parquet sink (etl.py:74,139-140,173-174).

    ``cluster=True`` repartitions on the partition columns first, so each
    write task emits a handful of complete partition directories instead
    of every task appending a sliver to every directory. Measured at
    sf0.1: 2-2.7x faster than the naive write AND one file per partition
    instead of (tasks x partitions) slivers — at 100 TB the sliver
    explosion is what kills both the write (commit of millions of files)
    and every later read (small-files problem). ``num_tasks`` fixes the
    clustering shuffle's width; leave None for hash distribution over
    spark.sql.shuffle.partitions. AQE neither coalesces nor skew-splits
    ``repartition(n, cols)``, so a hot partition value stays in one task
    (and one file) whatever ``num_tasks`` is.
    """
    if cluster:
        df = (
            df.repartition(num_tasks, *partition_cols)
            if num_tasks
            else df.repartition(*partition_cols)
        )
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


@register(
    "q_parquet_roundtrip",
    oracle="SELECT * FROM nation",
    doc="Overwrite-mode parquet sink + re-scan (etl.py:86,120 then :185). "
    "The round-trip must reproduce the nation table bit-exactly, so the "
    "oracle is the table itself — a full value-hash check of the sink.",
    tags=("2A.19", "2A.6"),
)
def q_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("roundtrip")
    nat = table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "q_parquet_partitioned",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(year(o_orderdate) AS INT) AS year,
               CAST(month(o_orderdate) AS INT) AS month
        FROM orders WHERE year(o_orderdate) = 1995
    """,
    doc="Hive-partitioned parquet sink (partitionBy year/month, "
    "etl.py:139-140) + partition-pruned re-read: the year=1995 predicate "
    "prunes directories, not rows. Value-hash proven against computing "
    "the same projection directly from the source table.",
    tags=("2A.20",),
)
def q_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("partitioned")
    orders = table(spark, sf_dir, "orders").withColumns(
        {
            "year": F.year("o_orderdate"),
            "month": F.month("o_orderdate"),
        }
    )
    write_partitioned(orders, out, ["year", "month"])
    # explicit schema on the re-read: an empty (pruned-empty) input
    # writes only _SUCCESS, and a schema-less read of a file-less dir is
    # UNABLE_TO_INFER_SCHEMA instead of an empty relation
    back = spark.read.schema(orders.schema).parquet(out)
    return back.filter(F.col("year") == 1995).select(
        "o_orderkey", "o_custkey", "year", "month"
    )


def compact(df: DataFrame, path: str, target_files: int) -> None:
    """Small-files compaction: rewrite a dataset into ``target_files``
    equal-size files. The lake maintenance op — streaming sinks and
    over-parallel writes leave thousands of KB-sized files whose
    per-file open/footer cost dominates scans; compaction restores
    ~128 MB objects. ``repartition`` (round-robin shuffle) gives equal
    sizes; coalesce would skip the shuffle but inherit skew."""
    df.repartition(target_files).write.mode("overwrite").parquet(path)


@register(
    "q_compact_small_files",
    doc="Small-files repair: explode the orders table into 64 tiny "
    "files, compact to 4, re-scan. Row fidelity is the declared check; "
    "the file-count contract (4 data files exactly) is asserted in "
    "tests/test_sources.py.",
    oracle="SELECT * FROM orders",
    tags=("sources",),
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    frag = scratch_dir("frag")
    out = scratch_dir("compact")
    orders = table(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    compact(spark.read.parquet(frag), out, target_files=4)
    return spark.read.parquet(out)


@register(
    "q_schema_evolution",
    doc="Schema evolution on read: two parquet batches with different "
    "schemas (the second adds a column) unify under mergeSchema=true — "
    "old rows surface NULL for the new column. The lake-append pattern "
    "when upstream adds fields; at scale, pin mergeSchema to explicit "
    "maintenance reads (schema merging lists every file's footer).",
    oracle="""
        SELECT *, CAST(NULL AS VARCHAR) AS iso_code FROM nation
        UNION ALL
        SELECT *, upper(substr(n_name, 1, 3)) AS iso_code FROM nation
    """,
    tags=("sources",),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("evolve")
    nat = table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").parquet(out)
    nat.withColumn("iso_code", F.upper(F.substring("n_name", 1, 3))).write.mode(
        "append"
    ).parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out)


def read_parquet_robust(
    spark: SparkSession,
    path: str,
    ignore_corrupt: bool = False,
    ignore_missing: bool = False,
) -> DataFrame:
    """Parquet scan with an explicit corrupt-file policy — the
    operational knob a 100 TB lake needs (truncated multipart uploads,
    torn object-store writes, a crawler's half-written shard).

    Default is STRICT: a corrupt footer fails the job loudly — silent
    data loss is never an acceptable default. ``ignore_corrupt=True``
    opts into skip-and-continue via the per-RELATION datasource option
    (``spark.read.option("ignoreCorruptFiles", ...)``), which since
    SPARK-42388 scopes the policy to this one read — NOT the session-wide
    ``spark.sql.files.ignoreCorruptFiles`` conf, which would silently
    change the semantics of every other scan in the session (the
    config-leak failure mode; same reasoning as the per-query options in
    json_source). Note the skip granularity is the FILE: one bad object
    drops that whole file's rows, so production jobs pair this with a
    row-count audit against the manifest.

    ``ignore_missing=True`` additionally tolerates files DELETED between
    listing and read — the compaction-racing-readers window: a
    compactor that rewrites-then-removes small files while a long scan
    is in flight makes the listed path vanish mid-job. Same
    per-relation scoping, same strict default."""
    return (
        spark.read.option("ignoreCorruptFiles", str(ignore_corrupt).lower())
        .option("ignoreMissingFiles", str(ignore_missing).lower())
        .parquet(path)
    )
