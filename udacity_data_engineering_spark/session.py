"""Session factory + testdata table loading.

Reference parity: session bootstrap (etl.py:26-29) is a plain
``SparkSession.builder...getOrCreate()``; we add the configs a fresh context
needs for the driver's testdata (see SURVEY.md §7.2):

- ``spark.sql.legacy.parquet.nanosAsLong=true``: ``events.parquet`` stores
  ``ts`` as parquet TIMESTAMP(NANOS) which stock Spark refuses to read.
  With the flag the column arrives as int64 nanoseconds and we rebuild the
  timestamp with integer arithmetic (``ts DIV 1000`` — *integer* division;
  nanos ~1.7e18 exceed double's 2^53 exact-integer range, so float division
  would corrupt microseconds).
- UTC session timezone everywhere (deterministic date parts, oracle parity).
- AQE on (runtime coalesce / skew-join handling — the 100 TB posture).

``table`` infers each Parquet table's schema once per application and
reads later loads with it declared (see ``_read_parquet``): stock
inference runs a one-task Spark job per ``spark.read.parquet`` call.

All confs are runtime-settable so they also work on a session we did not
build (the driver hands us its own ``SparkSession``). Only sessions that
``build_session`` launches get the launch-time ones on top, such as the
``file:`` FileSystem that does not fork ``chmod`` (``launch_with_nio_fs``).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from pathlib import Path
from typing import Any, TypeVar
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Confs that are safe (and necessary) to set on an already-running session.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow-batched transfer for scalar Python UDFs (Spark 4): same
    # semantics, ~row-at-a-time pickling removed. The parity UDF path
    # (functions/datetime_fns.py) benefits; builtins remain the fast path.
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
}


#: driver-process cache: the package zip shipped to executors (one per
#: process; sessions started later reuse it via addPyFile's dedup).
_PKG_ARCHIVE: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/PYTHONPATH.

    Arrow kernels (mapInPandas / applyInPandas) pickle module-level
    functions BY REFERENCE, so every worker must import
    ``udacity_data_engineering_spark`` itself. When the driver process
    runs from the repo root the workers inherit that cwd and the import
    works by accident; a driver-owned session started anywhere else dies
    with ModuleNotFoundError inside the first Pandas kernel. Shipping the
    package zip via ``addPyFile`` (executor-side sys.path append) makes
    the contract location-independent — the same mechanism used to
    deploy this engine to a real cluster.
    """
    global _PKG_ARCHIVE
    try:
        sc = spark.sparkContext
        if getattr(sc, "_uds_pkg_shipped", False):
            return
        if _PKG_ARCHIVE is None:
            import tempfile

            pkg_dir = os.path.dirname(os.path.abspath(__file__))
            _PKG_ARCHIVE = shutil.make_archive(
                os.path.join(tempfile.gettempdir(), f"uds_pkg_{os.getpid()}"),
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir=os.path.basename(pkg_dir),
            )
        sc.addPyFile(_PKG_ARCHIVE)
        sc._uds_pkg_shipped = True
    except Exception:  # pragma: no cover - read-only /tmp or locked sc
        pass  # workers may still resolve the package via cwd/PYTHONPATH


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed to read the testdata; idempotent."""
    _ship_package(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked down by host
            pass
    # The UTC session timezone is load-bearing for correctness, not just
    # hygiene: unix_millis(CAST(ts_ntz AS TIMESTAMP)) is the identity only
    # under UTC. If the host locked the conf to a non-UTC zone, timestamps
    # would silently shift — fail loudly instead. Any zero-offset zone id
    # is acceptable (a locked 'Etc/UTC' session normalizes identically).
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if not _is_utc_equivalent(tz):  # pragma: no cover - locked session only
        raise RuntimeError(
            f"spark.sql.session.timeZone is {tz!r}, not UTC-equivalent; the "
            "session rejected the conf set and timestamp normalization "
            "would be silently wrong"
        )
    return spark


def _is_utc_equivalent(tz: str) -> bool:
    """True iff the zone id has a permanent zero UTC offset — resolved via
    the IANA database (covers every alias: Etc/UTC, Etc/GMT+0, GMT0, ...)
    rather than a hand-maintained allowlist."""
    if tz in {"UTC", "Z", "+00:00", "GMT", "UT"}:
        return True
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        return all(
            datetime(y, m, 1, tzinfo=z).utcoffset().total_seconds() == 0
            for y in (1970, 2024)
            for m in (1, 7)  # both halves of the year: no hidden DST
        )
    except Exception:
        return False


# --------------------------------------------------------------------------
# Object-store (S3A) wiring — reference parity for etl.py:12-16,26-29 +
# dl.cfg. The reference exports dl.cfg's [AWS] keys into the environment and
# pulls org.apache.hadoop:hadoop-aws; we map the same credential file onto
# fs.s3a.* confs (builder-time) or the live Hadoop configuration
# (runtime, for a session we did not build).
# --------------------------------------------------------------------------

#: hadoop-aws matching the Hadoop 3.4 line bundled with Spark 4.x.
S3A_PACKAGE = "org.apache.hadoop:hadoop-aws:3.4.1"


def load_credentials(cfg_path: str | None = None) -> dict[str, str]:
    """Read AWS credentials from a dl.cfg-style file, else the environment.

    Mirrors reference etl.py:12-16 (configparser over a ``[AWS]`` section)
    but strips surrounding quotes — the reference's dl.cfg quotes its
    values, which configparser returns verbatim and S3A then rejects.
    Returns possibly-empty strings; callers decide whether anonymous
    access is acceptable.
    """
    import configparser

    creds = {
        "access_key": os.environ.get("AWS_ACCESS_KEY_ID", ""),
        "secret_key": os.environ.get("AWS_SECRET_ACCESS_KEY", ""),
        "session_token": os.environ.get("AWS_SESSION_TOKEN", ""),
    }
    if cfg_path:
        cfg = configparser.ConfigParser()
        if not cfg.read(cfg_path):
            raise FileNotFoundError(f"credentials file not found: {cfg_path}")
        aws = cfg["AWS"] if "AWS" in cfg else cfg["DEFAULT"]

        def clean(v: str) -> str:
            return v.strip().strip("'\"")

        creds["access_key"] = clean(aws.get("AWS_ACCESS_KEY_ID", creds["access_key"]))
        creds["secret_key"] = clean(aws.get("AWS_SECRET_ACCESS_KEY", creds["secret_key"]))
        creds["session_token"] = clean(aws.get("AWS_SESSION_TOKEN", creds["session_token"]))
    return creds


def s3a_confs(
    creds: dict[str, str] | None = None,
    endpoint: str | None = None,
) -> dict[str, str]:
    """``spark.hadoop.fs.s3a.*`` confs for object-store reads/writes.

    Beyond credentials, sets the 100 TB-posture knobs: the magic committer
    (task commit via S3 multipart completion instead of O(data) directory
    renames), fast upload, and a realistic connection pool.
    """
    confs = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.threads.max": "64",
        # Safe cloud-native commit path: no rename-based commit on S3.
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.parquet.output.committer.class": "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        "spark.sql.sources.commitProtocolClass": "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    }
    if creds:
        if creds.get("access_key"):
            confs["spark.hadoop.fs.s3a.access.key"] = creds["access_key"]
        if creds.get("secret_key"):
            confs["spark.hadoop.fs.s3a.secret.key"] = creds["secret_key"]
        if creds.get("session_token"):
            confs["spark.hadoop.fs.s3a.session.token"] = creds["session_token"]
            confs["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
    if endpoint:
        confs["spark.hadoop.fs.s3a.endpoint"] = endpoint
        confs["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return confs


def configure_object_store(
    spark: SparkSession,
    cfg_path: str | None = None,
    endpoint: str | None = None,
) -> SparkSession:
    """Wire S3A credentials into a LIVE session (driver-owned sessions).

    ``spark.hadoop.*`` confs are builder-time only, but the underlying
    Hadoop configuration is mutable at runtime — new filesystem instances
    pick the values up. The hadoop-aws jar itself must already be on the
    classpath (builder-time ``spark.jars.packages``; see build_session).
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for key, value in s3a_confs(load_credentials(cfg_path), endpoint).items():
        if key.startswith("spark.hadoop."):
            hconf.set(key[len("spark.hadoop."):], value)
        else:
            try:
                spark.conf.set(key, value)
            except Exception:  # pragma: no cover - static SQL conf locked
                pass
    return spark


#: The ``file:`` FileSystem of sessions ``build_session`` launches: stock
#: ``LocalFileSystem``, but ``setPermission`` is a chmod(2) inside the JVM,
#: not a forked ``chmod`` process per created file and directory
#: (``jvm/NioLocalFileSystem.java``; rebuild with scripts/build_nio_fs.py).
NIO_FS_CLASS = "udacity_data_engineering_spark.jvm.NioLocalFileSystem"
NIO_FS_JAR = Path(__file__).with_name("jvm") / "nio-local-fs.jar"


def _spark_defaults() -> dict[str, str]:
    """The ``spark-defaults.conf`` the launcher reads (``$SPARK_CONF_DIR``,
    else ``$SPARK_HOME/conf``), one ``key value`` pair a line; empty if
    there is none."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    path = Path(conf_dir) / "spark-defaults.conf"
    if not path.is_file():
        return {}
    lines = (line.strip() for line in path.read_text().splitlines())
    pairs = (re.match(r"([^\s=:]+)\s*[\s=:]\s*(.*)", line) for line in lines
             if line and line[0] not in "#!")
    return {m[1]: m[2] for m in pairs if m}


def launch_with_nio_fs(options: dict[str, str]) -> dict[str, str]:
    """Launch the JVM gateway with the NIO jar; return the builder conf
    that makes ``NIO_FS_CLASS`` the ``file:`` FileSystem.

    If no JVM is running yet, this starts it (``SparkContext``'s gateway,
    not yet a context) with ``options`` plus the jar appended to
    ``spark.driver.defaultExtraClassPath`` as ``spark-defaults.conf``
    sets it. The launcher appends that conf to
    ``spark.driver.extraClassPath``, so a launch that carries its own
    ``--driver-class-path`` keeps it and gets the jar too.
    ``fs.file.impl`` is only set if the class then loads in the driver JVM.
    A JVM that was already running keeps its class path, so one started
    without the jar stays stock.
    """
    from py4j.protocol import Py4JError
    from pyspark import SparkConf, SparkContext

    if SparkContext._gateway is None:
        key = "spark.driver.defaultExtraClassPath"
        class_path = [_spark_defaults().get(key, ""), str(NIO_FS_JAR)]
        launch = {**options, key: os.pathsep.join(filter(None, class_path))}
        SparkContext._ensure_initialized(conf=SparkConf().setAll(launch.items()))
    jvm = SparkContext._jvm
    try:
        jvm.java.lang.Class.forName(
            NIO_FS_CLASS, False, jvm.java.lang.ClassLoader.getSystemClassLoader()
        )
    except Py4JError:
        return {}
    return {"spark.hadoop.fs.file.impl": NIO_FS_CLASS}


def build_session(
    app_name: str = "udacity-data-engineering-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    object_store_cfg: str | None = None,
    s3a_endpoint: str | None = None,
) -> SparkSession:
    """Create a local session tuned for this box (reference: etl.py:26-29).

    ``shuffle_partitions`` defaults to the core count: at local scale the
    stock 200 partitions just add task-scheduling overhead; on a real
    cluster this knob (and AQE coalesce) is sized to the data instead.
    For the same reason the file-listing job that a read of more than 32
    paths runs gets at most one task per core, not one per path (stock
    caps it at 10000). Local-filesystem writes set permissions without
    forking ``chmod`` (``launch_with_nio_fs``, which starts the JVM).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 8
    shuffle_partitions = shuffle_partitions or cpus
    options = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.sources.parallelPartitionDiscovery.parallelism": str(cpus),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.ui.enabled": "false",
        # no `[Stage N:>` bars: scripts on this session log to files
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # catalog-table writes (bucketed tables) land in /tmp, not the
        # repo; per-process dir so stale files from a previous session
        # can't collide with managed-table locations
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_WAREHOUSE_DIR", f"/tmp/uds_warehouse_{os.getpid()}"
        ),
        **RUNTIME_CONFS,
    }
    if object_store_cfg is not None or s3a_endpoint is not None:
        # Reference parity (etl.py:26-29): pull hadoop-aws and wire
        # dl.cfg credentials. Requires network for ivy resolution, so it
        # is strictly opt-in; None/"" object_store_cfg means env creds.
        options["spark.jars.packages"] = S3A_PACKAGE
        options.update(s3a_confs(load_credentials(object_store_cfg or None), s3a_endpoint))
    options.update(launch_with_nio_fs(options))
    builder = SparkSession.builder
    for key, value in options.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing ``events.ts`` to timestamp_ntz.

    The nanos->timestamp rebuild uses integer DIV (exact); the cast to
    TIMESTAMP_NTZ under the UTC session timezone matches how DuckDB (the
    correctness oracle) sees the column, and how the other tables'
    MILLIS/NTZ timestamps already arrive.
    """
    configure(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # FLOOR to micros (DIV truncates toward zero — wrong for pre-1970
        # sub-microsecond nanos), matching how the timestamp[us] vintage
        # would have stored the same instant.
        df = df.withColumn(
            "ts",
            F.expr(
                "CAST(timestamp_micros(ts DIV 1000 + CASE WHEN ts % 1000 < 0 "
                "THEN -1 ELSE 0 END) AS TIMESTAMP_NTZ)"
            ),
        )
    return df


#: Parquet schemas ``_read_parquet`` inferred: (Spark application id,
#: path) -> (files stamp, schema).
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _raise(err: OSError) -> None:
    raise err


def _files_stamp(path: str) -> tuple | None:
    """Sorted ``(path, size, mtime_ns)`` of the local file ``path`` or of
    every file below the local directory ``path`` (a superset of what
    Spark lists: hidden and ``_``-prefixed files count too). None for a
    URI with a scheme (``s3a://``, ``file:``) and for a path that cannot
    be listed or stat'ed: such a path has no stamp."""
    if urlsplit(path).scheme:
        return None
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path, onerror=_raise, followlinks=True):
            for n in names:
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append((f, fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when this
    application has not seen ``path`` with the same files stamp.

    Stock inference runs a one-task Spark job that reads a footer
    (``mergeSchemasInParallel``); a declared schema reads none. The
    first load infers and stores the schema under the files stamp taken
    before it; a later load whose stamp matches reads with
    ``spark.read.schema(s)``. A changed, added or removed file changes
    the stamp and re-infers, and a path without a stamp (a non-local
    URI, an ``OSError``) always infers, as stock. Each call builds a new
    relation, so two loads never share attribute ids."""
    key = (spark.sparkContext.applicationId, path)
    stamp = _files_stamp(path)
    hit = _SCHEMAS.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[key] = (stamp, df.schema)
    return df


T = TypeVar("T")

#: Built-once session state (indexes, lakes): cache name -> FIFO of
#: {(Spark application id, sf_dir): value}. See ``session_cached``.
_SESSION_CACHE: dict[str, dict[tuple[str, str], Any]] = {}


def _release(value: Any) -> None:
    """Best-effort release of an evicted cache value: a ``pathlib.Path``
    is rmtree'd; anything with ``.unpersist()`` is unpersisted; tuple,
    list and dict nestings are walked. Other leaves (model lists, floats)
    are skipped and errors are swallowed — double-unpersist is a Spark
    no-op and a stopped session must not fail the next build."""
    if isinstance(value, Path):
        shutil.rmtree(value, ignore_errors=True)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:
            pass
    elif isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif isinstance(value, dict):
        for v in value.values():
            _release(v)


def session_cached(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]
) -> T:
    """The value ``build()`` returns, built once per (Spark application,
    ``sf_dir``) under cache ``name`` and reused by every later call.

    Indexes and lakes are amortized state — build once, probe per query
    — so repeated queries in one session (bench reps, query plus
    verification) must not rebuild them. Each ``name`` keeps at most 2
    entries (FIFO) so a session touching many sf_dirs cannot pin
    unbounded storage; an evicted value is released (``_release``). The
    build runs before anything is evicted or inserted, so a failed build
    leaves the cache as it was. A value should hold only what its own
    build created: a frame borrowed from another cache entry would be
    unpersisted when this one is evicted."""
    cache = _SESSION_CACHE.setdefault(name, {})
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in cache:
        value = build()
        while len(cache) >= 2:
            _release(cache.pop(next(iter(cache))))
        cache[key] = value
    return cache[key]


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every testdata table; optionally register temp views.

    Temp-view registration mirrors the reference's SQL entry point setup
    (etl.py:149-150 ``createOrReplaceTempView``).
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
