"""Structured Streaming execution of the event-time operators — E14
(SURVEY.md §2B).

The reference is batch-only (SURVEY §1.1); this is the charter-mandated
streaming extension. Design rule: the *same expressions* used by the
batch operators (operators/windows.py ``F.window`` / ``F.session_window``
aggregations) run here under ``readStream`` — batch/stream parity holds
by construction, and tests/test_streaming.py asserts it by executing both
paths over the same files.

Late data: ``withWatermark`` bounds state; events older than the
watermark are dropped at the aggregation. In ``availableNow`` replays
(as used in tests) nothing is late, so parity with batch is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineering_spark.session import configure

#: When set (scripts/plan_audit.py, via capture_streaming_plans), every
#: executed streaming query records its last micro-batch physical plan
#: here as (label, explainInternal) — the hook that lets the registry-
#: wide plan audit cover streaming queries instead of skipping them
#: (VERDICT r13 item 5). None in normal operation: zero overhead.
_STREAM_PLAN_CAPTURE: list[tuple[str, str]] | None = None


def record_streaming_plan(label: str, query) -> None:
    """Record a (terminated or running) StreamingQuery's most recent
    micro-batch plan when plan capture is active. explainInternal works
    after termination — the query object retains its lastExecution."""
    if _STREAM_PLAN_CAPTURE is not None:
        _STREAM_PLAN_CAPTURE.append((label, query._jsq.explainInternal(True)))


class capture_streaming_plans:
    """Context manager enabling micro-batch plan capture; yields the
    list the plans land in."""

    def __enter__(self) -> list[tuple[str, str]]:
        global _STREAM_PLAN_CAPTURE
        self._prev = _STREAM_PLAN_CAPTURE
        _STREAM_PLAN_CAPTURE = []
        return _STREAM_PLAN_CAPTURE

    def __exit__(self, *exc) -> None:
        global _STREAM_PLAN_CAPTURE
        _STREAM_PLAN_CAPTURE = self._prev


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


#: Declared schema for the events stream — file streams require one
#: (schema inference is off in production streaming, and at 100 TB you
#: never want it anyway). Legacy vintage: ``ts`` as int64 nanos via the
#: nanosAsLong shim (SURVEY §7.2).
EVENTS_RAW_SCHEMA = _events_schema(T.LongType())

#: Current vintage: ``ts`` stored as parquet TIMESTAMP(MICROS), surfacing
#: as timestamp_ntz.
EVENTS_RAW_SCHEMA_TS = _events_schema(T.TimestampNTZType())


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    ignore_corrupt: bool = False,
    ignore_missing: bool = False,
) -> DataFrame:
    """File-based event stream: each parquet file under ``path`` is a
    micro-batch input. Same ts normalization as the batch loader
    (session.table), so downstream expressions are shared verbatim.

    ``max_files_per_trigger`` is the ingestion rate control — at
    100 TB/day a backlogged source must NOT arrive as one giant
    micro-batch (state-store pressure, straggler batches, watermark
    stalls); bounding files-per-trigger keeps each batch shuffle-sized.
    AvailableNow replays honor it too: the backfill runs as many bounded
    batches instead of one unbounded one.

    The declared schema follows the testdata vintage (int64-nanos vs
    timestamp[us]), detected by reading ONE parquet footer driver-side —
    not a batch spark.read over the directory, which would list every
    file twice (once for the peek, once for the stream source: O(files)
    doubled driver work on a 100 TB backlog). An empty source directory
    (the normal start-stream-then-files-arrive pattern) has no footer to
    peek; it gets the current vintage's declared schema, preserving the
    file-stream invariant that no data need exist at stream definition.
    A nonexistent path still fails loudly (it is a config error, not an
    empty source)."""
    configure(spark)
    ts_dtype = _peek_ts_dtype(path, spark=spark)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # same per-relation corrupt/missing-file policy as the batch side
    # (sources.parquet_source.read_parquet_robust): STRICT by default —
    # a torn upload or a file deleted after listing kills the query
    # loudly; long-running ingest jobs that must outlive object-store
    # hiccups opt in, and the option scopes to THIS source, never the
    # session
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    if ignore_missing:
        reader = reader.option("ignoreMissingFiles", "true")
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the wall-clock values match the batch loader's NTZ — outputs cast
    # back to NTZ below for exact batch parity
    if ts_dtype == "bigint":
        raw = reader.schema(EVENTS_RAW_SCHEMA).parquet(path)
        # FLOOR to micros (DIV truncates toward zero — wrong for pre-1970
        # sub-microsecond nanos), matching session.table's batch loader
        return raw.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(ts DIV 1000 + CASE WHEN ts % 1000 < 0 "
                "THEN -1 ELSE 0 END)"
            ),
        )
    if ts_dtype in ("timestamp", "timestamp_ntz"):
        raw = reader.schema(EVENTS_RAW_SCHEMA_TS).parquet(path)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts has unexpected dtype {ts_dtype!r}; known vintages are "
        "int64 nanos (bigint via nanosAsLong) and timestamp[us]"
    )


def _peek_ts_dtype(path: str, spark: SparkSession | None = None) -> str:
    """Spark-equivalent dtype of ``ts`` from the first parquet footer under
    ``path`` (one footer read, no directory-wide batch scan). Recurses into
    partitioned subdirectories; strips a ``file:`` URI scheme. Remote URI
    schemes (s3a://, hdfs://, or a file:// with a real authority) are
    peeked through the JVM's Hadoop FileSystem when ``spark`` is passed
    (_peek_ts_dtype_hadoop — stream_events always passes it); without a
    session they raise a clear error rather than silently defaulting.
    Empty directory -> 'timestamp_ntz' (current vintage); missing path
    raises."""
    import os

    import pyarrow.parquet as pq

    if path.startswith("file:"):
        # file:/p, file:///p -> /p ; file://HOST/p carries an authority —
        # only the local-loopback forms are peekable via the os.walk fast
        # path (stripping the host into a path component would silently
        # walk the wrong directory); other authorities go through Hadoop
        stripped = path[5:]
        if stripped.startswith("//"):
            host, _, rest = stripped[2:].partition("/")
            if host not in ("", "localhost"):
                if spark is not None:
                    return _peek_ts_dtype_hadoop(spark, path)
                raise ValueError(
                    f"_peek_ts_dtype cannot read a footer from remote "
                    f"file URI {path!r} (authority {host!r})"
                )
            stripped = "/" + rest
        path = stripped
    if "://" in path:
        if spark is not None:
            return _peek_ts_dtype_hadoop(spark, path)
        raise ValueError(
            f"_peek_ts_dtype cannot read a footer from non-local path "
            f"{path!r}; pass ts_dtype explicitly or a SparkSession for "
            f"remote filesystems"
        )
    if not os.path.isdir(path):
        # os.walk on a missing path silently yields NOTHING — preserve
        # the fail-loudly contract the pre-recursive scandir had: a
        # nonexistent stream source is a config error, not an empty dir
        raise FileNotFoundError(
            f"events stream path does not exist: {path!r}"
        )

    first = None
    for dirpath, dirnames, filenames in os.walk(path):
        # prune hidden/commit-protocol dirs (_temporary, .staging, ...):
        # an in-progress writer's uncommitted task file must never be the
        # schema source
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        hit = sorted(
            f for f in filenames
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if hit:
            first = os.path.join(dirpath, hit[0])
            break
    if first is None:
        return "timestamp_ntz"
    t = pq.read_schema(first).field("ts").type
    import pyarrow as pa

    # nanosAsLong surfaces any TIMESTAMP(NANOS) — tz-aware or not — as int64
    if t == pa.int64() or (pa.types.is_timestamp(t) and t.unit == "ns"):
        return "bigint"
    if pa.types.is_timestamp(t):
        return "timestamp_ntz"
    return str(t)


def _peek_ts_dtype_hadoop(spark: SparkSession, path: str) -> str:
    """Remote-filesystem vintage peek via the JVM gateway's Hadoop
    FileSystem (round-6; closes the round-5 fail-loud stopgap): find ONE
    committed parquet file with an iterative listing — pruning hidden /
    commit-protocol entries exactly like the local os.walk — then
    resolve the schema of just that file with a single-file batch read.
    Driver cost is O(one directory level listed per descent + one
    footer), never a directory-wide scan of a 100 TB backlog; any
    Hadoop-supported scheme (s3a://, hdfs://, abfss://, file://HOST)
    works wherever its connector is on the classpath. Requires
    configure(spark) to have run so a NANOS footer surfaces as bigint
    (the nanosAsLong shim), matching the local peek's classification."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise FileNotFoundError(f"events stream path does not exist: {path!r}")

    def _visible(name: str) -> bool:
        return not name.startswith(("_", "."))

    first = None
    stack = [jpath]
    while stack and first is None:
        # ONE pass over the listing, extracting (name, isFile, Path) per
        # entry exactly once — py4j charges a JVM round-trip per method
        # call, so re-touching each FileStatus in several comprehensions
        # multiplies driver stall on a wide directory. The sort happens
        # on the extracted Python strings. A directory listing is
        # inherently O(entries); the "one footer" claim is about footer
        # READS, and a production layout points the stream at a leaf
        # partition, not a 100k-file flat dir.
        entries = sorted(
            (s.getPath().getName(), s.isFile(), s.getPath())
            for s in fs.listStatus(stack.pop(0))
        )
        hit = [
            p
            for name, is_file, p in entries
            if is_file and name.endswith(".parquet") and _visible(name)
        ]
        if hit:
            first = hit[0]
            break
        stack = [
            p for name, is_file, p in entries if not is_file and _visible(name)
        ] + stack
    if first is None:
        return "timestamp_ntz"  # empty source: current vintage, like local
    schema = spark.read.parquet(first.toString()).schema
    if "ts" not in schema.fieldNames():
        # match the local peek's fail-loud style: a committed file with
        # no ts column is a malformed source, and the clear error names
        # the offending file instead of surfacing a bare KeyError
        raise TypeError(
            f"events stream vintage peek: parquet file "
            f"{first.toString()!r} has no 'ts' column "
            f"(fields: {schema.fieldNames()})"
        )
    dtype = schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return "bigint"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp_ntz"
    return dtype.simpleString()


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) event-time aggregate with a
    late-data bound — the streaming execution of q_tumbling_agg /
    q_sliding_window (operators/windows.py)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregate (merging interval state) — the streaming
    execution of q_session_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


#: Staged feed bytes per shuffle/state partition of a bounded replay.
STATE_PARTITION_BYTES = 64 << 20


def feed_state_partitions(spark: SparkSession, feed_dir: str) -> int:
    """Scale-ADAPTIVE shuffle/state partition count for a staged bounded
    feed (optimization guide §2: derive partitioning from input size, not
    a constant tuned for either local mode or the cluster).

    Stateful streaming operators pin one state store per shuffle
    partition at the first micro-batch, and AQE's partition coalescing
    does NOT apply to stateful streaming plans — so a session default
    sized for batch work (e.g. one per core) makes every micro-batch
    open/commit that many state stores (RocksDB instances, Python
    state-server round-trips for transformWithState) regardless of data
    volume. This is the streaming analog of AQE's advisory sizing: one
    partition per ``STATE_PARTITION_BYTES`` of staged feed (files whose
    names start with ``_`` or ``.`` not counted), floored at 1 and capped
    at the session's configured ``spark.sql.shuffle.partitions`` (a
    100 TB feed keeps the cluster's setting; a KB-scale replay gets 1).
    Remote feed URIs (not os.walk-able) return the session setting
    unchanged."""
    import os as _os

    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if "://" in feed_dir or not _os.path.isdir(feed_dir):
        return cur
    size = 0
    for dirpath, _dirnames, filenames in _os.walk(feed_dir):
        for fn in filenames:
            if not fn.startswith(("_", ".")):
                try:
                    size += _os.path.getsize(_os.path.join(dirpath, fn))
                except OSError:
                    pass
    return max(1, min(cur, -(-size // STATE_PARTITION_BYTES)))


class scoped_shuffle_partitions:
    """Set ``spark.sql.shuffle.partitions`` for the duration of one
    streaming run and restore it afterwards — the conf is read at query
    start to size the state-store layout, and these declared queries
    always start from a fresh checkpoint, so the scoped value never
    conflicts with a pinned prior layout."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int):
        self.spark = spark
        self.n = int(n)
        self._prev: str | None = None

    def __enter__(self) -> "scoped_shuffle_partitions":
        self._prev = self.spark.conf.get(self.KEY, None)
        self.spark.conf.set(self.KEY, str(self.n))
        return self

    def __exit__(self, *exc) -> None:
        if self._prev is None:
            self.spark.conf.unset(self.KEY)
        else:
            self.spark.conf.set(self.KEY, self._prev)


def run_available_now(
    stream_df: DataFrame,
    sink_table: str,
    checkpoint: str,
    output_mode: str = "complete",
) -> None:
    """Execute a streaming query over all currently-available input
    (Trigger.AvailableNow), write results to an in-memory sink table,
    and block until done. ``output_mode`` must match the stream's shape:
    'complete' for full aggregations (the default), 'update' for
    stateful operators, 'append' for watermarked joins/projections.
    The replay path used by tests and by batch-backfill jobs; a
    production deployment points the same DataFrame at a kafka/delta
    sink with a real trigger instead."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_streaming_plan(sink_table, q)


def deduped_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming ingest dedup: drop redelivered events (same event_id)
    arriving within the watermark of each other —
    ``dropDuplicatesWithinWatermark``, the exactly-once repair for
    at-least-once sources (kafka redelivery, file-replay overlap).

    Unlike streaming ``dropDuplicates``, state for a key is evicted once
    the watermark passes it, so state size is bounded by the watermark
    window's event volume, not the corpus — the property that keeps this
    runnable forever at 100 TB/day. Append output mode."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
