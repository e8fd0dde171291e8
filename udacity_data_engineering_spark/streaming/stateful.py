"""Custom stateful streaming operators — applyInPandasWithState (E14).

For semantics the built-in windowed aggregations can't express (running
per-key accumulators, custom eviction, cross-batch logic), Structured
Streaming's arbitrary-state API is the tool: state lives in the state
store per group, each micro-batch's rows arrive as Arrow-backed pandas
frames, and the kernel decides what to emit and what to keep.

``running_user_totals`` is deliberately simple (cumulative count/sum per
user) so its single-replay result is exactly checkable against a batch
groupBy — the same batch/stream parity discipline as event_stream.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from udacity_data_engineering_spark.streaming.event_stream import (
    record_streaming_plan,
)

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, s double"


def _totals_kernel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user event count + value sum across micro-batches.
    Emits the updated totals for every user seen in the batch (update
    output mode); state is one (long, double) pair per user — constant
    per key, no growth over time."""
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _totals_kernel,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: transformWithState requires the RocksDB state store provider (the
#: default HDFS-backed provider does not implement the new operator's
#: multi-state / timer API). Session conf, read at query start.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class rocksdb_state_scope:
    """Scope the RocksDB state-store provider (required by
    transformWithState) plus changelog checkpointing for one streaming
    run, restoring prior conf values afterwards.

    Changelog checkpointing (public conf, Spark 3.4+) commits each
    micro-batch by uploading only the batch's state CHANGES instead of a
    full RocksDB snapshot per store per batch — snapshots move to a
    background cadence. With S micro-batches over P state partitions the
    per-commit upload work drops from O(S x P x state_size) to
    O(S x P x delta); the production posture for any high-frequency
    trigger, and measurably less per-batch stall even locally
    (optimization round 15, guide §1 measurements in OPTIMIZATION_r15.md).
    """

    CONFS = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }

    def __init__(self, spark):
        self.spark = spark
        self._prev: dict = {}

    def __enter__(self) -> "rocksdb_state_scope":
        for key, value in self.CONFS.items():
            self._prev[key] = self.spark.conf.get(key, None)
            self.spark.conf.set(key, value)
        return self

    def __exit__(self, *exc) -> None:
        for key, prev in self._prev.items():
            if prev is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, prev)


def _vectorized_boot_base():
    """Build — per call, so cloudpickle captures it BY VALUE — a mixin
    whose ``__setstate__`` installs the vectorized TWS serializer patch
    (uds_tws_serializer_patch.py, shipped to workers by
    ensure_tws_runtime via ``sc.addPyFile``) while the kernel is being
    UNPICKLED in the worker. That is the only hook early enough: the
    worker adds python-includes to sys.path, unpickles the UDF
    (read_udfs — where ``__setstate__`` fires), and only then creates
    the serializer's ``load_stream`` generator, so a class-level patch
    applied here reaches the very first micro-batch. A module-level
    mixin would pickle by REFERENCE and break unpickling under the
    external driver, where this package is not importable on workers —
    the same constraint that shapes ensure_tws_runtime itself.

    The patch only changes HOW input chunks are built (sliced from the
    Arrow-backed frame instead of rebuilt row-by-row through
    namedtuples); if the shipped module cannot be imported (e.g. the
    driver-side PRE_INIT worker, which sees no addPyFile includes) or
    refuses to patch an unexpected pyspark, the stock serializer keeps
    running and results are identical either way."""

    class _VectorizedTwsBoot:
        def __getstate__(self):
            state = dict(self.__dict__)
            # never pickle an empty state: pickle skips __setstate__
            # entirely for falsy state, and the bootstrap must run
            state["_uds_tws_boot"] = True
            return state

        def __setstate__(self, state):
            state.pop("_uds_tws_boot", None)
            try:
                import uds_tws_serializer_patch

                uds_tws_serializer_patch.install()
            except Exception:
                pass
            self.__dict__.update(state)

    return _VectorizedTwsBoot


def ensure_tws_runtime(spark) -> bool:
    """Make ``google.protobuf`` importable in the DRIVER and the Python
    WORKERS of an already-running session — the self-provisioning twin
    of tests/conftest.py's pre-JVM PYTHONPATH wiring. Under the external
    driver the JVM is up before any of this repo's code runs, so
    PYTHONPATH mutation can't reach the workers; instead:

    - driver: vendor/protobuf_shim goes on sys.path (bridges to the
      Cloud SDK's bundled pure-Python runtime; no-op where a real
      protobuf is installed);
    - workers: the shim is zipped once and shipped via
      ``sc.addPyFile`` — python-includes land on every worker's
      sys.path at task start, JVM-start-independent;
    - both: PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION=python (os.environ
      for the driver, ``sc.environment`` for workers — the env map new
      PythonFunctions capture) so the SDK's possibly-foreign-ABI C
      extension is never loaded.

    It also ships ``uds_tws_serializer_patch.py``. The kernels'
    ``__setstate__`` hook calls its ``install()``, which patches
    ``TransformWithStateInPandasSerializer`` for the whole worker
    process: every TWS query that process serves gets the vectorized
    load and coalesced dump, not just this package's kernels.
    SPARK_GRAFT_TWS_VECTORIZED=0 / SPARK_GRAFT_TWS_COALESCE=0 in the
    worker environment restore the stock paths.

    Returns False when even the shim has no runtime to bridge to (no
    SDK install) — callers surface that as an actionable error.
    """
    import os
    import sys
    import tempfile
    import zipfile
    from pathlib import Path

    os.environ.setdefault("PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION", "python")
    shim_root = Path(__file__).resolve().parents[2] / "vendor" / "protobuf_shim"
    shim_init = shim_root / "google" / "__init__.py"
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        if not shim_init.exists():
            return False
        sys.path.insert(0, str(shim_root))
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            return False

    sc = spark.sparkContext
    sc.environment["PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION"] = "python"
    if shim_init.exists():
        # TWS also spawns a DRIVER-side python worker (the state-schema
        # exchange server) that never sees addPyFile includes; its
        # PythonWorkerFactory merges the function's envVars PYTHONPATH,
        # which sc.environment feeds — so the shim path must ride there
        # too (same-host in local mode; a real cluster ships the zip via
        # --py-files at submit time instead)
        existing = sc.environment.get("PYTHONPATH", "")
        if str(shim_root) not in existing.split(os.pathsep):
            sc.environment["PYTHONPATH"] = str(shim_root) + (
                os.pathsep + existing if existing else ""
            )
    if shim_init.exists() and not getattr(sc, "_tws_shim_shipped", False):
        zpath = os.path.join(
            tempfile.gettempdir(), f"protobuf_shim_{os.getpid()}.zip"
        )
        with zipfile.ZipFile(zpath, "w") as z:
            z.write(shim_init, "google/__init__.py")
        sc.addPyFile(zpath)
        sc._tws_shim_shipped = True  # addPyFile twice would warn/fail
    # ship the vectorized TWS serializer patch the same way: the worker
    # puts python-includes on sys.path BEFORE unpickling UDFs, so the
    # kernels' __setstate__ bootstrap (_vectorized_boot_base) can import
    # it under its bare name and patch load_stream before the first
    # micro-batch is deserialized (guide §4 — removes the stock
    # per-row itertuples/DataFrame(rows) boundary cost)
    patch_src = Path(__file__).resolve().parent / "uds_tws_serializer_patch.py"
    if patch_src.exists() and not getattr(sc, "_uds_tws_patch_shipped", False):
        sc.addPyFile(str(patch_src))
        sc._uds_tws_patch_shipped = True
    return True


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Same cumulative totals on Spark 4's ``transformWithStateInPandas``
    — the successor arbitrary-state API (SPARK-45939 lineage): named
    state variables on a handle (value/list/map), timers, TTL, and
    initial-state support, over the RocksDB store. One ValueState per
    user here, so state size is constant per key, and the result is
    exactly checkable against the batch groupBy (same parity discipline
    as applyInPandasWithState above).

    Caller must set ``spark.sql.streaming.stateStore.providerClass`` to
    ``ROCKSDB_PROVIDER`` before starting the query. The TWS state-server
    protocol needs ``google.protobuf`` in driver and worker Python envs;
    this container has no protobuf package, so the test env bridges to
    the Cloud SDK's bundled pure-Python runtime (vendor/protobuf_shim,
    wired in tests/conftest.py) and the parity test runs for real.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TotalsProcessor(_vectorized_boot_base(), StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            # one state read: get() returns None when the key has no
            # state, so a separate exists() round-trip to the Python
            # state server would double the read cost per key per batch
            # (every state call is one full RPC — optimization round 16,
            # guide §4 boundary-cost reduction)
            cur = self._totals.get()
            n, s = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
            )

        def close(self) -> None:
            pass

    return events.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def running_user_totals_warmstart_tws(
    events: DataFrame, initial: DataFrame
) -> DataFrame:
    """Cumulative per-user totals CONTINUED from batch-computed initial
    state — transformWithState's initialState surface (the lambda-
    architecture bridge: backfill computes state once as a batch
    aggregate, the stream picks up from there instead of replaying
    history). ``initial`` is one row per user_id with (n, s);
    handleInitialState seeds the ValueState in the first micro-batch,
    then the input path is byte-identical to running_user_totals_tws —
    so the stream's final emission equals the WHOLE-history aggregate
    while having read only the post-cutoff events. State stays one
    (long, double) pair per user."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class WarmTotalsProcessor(_vectorized_boot_base(), StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInitialState(self, key, initialState, timerValues) -> None:
            self._totals.update(
                (int(initialState["n"].iloc[0]), float(initialState["s"].iloc[0]))
            )

        def handleInputRows(self, key, rows, timerValues):
            # single get() — None when absent — instead of exists()+get()
            # (two state-server RPCs per key per batch; round 16, §4)
            cur = self._totals.get()
            n, s = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=WarmTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
            initialState=initial.groupBy("user_id"),
        )
    )


TTL_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, n_events long, sum_value double"
)
TTL_STATE_SCHEMA = "start_us long, last_us long, n long, s double"


def expiring_user_sessions_tws(events: DataFrame, ttl_seconds: int) -> DataFrame:
    """Per-user activity sessions with event-time TTL EVICTION — the
    state-lifecycle surface transformWithState adds over
    applyInPandasWithState (VERDICT r13 item 6): named timers on the
    handle, fired by watermark advance, evicting per-key state for keys
    that go quiet. Without eviction, per-key arbitrary state grows with
    the KEYSPACE forever — the difference between "runs this week" and
    "runs at 100 TB/day with unbounded users".

    Semantics (exactly the gaps-and-islands sessionization, so a batch
    SQL oracle can hash-prove the stream): a user's events belong to one
    session while consecutive event-time gaps are <= ttl; a gap > ttl
    closes the session. A closed session is emitted ONCE as
    (user_id, session_start, n_events, sum_value) and its state freed:

    - input path: within- and across-batch gap splits are detected on
      arrival (state keeps (session_start, last_seen, n, sum)); the
      closed prefix sessions are emitted immediately;
    - timer path: every update re-registers ONE event-time timer at
      ceil(last_seen + ttl) ms; when the watermark passes it with no
      newer events, handleExpiredTimer emits the final session and
      CLEARS the state — the eviction that bounds state by *currently
      active* users, not ever-seen users. (ceil, never floor: a
      truncated timer could fire before a continuation event at gap ==
      ttl arrives and split a genuine session.)

    Requires a watermark on ``ts`` upstream and timeMode="EventTime".
    State per key: 4 scalars + 1 timer, constant.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl_us = int(ttl_seconds) * 1_000_000

    def _session_frame(user_id: int, start_us: int, n: int, s: float) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "n_events": [n],
                "sum_value": [round(s, 2)],
            }
        )

    class SessionProcessor(_vectorized_boot_base(), StatefulProcessor):
        # State-server RPC budget (optimization round 16, guide §4):
        # every ValueState/timer call is one full round-trip to the JVM
        # state server through (here) a pure-Python protobuf runtime, so
        # per-key-per-batch calls are the dominant TWS cost. This kernel
        # holds the invariant "state exists ⟺ exactly one timer at
        # ceil(last + ttl) is registered", which lets it
        # - read state with ONE get() (None ⇒ absent; no exists() call),
        # - DERIVE the previously registered timer from the prior
        #   state's last_us instead of a listTimers() iterator RPC,
        # - skip delete+register entirely when the expiry is unchanged.
        # Was 6 state RPCs per key per batch; now 2-4.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", TTL_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            first = next(rows, None)
            if first is None:
                return
            rest = list(rows)
            pdf = first if not rest else pd.concat([first, *rest], ignore_index=True)
            # event-time order within the batch; ties are gap-0, harmless
            # (stable sort == arrival order on ties, same as sorting an
            # already-monotone frame, so the sort is skippable then)
            if not pdf["ts"].is_monotonic_increasing:
                pdf = pdf.sort_values("ts")
            ts_us = pdf["ts"].astype("int64") // 1000
            vals = pdf["value"].astype("float64")
            cur = self._sess.get()
            if cur is not None:
                start, last, n, s = cur
                prev_timer = -((last + ttl_us) // -1000)  # ceil ms
            else:
                start = None
                prev_timer = None
            for t, v in zip(ts_us, vals):
                t = int(t)
                if start is None:
                    start, last, n, s = t, t, 0, 0.0
                elif t - last > ttl_us:
                    # gap break detected on arrival: close + emit now
                    yield _session_frame(key[0], start, n, s)
                    start, last, n, s = t, t, 0, 0.0
                n += 1
                s += float(v)
                last = max(last, t)
            self._sess.update((start, last, n, s))
            # exactly one live inactivity timer per key, re-registered
            # only when the expiry actually moved
            new_timer = -((last + ttl_us) // -1000)  # ceil ms
            if new_timer != prev_timer:
                if prev_timer is not None:
                    self._handle.deleteTimer(prev_timer)
                self._handle.registerTimer(new_timer)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._sess.get()
            if cur is None:
                return
            start, last, n, s = cur
            yield _session_frame(key[0], start, n, s)
            self._sess.clear()  # the eviction: quiet keys hold no state

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=TTL_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


MAP_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, event_type string, "
    "n_events long, sum_value double"
)
MAP_SESS_SCHEMA = "start_us long, last_us long"


def per_type_session_totals_tws(events: DataFrame, ttl_seconds: int) -> DataFrame:
    """Per-user, per-SESSION, per-EVENT-TYPE totals held in MapState —
    the per-key COLLECTION state surface (VERDICT r14 item 3: ValueState
    + timers were proven in r13/r14; production streams also need maps/
    sets per key — distinct-type accumulators, per-dimension counters —
    which ValueState's single tuple cannot hold without serializing a
    whole collection on every row).

    State per key: ONE MapState (event_type -> (n, sum)) plus one
    ValueState (session_start, last_seen) plus one event-time timer. The
    map is bounded by the number of distinct event types the user emits
    WITHIN a session (domain-bounded, not stream-length-bounded), and
    the whole bundle is evicted when the session closes — so state is
    proportional to currently-active users x their live type sets, the
    same TTL-governed bound as expiring_user_sessions_tws.

    Semantics (deliberately the gaps-and-islands sessionization so a
    batch SQL oracle hash-proves the stream): a session closes after
    ``ttl_seconds`` of event-time inactivity — detected on arrival for
    within/across-batch gaps, by the named event-time timer for streams
    that simply stop. At close, the map is drained: one output row per
    (event_type) entry with the session's start and that type's
    cumulative (count, sum), then MapState.clear() + ValueState.clear()
    free the key entirely.

    Requires a watermark on ``ts`` upstream and timeMode="EventTime".
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl_us = int(ttl_seconds) * 1_000_000

    class TypeMapProcessor(_vectorized_boot_base(), StatefulProcessor):
        # State-server RPC budget (optimization round 16, guide §4): the
        # r15 kernel paid containsKey+getValue+updateValue — THREE state
        # RPCs — per input ROW, plus exists+get+listTimers per key. The
        # MapState is still the cross-batch store (the surface this
        # query exists to prove), but it is now accessed wholesale: ONE
        # chunked iterator() read per key-batch into a local dict, the
        # row loop runs RPC-free against the dict, and only the types
        # touched this batch are written back (updateValue per dirty
        # type; clear+rewrite when a session drained). Timer RPCs follow
        # the same derive-don't-list discipline as SessionProcessor.
        # Was 3·rows + ~6 RPCs per key per batch; now ~3 + dirty_types.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", MAP_SESS_SCHEMA)
            self._types = handle.getMapState(
                "types", "event_type string", "n long, s double"
            )

        @staticmethod
        def _emit(user_id: int, start_us: int, counts: dict) -> pd.DataFrame:
            entries = sorted(counts.items())
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(entries),
                    "session_start": [pd.Timestamp(start_us, unit="us")]
                    * len(entries),
                    "event_type": [typ for typ, _ in entries],
                    "n_events": [nv[0] for _, nv in entries],
                    "sum_value": [round(nv[1], 2) for _, nv in entries],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            first = next(rows, None)
            if first is None:
                return
            rest = list(rows)
            pdf = first if not rest else pd.concat([first, *rest], ignore_index=True)
            if not pdf["ts"].is_monotonic_increasing:
                pdf = pdf.sort_values("ts")
            ts_us = pdf["ts"].astype("int64") // 1000
            cur = self._sess.get()
            if cur is not None:
                start, last = cur
                prev_timer = -((last + ttl_us) // -1000)  # ceil ms
                # whole live map in one chunked read; entries are bounded
                # by the session's distinct event types (domain-bounded)
                counts = {k[0]: (v[0], v[1]) for k, v in self._types.iterator()}
                had_stored = bool(counts)
            else:
                start = None
                prev_timer = None
                counts = {}
                had_stored = False
            drained = False
            touched: set = set()
            for t, typ, v in zip(
                ts_us, pdf["event_type"], pdf["value"].astype("float64")
            ):
                t = int(t)
                if start is None:
                    start, last = t, t
                elif t - last > ttl_us:
                    # gap break on arrival: drain locally, emit, restart
                    yield self._emit(key[0], start, counts)
                    counts = {}
                    touched = set()
                    drained = True
                    start, last = t, t
                c = counts.get(typ, (0, 0.0))
                counts[typ] = (c[0] + 1, c[1] + float(v))
                touched.add(typ)
                last = max(last, t)
            self._sess.update((start, last))
            if drained and had_stored:
                self._types.clear()
            for typ in touched:
                self._types.updateValue((typ,), counts[typ])
            new_timer = -((last + ttl_us) // -1000)  # ceil ms
            if new_timer != prev_timer:
                if prev_timer is not None:
                    self._handle.deleteTimer(prev_timer)
                self._handle.registerTimer(new_timer)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._sess.get()
            if cur is None:
                return
            start, _last = cur
            counts = {k[0]: (v[0], v[1]) for k, v in self._types.iterator()}
            yield self._emit(key[0], start, counts)
            self._types.clear()
            self._sess.clear()  # the eviction: quiet keys hold no state

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=TypeMapProcessor(),
            outputStructType=MAP_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


LIST_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, pos int, event_type string, "
    "ts timestamp"
)
#: FirstKProcessor's session ValueState: (start, last) plus the buffered
#: entry COUNT — carrying n_buf here lets each batch know whether the
#: K-prefix is full without iterating the ListState (one iterator RPC
#: per key per batch saved; round-16 §4). The ListState remains the
#: buffer of record — n_buf is derivable bookkeeping, never payload.
LIST_SESS_SCHEMA = "start_us long, last_us long, n_buf int"


def session_first_k_tws(events: DataFrame, ttl_seconds: int, k: int) -> DataFrame:
    """First-K events of each user session buffered in ListState — the
    third and last arbitrary-state type (ValueState r13/14, MapState
    r15, THIS = ListState), completing the transformWithState surface: a
    bounded ordered buffer per key, the shape behind "first K actions of
    every session" onboarding/abandonment analyses and any
    sample-the-prefix telemetry.

    State per key: ONE ListState holding at most ``k`` (ts_us, event_id,
    event_type) entries plus the session ValueState and one event-time
    timer — bounded by K, not by stream length. The buffer drains at
    session close (arrival gap or TTL timer): one output row per entry
    with its 1-based position, then ListState.clear() frees the key.

    Exactness contract (what makes the stream hash-provable): rows are
    processed in (ts, event_id) order within each micro-batch, the feed
    is strictly time-ordered across batches, and equal timestamps land
    in the same batch by construction (the feed buckets on ts), so the
    buffered prefix is exactly the SQL ``row_number() OVER (PARTITION BY
    user, session ORDER BY ts, event_id) <= k``.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl_us = int(ttl_seconds) * 1_000_000

    class FirstKProcessor(_vectorized_boot_base(), StatefulProcessor):
        # State-server RPC budget (optimization round 16, guide §4): the
        # r15 kernel iterated the whole ListState every batch just to
        # count it, and appendValue'd one RPC per buffered row. The
        # ListState remains the buffer of record, but the session
        # ValueState now carries n_buf (LIST_SESS_SCHEMA), batch
        # appends go through ONE appendList call, and the list is read
        # back only when a session actually drains. Timer RPCs follow
        # the same derive-don't-list discipline as SessionProcessor.
        # Was ~(5 + buffered_rows) RPCs per key per batch; now 2-5.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", LIST_SESS_SCHEMA)
            self._buf = handle.getListState(
                "buf", "ts_us long, event_id long, event_type string"
            )

        @staticmethod
        def _frame(user_id: int, start_us: int, entries: list) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(entries),
                    "session_start": [pd.Timestamp(start_us, unit="us")]
                    * len(entries),
                    "pos": list(range(1, len(entries) + 1)),
                    "event_type": [e[2] for e in entries],
                    "ts": [pd.Timestamp(e[0], unit="us") for e in entries],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            first = next(rows, None)
            if first is None:
                return
            rest = list(rows)
            pdf = first if not rest else pd.concat([first, *rest], ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = pdf["ts"].astype("int64") // 1000
            cur = self._sess.get()
            if cur is not None:
                start, last, stored = cur
                prev_timer = -((last + ttl_us) // -1000)  # ceil ms
            else:
                start, stored = None, 0
                prev_timer = None
            pending: list = []  # this batch's appends, flushed once below
            n_buf = stored
            for t, eid, typ in zip(ts_us, pdf["event_id"], pdf["event_type"]):
                t = int(t)
                if start is None:
                    start, last = t, t
                elif t - last > ttl_us:
                    # drain = stored prefix (read only now) + this
                    # batch's pending entries, in arrival order
                    entries = (list(self._buf.get()) if stored else []) + pending
                    yield self._frame(key[0], start, entries)
                    if stored:
                        self._buf.clear()
                    start, last, stored, n_buf = t, t, 0, 0
                    pending = []
                if n_buf < k:
                    pending.append((t, int(eid), typ))
                    n_buf += 1
                last = max(last, t)
            self._sess.update((start, last, n_buf))
            if pending:
                self._buf.appendList(pending)
            new_timer = -((last + ttl_us) // -1000)  # ceil ms
            if new_timer != prev_timer:
                if prev_timer is not None:
                    self._handle.deleteTimer(prev_timer)
                self._handle.registerTimer(new_timer)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._sess.get()
            if cur is None:
                return
            start, _last, _n_buf = cur
            entries = list(self._buf.get())  # already in arrival order
            yield self._frame(key[0], start, entries)
            self._buf.clear()
            self._sess.clear()

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=FirstKProcessor(),
            outputStructType=LIST_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


def write_stream_parquet(
    stream_df: DataFrame, out_path: str, checkpoint: str
) -> None:
    """foreachBatch parquet sink, idempotent under replay: each batch
    writes into its own batch_id= partition with dynamic partition
    overwrite, so a batch re-delivered after a crash-before-checkpoint
    replaces its partition instead of appending duplicates. The pattern
    for sinks Spark lacks a native streaming writer for (JDBC, upsert
    targets, ...)."""
    import pyspark.sql.functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").parquet(out_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_streaming_plan("write_stream_parquet", q)


def stream_merge_into(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint: str,
    order_col: str | None = None,
) -> None:
    """Streaming CDC upsert: foreachBatch + etl.upsert.merge_into.

    Each micro-batch merges last-writer-wins into the parquet target
    (anti-join + union + staged swap). With ``order_col`` naming a
    monotonically increasing change column, updates already older than
    the target row are dropped BEFORE merging — so a re-delivered or
    out-of-order batch can never regress a key, and replaying any subset
    of batches in any order converges to the same target (true CDC
    idempotency, not just in-order replay). The parquet-native stand-in
    for MERGE INTO a transactional table — at scale, partition the
    target and merge only affected partitions (see etl/upsert.py).
    """
    from pyspark.sql import functions as F

    from udacity_data_engineering_spark.etl.upsert import merge_into

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        updates = batch_df
        if order_col is not None:
            current = (
                batch_df.sparkSession.read.parquet(target_path)
                .groupBy(*key_cols)
                .agg(F.max(order_col).alias("__cur"))
            )
            updates = (
                updates.join(current, key_cols, "left")
                .filter(F.col("__cur").isNull() | (F.col(order_col) >= F.col("__cur")))
                .drop("__cur")
            )
            if updates.isEmpty():
                return
        merge_into(
            updates.sparkSession,
            target_path,
            updates,
            key_cols,
            order_col=order_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_streaming_plan("stream_merge_into", q)
