"""The benchmark workloads.

Each workload stresses a layer the others leave idle:

- ``sparkify_etl``: the paper's program (JSON in, partitioned Parquet
  star schema out). Write-heavy, small-file listing, schema inference;
  no Python boundary, little driver planning.
- ``llm_curation``: a computed sample of the registry queries whose plans
  cross the Python boundary (Arrow UDFs, ``mapInPandas``,
  ``applyInPandas``, ...) or that are E11/E12 dedup and ANN/PQ queries:
  the ANN/PQ probes and one member per plan kind. Reads Parquet, writes
  nothing. The IVF/PQ indexes are built during set-up, so passes measure
  probes, not builds.
- ``stateful_stream``: a time-ordered event feed consumed by the two
  transformWithState operators through ``run_available_now`` — the only
  workload that reaches the streaming layer (trigger phases, state-server
  RPCs, the state store). It is not in ``BENCHMARK.json``: a run costs
  about 45 s (cold JVM, warm pass, one 10 s pass at the per-trigger
  floor), and the benchmark's total time budget does not fit a third
  workload at steady spreads. Run it by hand with
  ``--workload stateful_stream``.

A pass is one closed-loop iteration with one client: the next job starts
only after the previous one returned.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from inputs import InputStats, rewrite_tables, write_events, write_sparkify

HERE = Path(__file__).resolve().parent
MEMBERSHIP = HERE / "membership.json"
PKG = "udacity_data_engineering_spark."

#: A physical-plan node that runs Python: ArrowEvalPython, BatchEvalPython
#: (UDTF too), MapInPandas, FlatMapGroupsInPandas, ArrowAggregatePython,
#: the Python data source scan, ...
PYTHON_NODE = re.compile(r"\b[A-Za-z]*(?:Python|Pandas)[A-Za-z]*\b")


def short_module(fn) -> str:
    return fn.__module__.removeprefix(PKG)


def python_node(df) -> str | None:
    """Name of the first Python-running node in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = PYTHON_NODE.search(plan)
    return m.group(0) if m else None


def names_sha256(names) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()


def name_hash(name: str) -> str:
    """Seed-independent order for sampling members, so every seed times
    the same jobs."""
    return hashlib.sha256(name.encode()).hexdigest()


@dataclass
class Job:
    """One timed unit of a pass: a query, an ETL stage or a micro-batch."""

    name: str
    module: str
    seconds: float


@dataclass
class PassResult:
    jobs: list[Job] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    stream_run_ids: list[str] = field(default_factory=list)
    #: (data files, bytes) the pass left on disk: the ETL output or the
    #: stream checkpoints
    written: tuple[int, int] = (0, 0)


class Context:
    """What a workload needs from the runner: the live session, the
    tracer, a private work directory and the seed."""

    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden and
    checksum files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _duck_compare(spark_rows, spark_cols, con, sql) -> list[str]:
    from udacity_data_engineering_spark.testing import compare, oracle_type_problems

    rel = con.sql(sql)
    return oracle_type_problems(rel.columns, rel.types) + compare(
        spark_rows, spark_cols, rel.fetchall(), rel.columns
    )


# --------------------------------------------------------------------------
# sparkify_etl
# --------------------------------------------------------------------------


class SparkifyEtl:
    name = "sparkify_etl"
    #: a pass is a few seconds; the JVM's CPU time per pass settles only
    #: by the fourth
    warm_passes = 4

    def setup(self, ctx: Context) -> InputStats:
        self.root = root = ctx.work / "sparkify-in"
        self.inputs = write_sparkify(root, ctx.seed)
        self.out = ctx.work / "sparkify-out"
        return self.inputs.stats

    def prepare_checks(self, ctx: Context) -> None:
        from udacity_data_engineering_spark.plans.registry import all_queries
        from udacity_data_engineering_spark.sources.json_source import FIXTURES

        # the q_sparkify_songplays_nat oracle, pointed at the generated JSON
        self.songplays_sql = all_queries()["q_sparkify_songplays_nat"].oracle.replace(
            str(FIXTURES), str(self.root)
        )
        self.con = duckdb.connect()

    def instrument(self, ctx: Context) -> None:
        """Stage timing in every run; module spans only in traced runs."""
        from udacity_data_engineering_spark.etl import sparkify

        self.stage_times: list[Job] = []
        for attr in ("process_song_data", "process_log_data"):
            inner = getattr(sparkify, attr)

            def timed(*a, _inner=inner, _attr=attr, **kw):
                t0 = time.perf_counter()
                with ctx.tracer.span("etl.sparkify", _attr):
                    out = _inner(*a, **kw)
                self.stage_times.append(Job(_attr, "etl.sparkify", time.perf_counter() - t0))
                return out

            setattr(sparkify, attr, timed)
        if ctx.tracer.enabled:
            ctx.tracer.wrap(sparkify, "read_song_data", "sources.json_source")
            ctx.tracer.wrap(sparkify, "read_log_data", "sources.json_source")
            ctx.tracer.wrap(sparkify, "write_partitioned", "sources.parquet_source")
            ctx.tracer.wrap(sparkify, "epoch_ms_to_ts", "functions.datetime_fns")

    def run_pass(self, ctx: Context) -> PassResult:
        from udacity_data_engineering_spark.etl import sparkify

        shutil.rmtree(self.out, ignore_errors=True)
        self.stage_times = []
        t0 = time.perf_counter()
        with ctx.tracer.span("etl.sparkify", "run"):
            counts = sparkify.run(ctx.spark, self.inputs.song_glob, self.inputs.log_glob, str(self.out))
        total = time.perf_counter() - t0
        check = total - sum(j.seconds for j in self.stage_times)
        res = PassResult(jobs=[*self.stage_times, Job("check", "etl.sparkify", check)])
        res.outputs["counts"] = counts
        return res

    def check(self, ctx: Context, res: PassResult) -> None:
        counts = res.outputs["counts"]
        for table, want in self.inputs.expected.items():
            if counts.get(table) != want:
                res.failures.append(f"{table}: {counts.get(table)} rows, expected {want}")
        plays = ctx.spark.read.parquet(str(self.out / "songplays")).drop("songplay_id")
        problems = _duck_compare(plays.collect(), plays.columns, self.con, self.songplays_sql)
        if problems:
            res.failures.append("songplays: " + "; ".join(problems))
        res.written = dir_bytes(self.out)


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class LlmCuration:
    """A fixed sample of the computed registry membership, run over a
    seeded rewrite of the base tables. Each query is timed through the
    ``noop`` sink; the check then collects its rows in a second, untimed
    run:
    oracled queries are compared with DuckDB, rows-only queries must
    return rows with the same value hash on every pass."""

    name = "llm_curation"
    warm_passes = 1

    #: the first call of this query builds both session-cached indexes
    #: (IVF lists and PQ codebooks with the encoded corpus)
    INDEX_FILL = "q_ivfpq_topk"

    def __init__(self):
        membership = json.loads(MEMBERSHIP.read_text())
        self.python_nodes = membership["python_nodes"]
        self.sample = membership[self.name]["sample"]

    def setup(self, ctx: Context) -> InputStats:
        """Rewrite the tables, then fill the IVF and PQ index caches, which
        every later ANN/PQ query of the session probes."""
        from udacity_data_engineering_spark.plans.registry import all_queries

        self.sf_dir = ctx.work / "tables"
        stats = rewrite_tables(self.sf_dir, ctx.seed, TABLES)
        q = all_queries()[self.INDEX_FILL]
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.registry", q.name):
            df = q.fn(ctx.spark, str(self.sf_dir))
        with ctx.tracer.span(short_module(q.fn), q.name):
            df.write.format("noop").mode("overwrite").save()
        self.index_build_s = time.perf_counter() - t0
        return stats

    def prepare_checks(self, ctx: Context) -> None:
        import sys

        from udacity_data_engineering_spark.plans.registry import all_queries

        registry = all_queries()
        for n in self.sample:
            if n not in registry:
                print(f"membership drift: {n} is no longer registered", file=sys.stderr)
        self.queries = [registry[n] for n in self.sample if n in registry]
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet/*.parquet')"
            )
        self.oracle = {}
        for q in self.queries:
            if q.oracle:
                rel = self.con.sql(q.oracle)
                self.oracle[q.name] = (rel.columns, rel.types, rel.fetchall())
        self.rows_hash: dict[str, str] = {}
        self.drift_checked = False

    def instrument(self, ctx: Context) -> None:
        pass

    def run_pass(self, ctx: Context) -> PassResult:
        res = PassResult()
        sf = str(self.sf_dir)
        for q in self.queries:
            module = short_module(q.fn)
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("plans.registry", q.name):
                    df = q.fn(ctx.spark, sf)
                with ctx.tracer.span(module, q.name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed query is a failed job
                res.failures.append(f"{q.name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            res.jobs.append(Job(q.name, module, time.perf_counter() - t0))
            res.outputs[q.name] = df
        return res

    def check(self, ctx: Context, res: PassResult) -> None:
        import sys

        from udacity_data_engineering_spark.testing import compare, oracle_type_problems, row_multiset

        for name, df in res.outputs.items():
            try:
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a query that fails its re-run fails its check
                res.failures.append(f"{name}: check: {type(e).__name__}: {str(e)[:300]}")
                continue
            cols = df.columns
            if not self.drift_checked:
                self._check_membership(name, df, sys.stderr)
            if name in self.oracle:
                ocols, otypes, orows = self.oracle[name]
                problems = oracle_type_problems(ocols, otypes) + compare(rows, cols, orows, ocols)
            elif not rows:
                problems = ["rows-only query returned no rows"]
            else:
                h = hashlib.sha256(
                    repr(sorted(row_multiset([tuple(r) for r in rows], cols).items())).encode()
                ).hexdigest()
                problems = [] if self.rows_hash.setdefault(name, h) == h else ["value hash changed between passes"]
            if problems:
                res.failures.append(f"{name}: " + "; ".join(problems))
        self.drift_checked = True
        res.outputs.clear()

    def _check_membership(self, name, df, err) -> None:
        """Report (on stderr) a member whose plan no longer matches the rule
        it was admitted under; re-run ``--census`` to recompute the list."""
        node = python_node(df)
        recorded = self.python_nodes.get(name)
        if bool(node) != bool(recorded):
            print(f"membership drift: {name} Python node {recorded} -> {node}", file=err)


# --------------------------------------------------------------------------
# stateful_stream
# --------------------------------------------------------------------------

TTL_SECONDS = 86_400


class StatefulStream:
    name = "stateful_stream"
    warm_passes = 1

    def setup(self, ctx: Context) -> InputStats:
        from udacity_data_engineering_spark.session import table
        from udacity_data_engineering_spark.streaming.stateful import ensure_tws_runtime
        from udacity_data_engineering_spark.streaming.stream_queries import write_time_ordered_feed

        src = ctx.work / "events"
        stats = write_events(src / "events.parquet", ctx.seed)
        if not ensure_tws_runtime(ctx.spark):
            raise RuntimeError("transformWithState needs google.protobuf (vendor/protobuf_shim)")
        staging = ctx.work / "feed"
        staging.mkdir()
        ev = table(ctx.spark, str(src), "events")
        self.feed = write_time_ordered_feed(ev, str(staging), TTL_SECONDS, n_buckets=3)
        self.events_path = src / "events.parquet"
        return stats

    def prepare_checks(self, ctx: Context) -> None:
        from udacity_data_engineering_spark.plans.registry import all_queries

        registry = all_queries()
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events_path}')")
        # the batch gaps-and-islands and group-by oracles of the registry's
        # TWS queries, over the generated events
        self.oracle_sql = {
            "sessions": registry["q_streaming_stateful_ttl"].oracle,
            "totals": registry["q_streaming_stateful_totals_tws"].oracle,
        }
        self.pass_no = 0

    def instrument(self, ctx: Context) -> None:
        from probes import streaming_listener

        self.listener = streaming_listener(ctx.spark)

    def run_pass(self, ctx: Context) -> PassResult:
        from pyspark.sql import functions as F

        from udacity_data_engineering_spark.streaming.event_stream import run_available_now, stream_events
        from udacity_data_engineering_spark.streaming.stateful import (
            expiring_user_sessions_tws,
            rocksdb_state_scope,
            running_user_totals_tws,
        )

        spark = ctx.spark
        self.pass_no += 1
        ckpt = ctx.work / f"ckpt-{self.pass_no}"
        started = len(self.listener.terminated)
        seen = len(self.listener.progress)
        with rocksdb_state_scope(spark):
            with ctx.tracer.span("streaming.stateful", "expiring_user_sessions_tws"):
                sessions = expiring_user_sessions_tws(
                    stream_events(spark, self.feed, max_files_per_trigger=1).withWatermark("ts", "0 seconds"),
                    TTL_SECONDS,
                )
            with ctx.tracer.span("streaming.event_stream", "run_available_now"):
                run_available_now(sessions, f"sessions_{self.pass_no}", str(ckpt / "sessions"), output_mode="update")
            with ctx.tracer.span("streaming.stateful", "running_user_totals_tws"):
                totals = running_user_totals_tws(stream_events(spark, self.feed, max_files_per_trigger=2))
            with ctx.tracer.span("streaming.event_stream", "run_available_now"):
                run_available_now(totals, f"totals_{self.pass_no}", str(ckpt / "totals"), output_mode="update")
        s = spark.table(f"sessions_{self.pass_no}").filter(F.col("user_id") >= 0).select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
        t = (
            spark.table(f"totals_{self.pass_no}")
            .filter(F.col("user_id") >= 0)
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"), F.max_by("sum_value", "n_events").alias("sum_value"))
        )
        res = PassResult()
        res.outputs = {"sessions": (s.collect(), s.columns), "totals": (t.collect(), t.columns)}
        self.listener.wait_terminated(started + 2)
        progress = self.listener.progress[seen:]
        res.stream_run_ids = sorted({p["run_id"] for p in progress})
        res.outputs["progress"] = progress
        res.jobs = [
            Job(f"batch-{k}", "streaming", p["duration_ms"].get("triggerExecution", 0) / 1000)
            for k, p in enumerate(progress)
        ]
        res.outputs["checkpoint"] = ckpt
        spark.catalog.dropTempView(f"sessions_{self.pass_no}")
        spark.catalog.dropTempView(f"totals_{self.pass_no}")
        return res

    def check(self, ctx: Context, res: PassResult) -> None:
        for key in ("sessions", "totals"):
            rows, cols = res.outputs[key]
            problems = _duck_compare(rows, cols, self.con, self.oracle_sql[key])
            if problems:
                res.failures.append(f"{key}: " + "; ".join(problems))
        res.written = dir_bytes(res.outputs["checkpoint"])
        shutil.rmtree(res.outputs["checkpoint"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (SparkifyEtl, LlmCuration, StatefulStream)}
