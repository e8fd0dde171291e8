"""Engine benchmark: seeded, closed-loop workloads with one client.

    python3 perfbench/run.py --workload sparkify_etl --seed 1 --seconds 15 --trace 0

Runs one workload (see ``workloads.py``) against the package's public
functions and prints, as the last line of standard output, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every output is checked; a job whose output is wrong
counts as failed. With ``--trace 0`` the line before it is a report with
the end-to-end metrics that are not bounded in ``BENCHMARK.json`` and
the percentile behind ``job_s_tail``: ``failed_ratio``, which is 0 when
all is well; ``write_amp``, for the workloads that write; and
``peak_rss_mb``, which follows the JVM's adaptive heap sizing and spreads
too widely from run to run to bound.

A run sets up once from a cold start (driver JVM launch, seeded input
generation and the cache fills users pay once): ``setup_s``. Warm
passes follow, checked but not timed; then passes run back to back until
``--seconds`` have elapsed, and each timing is the median over them. A
traced run alternates untraced and traced passes, takes the per-layer
numbers from the traced ones, reports the difference of the two medians
as the tracing overhead and writes its spans to
``perfbench/_work/spans/<workload>-<seed>.json``.

Everything else a run writes stays under ``perfbench/_work/<run>/`` and
is removed on exit.

    python3 perfbench/run.py --census

recomputes ``perfbench/membership.json``: the registry queries of
``llm_curation``, derived from the streaming tag, the tags and the
physical plan of every query on the base tables.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

T_START = time.monotonic()
#: local[2]: two task slots suffice for these inputs, and the spare cores
#: keep JIT, GC and the Python workers from competing with the tasks
CPUS = min(2, len(os.sched_getaffinity(0)))

#: layers whose self time the traced run reports (``self.<layer>.s``)
LAYERS = ("plans", "sources", "etl", "operators", "functions")
STREAM_PHASES = ("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.monotonic() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def prepare_environment(work: Path) -> None:
    """Point every scratch location of Spark, its Python workers and the
    package at ``work``; must run before the JVM starts."""
    for sub in ("tmp", "scratch", "warehouse", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ.update(
        {
            "TMPDIR": str(work / "tmp"),
            "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
            "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        }
    )
    tempfile.tempdir = None
    # transformWithState's state-server protocol needs google.protobuf in
    # the driver and in every worker (the same bridge the tests use)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        shim = ROOT / "vendor" / "protobuf_shim"
        sys.path.insert(0, str(shim))
        existing = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = str(shim) + (os.pathsep + existing if existing else "")
        os.environ["PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION"] = "python"


def start_session():
    from udacity_data_engineering_spark.session import build_session

    spark = build_session(app_name="perfbench", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, the driver JVM and every process below it, and
    wait until they have exited."""
    from pyspark import SparkContext

    from probes import ProcSampler, jvm_pid

    pid = jvm_pid(spark)
    pids = [pid, *ProcSampler(pid).descendants()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError("Spark processes did not exit")
        time.sleep(0.05)


def tail(samples: list[float], per_pass: int) -> tuple[float, float]:
    """(percentile, value) of the job times: the highest nearest-rank
    percentile with at least ten of one pass's ``per_pass`` jobs above it,
    or the maximum (percentile 100) when a pass has too few jobs for one
    at or above the median. Fixing the percentile by one pass, not by the
    number of passes that fit in the run, keeps it the same in every run."""
    xs = sorted(samples)
    p = math.floor(100 * (per_pass - 10) / per_pass) if per_pass > 10 else 0
    if p < 50:
        return 100.0, xs[-1]
    return float(p), xs[math.ceil(p * len(xs) / 100) - 1]


class PassRecord:
    def __init__(self, pass_id, traced, wall, before, after, res, layers):
        self.pass_id = pass_id
        self.traced = traced
        self.wall = wall
        self.cpu = (after.jvm_cpu_s - before.jvm_cpu_s) + (after.worker_cpu_s - before.worker_cpu_s)
        self.worker_cpu = after.worker_cpu_s - before.worker_cpu_s
        self.rss = after.rss_bytes  # peak so far: never below ``before``'s
        self.res = res
        self.layers = layers


def layer_metrics(rec, workload, tracer, status, stats) -> dict[str, float]:
    """Per-layer numbers of one traced pass. The streaming layer's are
    reported only by the workload that reaches it."""
    k = {rec.pass_id}
    res = rec.res
    ex = status.group_totals([f"pass-{rec.pass_id}", *res.stream_run_ids])
    by_module: dict[str, float] = {}
    for job in res.jobs:
        by_module[job.module] = by_module.get(job.module, 0.0) + job.seconds
    files, size = res.written
    stream = workload.name == "stateful_stream"
    progress = res.outputs.get("progress", [])
    state = [s for p in progress for s in p["state"]]
    stage = {
        s["name"]: s["end"] - s["start"]
        for s in tracer.spans
        if s["pass"] == rec.pass_id and s["module"] == "etl.sparkify"
    }
    m = {
        "plans.build_s": tracer.total("plans.registry", k),
        "plans.jobs": ex["jobs"],
        "plans.stages": ex["stages"],
        "sources.json.read_s": tracer.total("sources.json_source", k),
        "sources.json.files": stats.files if workload.name == "sparkify_etl" else 0,
        "sources.parquet.write_s": tracer.total("sources.parquet_source", k),
        "sources.parquet.files_written": 0 if stream else files,
        "sources.parquet.bytes_written": 0 if stream else size,
        "sources.parquet.read_mb": ex["input_mb"],
        "etl.sparkify.song_stage_s": stage.get("process_song_data", 0.0),
        "etl.sparkify.log_stage_s": stage.get("process_log_data", 0.0),
        "etl.sparkify.check_s": max(
            0.0,
            stage.get("run", 0.0) - stage.get("process_song_data", 0.0) - stage.get("process_log_data", 0.0),
        ),
        "operators.exec.cpu_s": ex["cpu_s"],
        "operators.exec.run_s": ex["run_s"],
        "operators.exec.tasks": ex["tasks"],
        "operators.exec.shuffle_read_mb": ex["shuffle_read_mb"],
        "operators.exec.shuffle_write_mb": ex["shuffle_write_mb"],
        "operators.exec.spill_mb": ex["spill_mb"],
        "operators.exec.gc_s": ex["gc_s"],
        "operators.python.worker_cpu_s": rec.worker_cpu,
        "operators.python.share": rec.worker_cpu / rec.cpu if rec.cpu > 0 else 0.0,
        "operators.ann.probe_s": by_module.get("operators.ann", 0.0) + by_module.get("operators.pq", 0.0),
    }
    if stream:
        m.update(
            {
                "streaming.triggers": len(progress),
                "streaming.trigger_s": sum(p["duration_ms"].get("triggerExecution", 0) for p in progress) / 1000,
                "streaming.state.commit_s": sum(s["commit_ms"] for s in state) / 1000,
                "streaming.state.rows": max((sum(s["rows"] for s in p["state"]) for p in progress), default=0),
                "streaming.state.memory_mb": max(
                    (sum(s["memory_bytes"] for s in p["state"]) for p in progress), default=0
                )
                / 2**20,
                "streaming.checkpoint_mb": size / 2**20,
            }
        )
        for phase in STREAM_PHASES:
            m[f"streaming.{phase}_s"] = sum(p["duration_ms"].get(phase, 0) for p in progress) / 1000
    for mod in sample_modules():
        m[f"{mod}.s"] = by_module.get(mod, 0.0)
    self_time = tracer.self_time(k)
    for layer in LAYERS + (("streaming",) if stream else ()):
        m[f"self.{layer}.s"] = self_time.get(layer, 0.0)
    return m


def run(args, work: Path) -> dict:
    from probes import ProcSampler, StatusStore, Tracer, jvm_pid
    from workloads import WORKLOADS, Context

    workload = WORKLOADS[args.workload]()
    tracer = Tracer(bool(args.trace))
    ctx = Context(None, tracer, work, args.seed)
    t0 = time.perf_counter()
    with tracer.span("session", "build_session"):
        ctx.spark = spark = start_session()
    session_s = time.perf_counter() - t0
    stats = workload.setup(ctx)
    setup_s = time.perf_counter() - t0
    log(f"setup: {setup_s:.3f} s (session {session_s:.3f} s)")
    workload.prepare_checks(ctx)
    workload.instrument(ctx)
    log("checks prepared")
    sampler = ProcSampler(jvm_pid(spark))
    status = StatusStore(spark) if args.trace else None

    attempted = failed = 0
    failures: list[str] = []

    def one_pass(pass_id: int, traced: bool) -> PassRecord:
        nonlocal attempted, failed
        tracer.enabled = traced
        tracer.pass_id = pass_id
        if args.trace:
            spark.sparkContext.setJobGroup(f"pass-{pass_id}", "perfbench pass")
        before = sampler.sample()
        t0 = time.perf_counter()
        with tracer.span("bench", "pass"):
            res = workload.run_pass(ctx)
        wall = time.perf_counter() - t0
        after = sampler.sample()
        n_errors = len(res.failures)  # jobs that raised
        workload.check(ctx, res)
        rec = PassRecord(pass_id, traced, wall, before, after, res, None)
        attempted += len(res.jobs) + n_errors
        failed += min(len(res.failures), len(res.jobs) + n_errors)
        failures.extend(res.failures)
        if traced:
            rec.layers = layer_metrics(rec, workload, tracer, status, stats)
        log(
            f"pass {pass_id}{' traced' if traced else ''}: wall {wall:.3f} s, cpu {rec.cpu:.2f} s, "
            f"{len(res.jobs)} jobs, {len(res.failures)} failures"
        )
        return rec

    for _ in range(workload.warm_passes):  # JIT and codegen caches
        one_pass(0, traced=False)
    records: list[PassRecord] = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and len(records) % 2 == 1
        records.append(one_pass(len(records) + 1, traced))
        kinds = {r.traced for r in records}
        if time.perf_counter() >= deadline and (not args.trace or kinds == {True, False}):
            break

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    jobs = [j.seconds for r in records for j in r.res.jobs]
    pct, tail_s = tail(jobs, min(len(r.res.jobs) for r in records))
    log(
        f"{workload.name}: {len(records)} timed passes, {len(jobs)} jobs, "
        f"job_s_tail = p{pct:g}, input {stats.rows} rows / {stats.bytes} bytes / {stats.files} files"
    )
    by_job: dict[str, list[float]] = {}
    for r in records:
        for j in r.res.jobs:
            by_job.setdefault(j.name, []).append(j.seconds)
    log("median job s: " + ", ".join(f"{n} {statistics.median(xs):.3f}" for n, xs in by_job.items()))
    if args.trace:
        traced = [r for r in records if r.traced]
        untraced = [r for r in records if not r.traced]
        layers = {
            name: statistics.median(r.layers[name] for r in traced) for name in traced[0].layers
        }
        layers["session.build_s"] = session_s
        layers["operators.ann.index_build_s"] = getattr(workload, "index_build_s", 0.0)
        layers["trace.overhead_s"] = statistics.median(r.wall for r in traced) - statistics.median(
            r.wall for r in untraced
        )
        spans = HERE / "_work" / "spans" / f"{workload.name}-{args.seed}.json"
        spans.parent.mkdir(parents=True, exist_ok=True)
        spans.write_text(json.dumps(tracer.spans))
        metrics = {name: {"value": v, "unit": unit_of(name)} for name, v in sorted(layers.items())}
    else:
        wall = statistics.median(r.wall for r in records)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "cpu_s": statistics.median(r.cpu for r in records),
            "rows_per_s": stats.rows / wall,
            "job_s_p50": statistics.median(jobs),
            "job_s_tail": tail_s,
        }
        metrics = {name: {"value": v, "unit": E2E_UNITS[name]} for name, v in values.items()}
        report = {
            "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
            "job_s_tail": {"value": tail_s, "unit": "s", "percentile": pct, "samples": len(jobs)},
            "peak_rss_mb": {"value": max(r.rss for r in records) / 2**20, "unit": "MB"},
        }
        written = [r.res.written[1] for r in records]
        if any(written):
            report["write_amp"] = {"value": statistics.median(written) / stats.bytes, "unit": "ratio"}
        print(json.dumps({"workload": workload.name, "passes": len(records), "report": report}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "rows_per_s": "rows/s",
    "job_s_p50": "s",
    "job_s_tail": "s",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name == "operators.python.share":
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


def sample_modules() -> list[str]:
    """Modules (``operators.ann``, ``functions.datetime_fns``, ...) of the
    ``llm_curation`` sample, as the census recorded them."""
    from workloads import MEMBERSHIP

    return json.loads(MEMBERSHIP.read_text())["llm_curation"]["modules"]


def census() -> int:
    """Recompute membership.json from the registry and the base tables."""
    from inputs import BASE_DIR
    from workloads import MEMBERSHIP, LlmCuration, name_hash, names_sha256, python_node, short_module

    from udacity_data_engineering_spark.plans.registry import all_queries

    spark = start_session()
    try:
        registry = all_queries()
        batch = {n: q for n, q in registry.items() if "streaming" not in q.tags}
        nodes = {}
        for name, q in sorted(batch.items()):
            node = python_node(q.fn(spark, str(BASE_DIR)))
            if node:
                nodes[name] = node
    finally:
        stop_session(spark)

    def curated(q) -> bool:
        tags = set(q.tags)
        return bool(tags & {"E11", "E12"}) and bool(tags & {"dedup", "ann"})

    members = sorted(n for n, q in batch.items() if n in nodes or curated(q))
    # the ANN/PQ probes of the set-up's index cache, and one member of each
    # plan kind (each Python node, and none for the dedup queries): the one
    # with the smallest name hash
    always = [
        n
        for n in members
        if short_module(registry[n].fn) in ("operators.ann", "operators.pq") and registry[n].oracle is None
    ]
    first_of_kind: dict[str, str] = {}
    for n in sorted(members, key=name_hash):
        first_of_kind.setdefault(nodes.get(n, "none"), n)
    sample = sorted(set(always) | set(first_of_kind.values()))
    doc = {
        "registry": {"count": len(registry), "names_sha256": names_sha256(registry)},
        "python_nodes": dict(sorted(nodes.items())),
        LlmCuration.name: {
            "rule": "not tagged streaming, and a Python node in the plan or tagged E11/E12 with dedup/ann",
            "members": members,
            "members_sha256": names_sha256(members),
            "sample_rule": "the ANN/PQ probes, and per plan kind the member with the smallest name hash",
            "always": always,
            "first_of_kind": dict(sorted(first_of_kind.items())),
            "sample": sample,
            "sample_sha256": names_sha256(sample),
            "modules": sorted({short_module(registry[n].fn) for n in sample}),
        },
    }
    MEMBERSHIP.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"llm_curation: {len(members)} members, {len(sample)} sampled -> {MEMBERSHIP}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("sparkify_etl", "llm_curation", "stateful_stream"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--census", action="store_true", help="recompute membership.json")
    args = ap.parse_args(argv)
    if not args.census and not args.workload:
        ap.error("--workload is required")

    work = HERE / "_work" / f"{args.workload or 'census'}-{args.seed}-{os.getpid()}"
    prepare_environment(work)
    try:
        import udacity_data_engineering_spark as pkg

        # the engine under test is the checkout's own copy, never an
        # installed one: outside a full checkout this fails, printing no result
        if Path(pkg.__file__).resolve().parent.parent != ROOT:
            raise ImportError(f"{pkg.__file__} is not under {ROOT}")
        if args.census:
            return census()
        try:
            result = run(args, work)
        finally:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                stop_session(spark)
                log("stopped")
        print(json.dumps(result))
        return 0
    except Exception:  # noqa: BLE001 - any failure: no result line, non-zero exit
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
