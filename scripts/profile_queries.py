"""Per-query profiler for optimization rounds (guide §1: measure first).

For each named query it runs the declared frame into the noop sink (the
bench's own methodology) ``--reps`` times, the first cold, each rep under
its own job group, and reads the rep's jobs, stages, tasks, executor CPU
and run time, shuffle and spill from the application status store
(``perfbench/probes.StatusStore``; a streaming query's micro-batch jobs
are found by the run ids its triggers report), plus each job's duration
(total and the 8 slowest: the local stand-in for the UI's Jobs page).
Output goes to ``profile/<tag>/`` (git-ignored): ``profile.json`` with
the numbers, and per query ``<name>.txt`` with its plan,
``explain('formatted')`` for a batch query; for a streaming-tagged query
the last micro-batch plan of every stream it runs
(``event_stream.capture_streaming_plans``), since its returned frame's
plan only shows the scan of a checkpointed result.

Usage:
    python scripts/profile_queries.py [--tag profile] [--sf DIR] [--reps 2] q1 q2 ...
    python scripts/profile_queries.py --top N   # N most expensive from BENCH_DETAIL
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]

from probes import StatusStore, streaming_listener

from udacity_data_engineering_spark.plans.registry import all_queries
from udacity_data_engineering_spark.session import DEFAULT_SF_DIR, build_session
from udacity_data_engineering_spark.streaming.event_stream import capture_streaming_plans

TOP_JOBS = 8


def job_seconds(sc, groups) -> list[float]:
    """Durations of the jobs in ``groups``, slowest first, from the status
    store's submission and completion times."""
    store = sc._jsc.sc().statusStore()
    out = []
    for group in groups:
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                out.append((end.get().getTime() - start.get().getTime()) / 1000)
    return sorted(out, reverse=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--tag", default="profile")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        detail = json.load(open(os.path.join(HERE, "BENCH_DETAIL.json")))
        ranked = sorted(detail["extensions_median"].items(), key=lambda kv: -kv[1])
        names += [k for k, _ in ranked[: args.top] if k not in names]

    spark = build_session(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    status = StatusStore(spark)
    listener = streaming_listener(spark)
    manifest = all_queries()
    out_dir = os.path.join(HERE, "profile", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()  # warm-up

    out: dict[str, list[dict]] = {}
    for name in names:
        q = manifest[name]
        streaming = "streaming" in q.tags
        out[name] = []
        for rep in range(args.reps):
            group = f"{name}#rep{rep}"
            seen = len(listener.progress)
            sc.setJobGroup(group, group)
            with capture_streaming_plans() as micro_batch_plans:
                t0 = time.perf_counter()
                df = q.fn(spark, args.sf)
                t_build = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            status.flush()  # delivers the triggers' progress to the listener too
            run_ids = sorted({p["run_id"] for p in listener.progress[seen:]})
            groups = [group, *run_ids]
            rec = {"wall_s": wall, "build_s": t_build, **status.group_totals(groups)}
            jobs_s = job_seconds(sc, groups)
            rec.update(job_total_s=round(sum(jobs_s), 3), top_jobs_s=[round(d, 3) for d in jobs_s[:TOP_JOBS]])
            out[name].append(rec)
            print(
                f"{name} rep{rep}: wall {wall:.3f}s (build {t_build:.3f}s) jobs {rec['jobs']} "
                f"stages {rec['stages']} tasks {rec['tasks']:.0f} cpu {rec['cpu_s']:.3f}s "
                f"run {rec['run_s']:.3f}s shuffle r/w {rec['shuffle_read_mb']:.1f}/"
                f"{rec['shuffle_write_mb']:.1f} MB spill {rec['spill_mb']:.1f} MB "
                f"jobs total {rec['job_total_s']:.3f}s top {rec['top_jobs_s']}",
                flush=True,
            )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            if streaming:
                for label, plan in micro_batch_plans:
                    f.write(f"=== micro-batch plan: {label} ===\n{plan}\n")
            else:
                with contextlib.redirect_stdout(f):
                    df.explain("formatted")

    spark.stop()
    with open(os.path.join(out_dir, "profile.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nwrote {out_dir}/")
    for name, reps in out.items():
        warm = reps[-1]
        print(
            f"{name:45s} cold {reps[0]['wall_s']:7.3f}s warm {min(r['wall_s'] for r in reps):7.3f}s "
            f"jobs {warm['jobs']:>4} stages {warm['stages']:>4} tasks {warm['tasks']:>6.0f} "
            f"cpu {warm['cpu_s']:7.3f}s jobtot {warm['job_total_s']:7.3f}s"
        )


if __name__ == "__main__":
    main()
