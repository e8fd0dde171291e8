"""Measurement probes, all outside the engine: spans recorded around the
benchmark's own calls into each package module, an outside-in ``/proc``
sampler for CPU and memory, Spark's status store for executor-side
counters, and a streaming listener for per-trigger phases."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans (module, name, start, end, parent, pass id). A
    disabled tracer records nothing, so measured runs pay one attribute
    check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, module: str, name: str = ""):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "module": module,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, attr: str, module: str) -> None:
        """Replace ``obj.attr`` with a span-recording wrapper (traced runs
        only: this is how spans reach calls the package makes between its
        own modules, without editing the package)."""
        inner = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(module, attr):
                return inner(*args, **kwargs)

        setattr(obj, attr, traced)

    def total(self, module: str, pass_ids=None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["module"] == module and (pass_ids is None or s["pass"] in pass_ids)
        )

    def self_time(self, pass_ids=None) -> dict[str, float]:
        """Self time per top-level module: a span's duration minus the
        durations of its direct children (children never overlap here —
        every span is opened and closed on the one driver thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or (pass_ids is not None and s["pass"] not in pass_ids):
                continue
            top = s["module"].split(".")[0]
            out[top] = out.get(top, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


@dataclass
class ProcSample:
    jvm_cpu_s: float
    worker_cpu_s: float
    #: sum of the processes' peak resident sets so far
    rss_bytes: int


class ProcSampler:
    """CPU and peak resident memory of the driver JVM plus every process
    below it (the ``pyspark.daemon`` and its forked workers), read from
    ``/proc``.
    A worker's CPU stays counted after it exits: the daemon reaps it, which
    moves its time into the daemon's ``cutime``/``cstime``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            return None
        # fields after "(comm)": state is index 0, ppid 1, utime 11 ...
        return s[s.rfind(")") + 2 :].split()

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = self._stat(int(entry))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(entry))
        out, todo = [], [self.jvm_pid]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    @staticmethod
    def _hwm(pid: int) -> int:
        """Peak resident set (``VmHWM``) of ``pid`` in bytes, 0 if gone."""
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> ProcSample:
        jvm = self._stat(self.jvm_pid)
        if jvm is None:
            raise RuntimeError(f"driver JVM {self.jvm_pid} is gone")
        jvm_cpu = (int(jvm[11]) + int(jvm[12])) / _CLK_TCK
        rss = self._hwm(self.jvm_pid)
        worker_cpu = 0.0
        for pid in self.descendants():
            st = self._stat(pid)
            if st is None:
                continue
            worker_cpu += sum(int(x) for x in st[11:15]) / _CLK_TCK
            rss += self._hwm(pid)
        return ProcSample(jvm_cpu, worker_cpu, rss)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


#: Executor-side counters summed per job group from the status store.
EXEC_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numCompleteTasks", 1),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


class StatusStore:
    """Jobs, stages and executor counters per job group, read from the
    live application status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store reflects the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_totals(self, groups) -> dict[str, float]:
        self.flush()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = {k: 0.0 for k in EXEC_FIELDS}
        out["jobs"] = 0
        out["stages"] = 0
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        stage = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 - skipped stage: no attempt ran
                        continue
                    if str(stage.status()) != "COMPLETE":
                        continue
                    out["stages"] += 1
                    for key, (getter, scale) in EXEC_FIELDS.items():
                        out[key] += getattr(stage, getter)() * scale
        return out


def streaming_listener(spark):
    """Register and return a listener that keeps each trigger's progress
    (phase durations, input rows, state-operator counters)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "duration_ms": dict(p.durationMs),
                    "input_rows": p.numInputRows,
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append(str(event.runId))

        def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
            """Block until ``n`` queries have reported termination; the
            listener bus delivers asynchronously, after awaitTermination."""
            deadline = time.monotonic() + timeout_s
            while len(self.terminated) < n:
                if time.monotonic() > deadline:
                    raise TimeoutError("streaming listener missed a termination event")
                time.sleep(0.01)

    listener = ProgressLog()
    spark.streams.addListener(listener)
    return listener
