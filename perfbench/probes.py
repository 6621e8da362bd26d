"""Counters the traced run reads from outside the program.

* SparkCounters: the AppStatusStore behind the SparkContext (present with
  the UI off). Cumulative task counters come from the executor summaries,
  which the session's retainedJobs/retainedStages caps do not clip; job
  counts come from the sequential job ids. Stage-level counters (spill,
  skew, stage count) need every job of an op and every stage that ran to
  still be retained; an op where one was evicted is marked clipped
  instead of being undercounted.
* ProcTree: CPU time of the benchmark's process tree, of the pyspark
  Python workers under the JVM, the JVM's peak RSS and host /proc/stat.
* StreamCounter: a StreamingQueryListener that sums micro-batches, input
  rows and final state-store rows.
* Tracer: in-memory spans (name, start, end, parent, run id) with self
  time, written out when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# ---------------------------------------------------------------- spark --

_EXEC_FIELDS = {
    "tasks": lambda e: e.completedTasks() + e.failedTasks(),
    "failed_tasks": lambda e: e.failedTasks(),
    "task_busy_ms": lambda e: e.totalDuration(),
    "gc_ms": lambda e: e.totalGCTime(),
    "input_bytes": lambda e: e.totalInputBytes(),
    "shuffle_read_bytes": lambda e: e.totalShuffleRead(),
    "shuffle_write_bytes": lambda e: e.totalShuffleWrite(),
}


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._gw = self._sc._gateway

    def _drain(self) -> None:
        # Status-store writes happen on the listener bus thread; read only
        # after every event the op posted has been applied.
        self._bus.waitUntilEmpty()

    def _jobs(self) -> dict[int, object]:
        """Retained JobData by job id (at most spark.ui.retainedJobs)."""
        jl = self._store.jobsList(None)
        return {int(j.jobId()): j for j in (jl.apply(i) for i in range(jl.length()))}

    def last_job_id(self) -> int:
        """Newest job id; ids are sequential, so differences count jobs exactly."""
        self._drain()
        return max(self._jobs(), default=-1)

    def snapshot(self) -> dict[str, int]:
        """Cumulative executor-summary counters plus the newest job id."""
        self._drain()
        execs = self._store.executorList(False)
        out = dict.fromkeys(_EXEC_FIELDS, 0)
        for i in range(execs.length()):
            e = execs.apply(i)
            for k, get in _EXEC_FIELDS.items():
                out[k] += int(get(e))
        out["last_job"] = max(self._jobs(), default=-1)
        return out

    def op_stages(self, first_job: int, last_job: int) -> dict[str, float]:
        """Stage-level counters of jobs first_job..last_job.

        Stages that ran are counted from the jobs' own completed/failed
        stage counts; spill and skew need each of those stages to still be
        in the store. Skipped stages are evicted first and carry no work,
        so only a missing stage that ran marks the op clipped."""
        out = {"stages": 0, "spill_bytes": 0, "task_skew": 1.0, "clipped": 0}
        if last_job < first_job:
            return out
        jobs = {k: v for k, v in self._jobs().items() if first_job <= k <= last_job}
        if len(jobs) != last_job - first_job + 1:
            out["clipped"] = 1
            return out
        out["stages"] = sum(int(j.numCompletedStages()) + int(j.numFailedStages())
                            for j in jobs.values())
        stage_ids: set[int] = set()
        for j in jobs.values():
            seq = j.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.length()))
        quantiles = self._gw.new_array(self._gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        found, worst_max = 0, -1.0
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            found += 1
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            summary = self._store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, mx = float(run.apply(0)), float(run.apply(1))
                if mx > worst_max:
                    worst_max = mx
                    out["task_skew"] = mx / med if med > 0 else 1.0
        if found < out["stages"]:
            out["clipped"] = 1
        return out


# ------------------------------------------------------------- processes --

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed.
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _tree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime + reaped children's cutime + cstime, in seconds."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(x) for x in st[11:15]) / _CLK


def host_jiffies() -> dict[str, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"sys": vals[2], "steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals)}


class ProcTree:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        kids = _children()
        tree = _tree(os.getpid(), kids)
        workers = [p for p in _tree(self.jvm_pid, kids)
                   if p != self.jvm_pid and "pyspark" in _cmdline(p)]
        return {
            "proc_cpu_s": sum(_cpu_s(p) for p in tree),
            "worker_cpu_s": sum(_cpu_s(p) for p in workers),
        }

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


# -------------------------------------------------------------- streaming --


class StreamCounter(StreamingQueryListener):
    """Progress events arrive on the listener-bus callback thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self._batches = 0
        self._input_rows = 0
        self._state_rows: dict[str, int] = {}

    def totals(self) -> dict[str, int]:
        """Cumulative counts; state_rows sums each query's latest gauge."""
        with self._lock:
            return {"micro_batches": self._batches, "input_rows": self._input_rows,
                    "state_rows": sum(self._state_rows.values())}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(int(s.numRowsTotal) for s in p.stateOperators)
        with self._lock:
            self._batches += 1
            self._input_rows += int(p.numInputRows)
            # numRowsTotal is a gauge: keep each query's latest value.
            self._state_rows[str(p.runId)] = state_rows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# ---------------------------------------------------------------- spans --


@dataclass
class Tracer:
    run_id: str
    enabled: bool = True
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover
        (children of one span never overlap: the client is single-threaded)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
