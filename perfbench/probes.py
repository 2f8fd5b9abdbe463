"""Outside-in instruments: spans, Spark job/stage counters, a streaming
progress listener, process memory and host noise.

Nothing here touches the engine. Spans wrap the benchmark's own calls
into a layer; counters read Spark's status tracker and status store
after the fact, and only in traced runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op);
    times are seconds from the tracer's creation. `enabled=False` makes
    every call a no-op so untraced runs pay nothing."""

    def __init__(self, enabled: bool, t0: float | None = None):
        self.enabled = enabled
        self.t0 = time.perf_counter() if t0 is None else t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.perf_counter() - self.t0, None, op)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter() - self.t0

    def add(self, name, start, end, op, parent: int | None = -1) -> int:
        """Record a span; `parent=-1` means the innermost open span."""
        if not self.enabled:
            return -1
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class JobCounter:
    """Jobs, stages, tasks and executor metrics of every Spark job fired
    between `mark()` and `collect()`, from the DAG scheduler's job id
    counter, the status tracker and the status store (which works with
    the UI off)."""

    FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
              "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb", "input_mb",
              "spill_mb")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.start = 0

    def mark(self) -> None:
        self.start = self.jsc.dagScheduler().numTotalJobs()

    def fired(self) -> int:
        """Jobs submitted since `mark()`."""
        return self.jsc.dagScheduler().numTotalJobs() - self.start

    def collect(self) -> dict[str, float]:
        n_jobs = self.fired()
        self.jsc.listenerBus().waitUntilEmpty()
        store, tracker = self.jsc.statusStore(), self.sc.statusTracker()
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = n_jobs
        mb = 1024.0 * 1024.0
        for job_id in range(self.start, self.start + n_jobs):
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":  # its output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / mb
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
                out["input_mb"] += st.inputBytes() / mb
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
        return out


# Progress `durationMs` phases, in the order a trigger runs them.
PHASES = (
    ("latestOffset", "latest_offset"),
    ("walCommit", "wal_commit"),
    ("getBatch", "get_batch"),
    ("queryPlanning", "query_planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit_offsets"),
)


class ProgressListener(StreamingQueryListener):
    """Keeps one record per micro-batch from the progress events."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ms = dict(p.durationMs)
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            .timestamp(),
            "trigger_ms": float(ms.get("triggerExecution", 0)),
        }
        for key, name in PHASES:
            rec[name + "_ms"] = float(ms.get(key, 0))
        ops = p.stateOperators or []
        rec["state_commit_ms"] = float(sum(o.commitTimeMs for o in ops))
        rec["state_rows"] = float(sum(o.numRowsTotal for o in ops))
        rec["state_memory_mb"] = sum(o.memoryUsedBytes for o in ops) / (1024.0 * 1024.0)
        self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class HostNoise:
    """CPU steal share and 1-min loadavg over a measured phase. Recorded
    for diagnosis only; no run is dropped or re-weighted by it."""

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]

    @staticmethod
    def _load() -> float:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    def start(self) -> None:
        self.cpu0, self.load0 = self._cpu(), self._load()

    def stop(self) -> dict[str, float]:
        cpu1 = self._cpu()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "steal_share": steal / max(1, sum(delta[:8])),
            "loadavg_1m": (self.load0 + self._load()) / 2.0,
        }


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Fewer than eleven samples give the minimum."""
    xs = sorted(values)
    k = max(0, len(xs) - 11)
    return xs[k], 100.0 * (k + 1) / len(xs)


def env_record() -> dict[str, str]:
    keys = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS",
            "TMPDIR", "SPARK_LOG_LEVEL")
    return {k: os.environ.get(k, "") for k in keys}
