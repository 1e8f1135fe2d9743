"""Spans, per-span executor metrics and process-tree memory sampling.

A span is (name, start, end, parent) plus the executor metrics of the
Spark jobs that ran while it was the innermost open span.  Each span tags
its jobs with ``SparkContext.setJobGroup(<span id>)``; when the span
closes, its job ids come from ``statusTracker().getJobIdsForGroup`` and
every stage of those jobs is read from the driver's status store
(``statusStore().lastStageAttempt(stage_id)``), which is populated even
with the UI disabled.  Spans stay in memory and are written out once, by
``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError

# StageData accessor -> metric name.  executorCpuTime is in ns, the rest of
# the times in ms.
STAGE_FIELDS = {
    "executorRunTime": "exec_run_ms",
    "executorCpuTime": "exec_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


class Span:
    def __init__(self, span_id: str, name: str, parent: str | None, start: float):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.start = start
        self.end: float | None = None
        self.metrics: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    @property
    def wall_s(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            "wall_s": self.wall_s,
            "metrics": self.metrics,
            "counts": self.counts,
        }


class Tracer:
    """Collects spans for one process.  ``enabled=False`` turns every span
    into a no-op, so the untraced code path runs the same calls."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"s{len(self.spans):04d}", name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name, interruptOnCancel=False)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            outer = self._stack[-1]
            self.sc.setJobGroup(outer.id, outer.name, interruptOnCancel=False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        sp.metrics = self.stage_metrics(sp.id)

    def stage_metrics(self, group: str) -> dict[str, float]:
        """Summed stage metrics of every job in ``group``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {v: 0 for v in STAGE_FIELDS.values()}
        out["jobs"] = 0
        out["stages"] = 0
        seen = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stage: never ran, no attempt
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for field, key in STAGE_FIELDS.items():
                    out[key] += getattr(sd, field)()
        out["exec_cpu_ms"] = out.pop("exec_cpu_ns") / 1e6
        out["spill_bytes"] = out["spill_memory_bytes"] + out["spill_disk_bytes"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.as_dict() for s in self.spans]}, f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span)


# --- memory ------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
# The JVM and its Python workers.  The JVM also forks short-lived helper
# processes (shell commands for local file permissions) that briefly share
# its memory; counting them would add the whole JVM again.
_WORKER_COMMS = ("java", "python")
_INTERVAL_S = 0.1


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(ppid -> child pids, pid -> CPU ticks used so far) from /proc."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state ppid ... utime stime
        fields = stat.rsplit(")", 1)[1].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = int(fields[11]) + int(fields[12])
    return kids, cpu


def _descendants(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Background thread tracking the peak summed resident set of the
    processes working for this one -- the JVM that PySpark launched and the
    Python workers it forks -- read from /proc/<pid>/statm.  A process
    counts once it has used CPU since the sampler started, so an idle
    worker pool left over from input generation does not.  ``cut()`` closes
    one job: it records the peak since the previous cut and starts anew."""

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self.job_peaks: list[int] = []
        self._lock = threading.Lock()
        self._base: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids, cpu = _proc_table()
        total = 0
        for pid in _descendants(kids, self.root):
            if cpu.get(pid, 0) <= self._base.get(pid, -1):
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith(_WORKER_COMMS):
                        continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            v = self._sample()
            with self._lock:
                self.peak = max(self.peak, v)
            self._stop.wait(_INTERVAL_S)

    def cut(self) -> None:
        with self._lock:
            self.job_peaks.append(self.peak)
            self.peak = 0

    def __enter__(self) -> "RssSampler":
        kids, cpu = _proc_table()
        self._base = {pid: cpu.get(pid, 0) for pid in _descendants(kids, self.root)}
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
