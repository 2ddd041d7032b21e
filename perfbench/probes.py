"""Outside-in probes: spans, Spark job/task counts, host CPU ticks.

Nothing here reaches into the engine: spans wrap the benchmark's own
calls into the program, Spark counts come from the session's
``statusTracker()``, and host figures from ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU-seconds of the whole host since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class SparkCounter:
    """Counts the Spark jobs, tasks and failed tasks run between two
    points, by job id: the benchmark is one closed-loop client, so
    every job submitted in between belongs to the measured call. The
    id range also catches streaming micro-batches, which run under
    the stream's own job group."""

    _LOOKAHEAD = 8  # tolerate a few ids that never reach the tracker

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._st = self._sc.statusTracker()
        self._end = 0

    def _settle(self) -> None:
        # job and stage events reach the tracker through the async
        # listener bus; drain it before reading
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """First job id not yet submitted."""
        self._settle()
        probe = self._end
        while probe < self._end + self._LOOKAHEAD:
            if self._st.getJobInfo(probe) is None:
                probe += 1
            else:
                self._end = probe = probe + 1
        return self._end

    def since(self, start: int) -> dict[str, int]:
        """Jobs, tasks and failed tasks of job ids ``start`` onward."""
        end = self.mark()
        jobs, stages = 0, set()
        for j in range(start, end):
            info = self._st.getJobInfo(j)
            if info is not None:
                jobs += 1
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            si = self._st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    def persisted_rdds(self) -> int:
        return self._sc._jsc.sc().getPersistentRDDs().size()


class Tracer:
    """One span per layer call: name, start, end, parent, and the Spark
    counts inside it. Spans of one operation share a trace id. Kept in
    memory; ``spans`` is written out when the run ends. A disabled
    tracer records nothing and costs one attribute test per call."""

    def __init__(self, counter: SparkCounter):
        self.counter = counter
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = -1

    def begin(self, trace_id: int, enabled: bool) -> None:
        self._trace, self.enabled = trace_id, enabled

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"trace": self._trace, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        mark = self.counter.mark()
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self.counter.since(mark))

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"])
        return out

    def self_times(self) -> dict[str, float]:
        """Median self time per span name: duration minus the time its
        child spans cover (children never overlap: one client)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        per: dict[str, list[float]] = {}
        for s in self.spans:
            per.setdefault(s["name"], []).append(
                s["end"] - s["start"] - child.get(s["id"], 0.0))
        return {k: statistics.median(v) for k, v in per.items()}
