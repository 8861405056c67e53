"""Spans, Spark scheduler counts and process probes for the traced run.

Spans are recorded from the benchmark side, around the calls it makes into
each engine layer; they are kept in memory and written as JSON at exit.
With tracing off, ``span`` returns a shared no-op context, so the untraced
loop pays one attribute lookup per call.
"""

from __future__ import annotations

import contextlib
import json
import resource
import statistics
import time

_NULL = contextlib.nullcontext()


class Tracer:
    """In-memory span recorder: name, start, end, parent span and op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: int | None = None):
        return self._span(name, op) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str, op: int | None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "self_s": self.self_times(), "spans": self.spans}, f)


def median(xs) -> float:
    return float(statistics.median(xs))


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status tracker has seen every job and stage of the ops so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_heap_peak_mb(spark) -> float:
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    peak = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP")
    return peak / 2**20


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM of process ``pid`` plus this Python process's peak RSS."""
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def burn_ms() -> float:
    """Fixed single-threaded CPU burn: a host-contention diagnostic."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3
