"""Measurement helpers that observe the engine from outside.

Everything here reads public Spark surfaces (status tracker, the
application status store, the cache manager, ``/proc``) around calls
into the engine; nothing is patched into the engine itself.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


# -- statistics ---------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it
    (nearest-rank). With fewer than 20 samples no percentile at or
    above the median qualifies, and the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", xs[math.ceil(p / 100 * n) - 1]
    return "p100", (xs[-1] if xs else 0.0)


# -- timing -----------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine, in jiffies, from
    /proc/stat; (0, 0) where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Times a block in wall-clock seconds, net of the CPU time the
    hypervisor stole from this virtual machine meanwhile.

    On a shared host other tenants' load shows up as steal: the VM's
    CPUs are runnable but not running, which stretched wall times by up
    to 40 % between otherwise equal runs. ``seconds`` scales the wall
    time by busy ÷ (busy + stolen) over the block, the time the block
    would have taken had the CPU time it was denied been granted; on an
    idle host it equals ``wall``."""

    def __enter__(self):
        self._cpu = _cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._cpu, _cpu_jiffies()))
        self.busy, self.steal = busy, steal
        self.share = steal / (busy + steal) if busy + steal > 0 else 0.0
        self.seconds = self.wall * (1.0 - self.share)
        return False


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: name, start, end, parent, trace id and
    counters per span. Disabled tracers record nothing and cost one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "trace_id": trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it that child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - child[i])
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f,
                      default=str)


# -- job-group counters -------------------------------------------------------

_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime",
                 "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


def job_counters(spark, group: str, skip_jobs: set[int] = frozenset()) -> dict:
    """Jobs, stages, tasks and stage totals of every job run under job
    group ``group`` (minus ``skip_jobs``), read from the status tracker
    and the application status store (kept with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in skip_jobs]
    stages = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    tot = dict.fromkeys(_STAGE_FIELDS, 0)
    for sid in stages:
        try:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_quantiles)
        except Py4JJavaError:  # stage already evicted from the store
            continue
        for i in range(attempts.size()):
            d = attempts.apply(i)
            for f in _STAGE_FIELDS:
                tot[f] += getattr(d, f)()
    mb = 1 << 20
    return {
        "job_ids": set(jobs),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": tot["numTasks"],
        "exec.executor_run_s": tot["executorRunTime"] / 1e3,
        "exec.cpu_s": tot["executorCpuTime"] / 1e9,
        "exec.gc_s": tot["jvmGcTime"] / 1e3,
        "exec.shuffle_read_mb": tot["shuffleReadBytes"] / mb,
        "exec.shuffle_write_mb": tot["shuffleWriteBytes"] / mb,
        "exec.spill_mb": (tot["memoryBytesSpilled"]
                          + tot["diskBytesSpilled"]) / mb,
    }


# -- cache state --------------------------------------------------------------


class CacheGuard:
    """Snapshot of the cached plans and persistent RDDs after set-up.

    ``release()`` counts the persistent RDDs a call left behind, then
    drops exactly what was added since the snapshot (cache-manager
    entries first, then bare persisted or checkpointed RDDs), so every
    call starts from the set-up's cache state and the base tables stay
    cached."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc
        self._cm = spark._jsparkSession.sharedState().cacheManager()
        self.base_rdds = set(self._jsc.getPersistentRDDs().keySet())
        self.base_entries = self._entries()

    def _entries(self) -> list:
        cd = self._cm.cachedData()
        return [cd.apply(i) for i in range(cd.size())]

    def release(self) -> int:
        leaked = set(self._jsc.getPersistentRDDs().keySet()) - self.base_rdds
        for e in self._entries():
            if not any(e.equals(b) for b in self.base_entries):
                self._cm.uncacheQuery(self.spark._jsparkSession, e.plan(),
                                      False, True)
        rdds = self._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet()):
            if rid not in self.base_rdds:
                rdds.get(rid).unpersist(True)
        return len(leaked)

    def cached_mb(self) -> float:
        """Storage memory held by the set-up's persisted RDDs."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos
                   if i.id() in self.base_rdds) / (1 << 20)


# -- memory -------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024
