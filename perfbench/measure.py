"""Measurement helpers: spans, resident-memory sampling, Spark status reads.

Spans are recorded only in a traced run, around the benchmark's calls into
each engine layer; they stay in memory and are written out once at the end.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans ``(name, start, end, parent)`` kept in memory.

    A disabled tracer records nothing, so the untraced end-to-end run pays
    one branch per call site.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of (this process + the driver JVM) resident memory, sampled."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.pids = [os.getpid()]
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in list(self.pids)))

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Ends sampling (a second call changes nothing); returns the peak."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return self.peak_mb


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)])


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def collect_garbage(spark) -> None:
    """Python then JVM garbage collection, so Spark's context cleaner deletes
    the shuffle files of finished work while they are young.  On disks
    mounted with online discard, deleting a file the OS has already written
    back costs tens of milliseconds, which would otherwise pile up at exit."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, tasks, executor run/GC time, shuffle and spill bytes of every
    job tagged with *group*, read from the application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for stage_id in _seq(store.job(job_id).stageIds()):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of *df*'s query execution
    (forces the physical plan, so call it only in a traced run)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {name: float(phases.apply(name).durationMs())
            for name in ("analysis", "optimization", "planning")
            if phases.contains(name)}
