"""Measurements taken from outside the package: the Spark status store
(jobs, stages, tasks, executor time, shuffle bytes, driver gap),
streaming progress records, and the peak resident memory of this
process and its driver JVM."""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``
    (field 22, start time in clock ticks after boot)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile by linear interpolation (0 when empty)."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class JobWindow:
    """Every Spark job submitted between :meth:`start` and :meth:`stop`,
    summarised from the JVM status store.  Runs are sequential, so the
    jobs of a window are exactly the jobs with ids above the highest id
    seen at its start."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._first_job = 0
        self._t0 = self._t1 = 0.0

    def _jobs(self):
        conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        return list(conv.asJava(self._store.jobsList(None)))

    def _max_job_id(self) -> int:
        return max((int(j.jobId()) for j in self._jobs()), default=-1)

    def start(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._first_job = self._max_job_id() + 1
        self._t0 = time.time()

    def stop(self) -> dict[str, float]:
        """Totals over the window's jobs and their stages, plus the
        driver gap: window wall time no job interval covers."""
        self._t1 = time.time()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            (
                "jobs",
                "stages",
                "tasks",
                "executor_run_ms",
                "executor_gc_ms",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
            ),
            0.0,
        )
        intervals = []
        seen_stages = set()
        for job in self._jobs():
            if int(job.jobId()) < self._first_job:
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["executor_run_ms"] += int(st.executorRunTime())
                out["executor_gc_ms"] += int(st.jvmGcTime())
                out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["driver_gap_ms"] = 1e3 * driver_gap_s(self._t0, self._t1, intervals)
        return out


def driver_gap_s(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Wall time of ``[t0, t1]`` that no job interval covers."""
    covered, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            covered += b - a
            end = b
    return max(0.0, (t1 - t0) - covered)


def _ts(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def trigger_stats(progress: list[dict]) -> dict[str, list[float]]:
    """Per-trigger samples from a query's progress records: the
    ``durationMs`` split and the wall gap between triggers that no
    trigger covers."""
    out: dict[str, list[float]] = {
        k: []
        for k in (
            "triggerExecution",
            "latestOffset",
            "getBatch",
            "queryPlanning",
            "addBatch",
            "walCommit",
            "commitOffsets",
            "gap",
        )
    }
    for p in progress:
        d = p.get("durationMs", {})
        for k in out:
            if k in d:
                out[k].append(float(d[k]))
    for prev, nxt in zip(progress, progress[1:]):
        end = _ts(prev) + prev["durationMs"]["triggerExecution"] / 1e3
        out["gap"].append(max(0.0, 1e3 * (_ts(nxt) - end)))
    return out
