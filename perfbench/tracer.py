"""Spans around the benchmark's calls into the engine, with Spark counters.

A span covers one call the client makes (a query, a pipeline stage, a
CLI mode). The Spark jobs a span caused are the jobs whose ids fall
between the highest job id seen when the span opened and when it
closed. Job ids are assigned in submission order, and the client runs
one call at a time, so this holds even for jobs submitted from the
engine's own thread pools, which do not inherit local properties such
as a job group.

Counters are read from the driver's status store after the listener
bus has drained. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import json

STAGE_COUNTERS = {
    # span key: (StageData accessor, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []

    def mark(self) -> int:
        """Highest job id submitted so far, once the listener bus has drained."""
        self._bus.waitUntilEmpty()
        # no query in the engine sets a job group, so the null group
        # holds every retained job
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    def close_span(self, span: dict, first_job: int) -> dict:
        """Attach the Spark counters of jobs ``(first_job, now]`` to ``span``."""
        last = self.mark()
        counters = dict.fromkeys(STAGE_COUNTERS, 0.0)
        counters.update(jobs=0, stages=0, tasks=0)
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(first_job + 1, last + 1):
            job = self._store.job(jid)
            counters["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = self._tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        for sid in sorted(stage_ids):
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            counters["stages"] += 1
            counters["tasks"] += stage.numTasks()
            for key, (accessor, scale) in STAGE_COUNTERS.items():
                counters[key] += getattr(stage, accessor)() * scale
        counters["exec_wall_s"] = union_seconds(intervals, span["start"], span["end"])
        span.update(first_job=first_job + 1, last_job=last, **counters)
        self.spans.append(span)
        return span

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
