"""Per-layer counters read from outside the engine.

Every call into a layer runs under its own Spark job group. After the
call returns, the jobs of that group, their stages and their task
totals are read from the driver's status store over py4j (the same
surface ``plans/bsp.shuffle_bytes_since`` reads). Nothing inside the
engine is instrumented, so a traced run executes the same plans as an
untraced one; the reads happen between calls, outside every span.
"""

from __future__ import annotations

import statistics
import time
import uuid
from typing import Any, Callable

# counters recorded on every span, with their units
SPAN_COUNTERS = {
    "wall_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "driver_gap_ms": "ms",
    "task_cpu_ms": "ms",
    "task_wait_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "cached_added": "count",
}


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.

    Jobs of one span can overlap (AQE submits shuffle-map stages and
    broadcasts as concurrent jobs), so their lengths cannot simply be
    summed."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _epoch_ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


class StatusReader:
    """Thin py4j view of one SparkContext's job tracker and status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = spark._jsparkSession.sparkContext()
        self.store = jsc.statusStore()
        self.tracker = jsc.statusTracker()
        self._empty = spark._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(spark._jvm.double, 0)

    def max_stage_id(self) -> int:
        stages = self.store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        n = stages.size()
        # the store lists stages newest first; reading both ends stays
        # right if that order ever flips
        return max(stages.apply(0).stageId(), stages.apply(n - 1).stageId()) if n else -1

    def drain(self) -> None:
        """Wait until the listener bus has applied every event posted so
        far, so the store holds the finished jobs and their task totals."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(int(j) for j in self.tracker.getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict[str, Any]:
        jd = self.store.job(job_id)
        sids = jd.stageIds()
        group = jd.jobGroup()
        return {
            "group": group.get() if group.isDefined() else None,
            "submit_ms": _epoch_ms(jd.submissionTime()),
            "complete_ms": _epoch_ms(jd.completionTime()),
            "stage_ids": [int(sids.apply(i)) for i in range(sids.size())],
        }

    def stage(self, stage_id: int) -> dict[str, int]:
        """Totals over every attempt of one stage."""
        out = dict.fromkeys(
            ("tasks", "tasks_failed", "cpu_ns", "run_ms", "shuffle_write_bytes",
             "spill_bytes", "gc_ms"), 0,
        )
        attempts = self.store.stageData(
            stage_id, False, self._empty, False, self._no_quantiles
        )
        for i in range(attempts.size()):
            s = attempts.apply(i)
            out["tasks"] += s.numCompleteTasks()
            out["tasks_failed"] += s.numFailedTasks()
            out["cpu_ns"] += s.executorCpuTime()
            out["run_ms"] += s.executorRunTime()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_ms"] += s.jvmGcTime()
        return out

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


class Tracer:
    """Times each call; when ``enabled``, also attributes Spark work to it.

    ``span(name, fn)`` runs ``fn`` and returns its result. Wall times are
    kept in both modes, so the untraced run and the traced run time the
    same calls the same way. Counters of one span name are kept per
    call and summarised as medians by :meth:`span_summary`."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.reader = StatusReader(spark) if enabled else None
        self.calls: dict[str, list[dict[str, float]]] = {}
        self.totals = {"tasks_failed": 0, "spill_bytes": 0, "gc_ms": 0}
        self.read_ms = 0.0
        # job groups must not repeat within the SparkContext, also across
        # tracers: a group's job list is cumulative
        self.prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._seq = 0

    def span(self, name: str, fn: Callable[[], Any]) -> Any:
        if not self.enabled:
            t0 = time.monotonic()
            out = fn()
            self.calls.setdefault(name, []).append(
                {"wall_ms": (time.monotonic() - t0) * 1000.0}
            )
            return out
        self._seq += 1
        group = f"{self.prefix}-{self._seq}-{name}"
        r0 = time.monotonic()
        stage_mark = self.reader.max_stage_id()
        cached_before = self.reader.persisted_rdds()
        self.read_ms += (time.monotonic() - r0) * 1000.0
        sc = self.reader.sc
        sc.setJobGroup(group, name)
        t0 = time.monotonic()
        w0 = time.time() * 1000.0
        try:
            out = fn()
        finally:
            w1 = time.time() * 1000.0
            wall_ms = (time.monotonic() - t0) * 1000.0
            sc._jsc.clearJobGroup()
        r0 = time.monotonic()
        self.calls.setdefault(name, []).append(
            self._attribute(group, stage_mark, cached_before, w0, w1, wall_ms)
        )
        self.read_ms += (time.monotonic() - r0) * 1000.0
        return out

    def _attribute(
        self, group, stage_mark, cached_before, w0, w1, wall_ms
    ) -> dict[str, float]:
        reader = self.reader
        reader.drain()
        jobs = [reader.job(j) for j in reader.job_ids(group)]
        # a stage can be listed by several jobs (AQE re-plans reuse
        # shuffle-map stages); stages created before the span began
        # belong to earlier spans and only show up here as skipped
        stage_ids = sorted(
            {s for j in jobs for s in j["stage_ids"] if s > stage_mark}
        )
        st = dict.fromkeys(
            ("tasks", "tasks_failed", "cpu_ns", "run_ms", "shuffle_write_bytes",
             "spill_bytes", "gc_ms"), 0,
        )
        for sid in stage_ids:
            for k, v in reader.stage(sid).items():
                st[k] += v
        in_jobs = union_ms(
            [(j["submit_ms"], j["complete_ms"] or w1) for j in jobs if j["submit_ms"]],
            w0, w1,
        )
        for k in self.totals:
            self.totals[k] += st[k]
        cpu_ms = st["cpu_ns"] / 1e6
        return {
            "wall_ms": wall_ms,
            "jobs": len(jobs),
            "tasks": st["tasks"],
            "driver_gap_ms": max(0.0, (w1 - w0) - in_jobs),
            "task_cpu_ms": cpu_ms,
            "task_wait_ms": max(0.0, st["run_ms"] - cpu_ms),
            "shuffle_write_bytes": st["shuffle_write_bytes"],
            # RDDs the call left persisted (negative if it released more)
            "cached_added": reader.persisted_rdds() - cached_before,
        }

    def span_summary(self, name: str) -> dict[str, float]:
        """Median of each counter over the calls of ``name`` (0 if never called)."""
        calls = self.calls.get(name, [])
        return {
            k: statistics.median(c[k] for c in calls) if calls else 0
            for k in SPAN_COUNTERS
        }
