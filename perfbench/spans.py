"""Spans around calls into the engine, with Spark jobs attributed by job id.

A span records name, start, end and parent. It also records the DAG
scheduler's job counter at both ends, so the span owns every job submitted
between them: the jobs its calls submit from helper thread pools included,
which a job group would miss. The benchmark drives the engine from one
thread, so two windows never interleave; a child's window nests inside its
parent's. The span's name is also set as the calling thread's job group;
jobs in the window without it (`other_thread_jobs`) came from other
threads, and show what group-based attribution would have dropped.

Nothing is read from the status store while a span is open.
`spark_metrics()` waits for the listener bus, then reads the per-stage
metrics of a closed span's jobs. `self_s` adds up the tracer's own time
when spans open and close, which is all that tracing adds inside a pass.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: Span | None
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    children: list[Span] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.self_s = 0.0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def job_count(self) -> int:
        """Jobs submitted so far in this SparkContext."""
        return self._jsc.dagScheduler().numTotalJobs()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time(), self.job_count())
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self._sc.setLocalProperty("spark.jobGroup.id", name)
        self.self_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.job_hi = self.job_count()
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            self._sc.setLocalProperty(
                "spark.jobGroup.id", parent.name if parent is not None else None
            )
            self.self_s += time.perf_counter() - t0

    def spark_metrics(self, span: Span) -> dict[str, float]:
        """Per-stage metrics summed over the jobs in the span's window."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {
            "jobs": float(span.job_hi - span.job_lo),
            "tasks": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_bytes": 0.0,
            "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0,
            "other_thread_jobs": 0.0,
        }
        groups = _names(span)
        intervals: list[tuple[float, float]] = []
        seen: set[int] = set()
        slowest = None  # (run ms, stage id, attempt id)
        for job_id in range(span.job_lo, span.job_hi):
            job = store.job(job_id)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in groups:
                out["other_thread_jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else span.end
                intervals.append((sub.get().getTime() / 1e3, end))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: an earlier job's output was reused
                run_ms = st.executorRunTime()
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += run_ms / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if slowest is None or run_ms > slowest[0]:
                    slowest = (run_ms, sid, st.attemptId())
        out["task_skew"] = self._task_skew(store, slowest)
        out["no_job_s"] = span.wall - _covered(intervals, span.start, span.end)
        return out

    def _task_skew(self, store, slowest) -> float:
        """max / median task run time of the stage with the most run time."""
        if slowest is None:
            return 1.0
        gw = self._sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(slowest[1], slowest[2], qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def _names(span: Span) -> set[str]:
    return {span.name}.union(*(_names(c) for c in span.children))


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
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
