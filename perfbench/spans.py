"""Spans and Spark counters recorded from outside the program under test.

A span is (name, start, end, parent, op id). A span that owns a job group
sets it in the thread that runs it, so every Spark job submitted from that
thread while the span is open carries the group; pinned-thread mode keeps
the property thread-local. After an op the counters of each group are read
from the public status APIs: ``statusTracker`` for job ids and
``AppStatusStore`` (``sc._jsc.sc().statusStore()``) for per-stage task
counts, run/CPU/GC time, shuffle bytes, spill and task-time quantiles.
Spans stay in memory until the run ends. ``Tracer.own_s`` sums the time
spent in the tracer's own bookkeeping while spans open and close (the
job-group calls into the JVM), the wall that tracing adds to a traced op.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    group: str | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class SparkCounts:
    """Counters summed over the Spark stages that a set of jobs ran."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    skew: float = 0.0
    # (max task ms, median task ms) of the stage with the largest max
    worst: tuple[float, float] = (0.0, 0.0)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)  # next() and append() are atomic
        self._stage_cache: dict[int, tuple] = {}
        self._seen_ungrouped: set[int] = set(self._ungrouped_jobs())
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None, parent: Span | None = None,
             group: bool = True):
        t0 = time.perf_counter()
        sid = next(self._ids)
        sp = Span(sid, name, op, parent.id if parent else None,
                  f"perfbench-{sid}-{name}" if group else None)
        prev = None
        if sp.group:
            prev = (self.sc.getLocalProperty(GROUP_PROP),
                    self.sc.getLocalProperty(DESC_PROP))
            self.sc.setLocalProperty(GROUP_PROP, sp.group)
            self.sc.setLocalProperty(DESC_PROP, name)
        sp.start = time.perf_counter()
        self.own_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp.group:
                self.sc.setLocalProperty(GROUP_PROP, prev[0])
                self.sc.setLocalProperty(DESC_PROP, prev[1])
            self.spans.append(sp)
            self.own_s += time.perf_counter() - sp.end

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed before the tracer existed (session start)."""
        self.spans.append(Span(next(self._ids), name, None, None, None, start, end))

    # -- Spark counters -------------------------------------------------
    def _ungrouped_jobs(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def new_ungrouped_jobs(self) -> list[int]:
        """Jobs without a group submitted since the last call (threads the
        program starts itself, e.g. its ontology preparation)."""
        new = [j for j in self._ungrouped_jobs() if j not in self._seen_ungrouped]
        self._seen_ungrouped.update(new)
        return new

    def group_jobs(self, spans) -> list[int]:
        tracker = self.sc.statusTracker()
        jobs: set[int] = set()
        for sp in spans:
            if sp.group:
                jobs.update(tracker.getJobIdsForGroup(sp.group))
        return sorted(jobs)

    def _stage(self, sid: int) -> tuple | None:
        """(tasks, run ms, cpu ns, gc ms, shuffle bytes, spill bytes,
        median task ms, max task ms) of a stage's last attempt; None when
        the stage was skipped (its output was reused)."""
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        store = self.sc._jsc.sc().statusStore()
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
            row = None
        else:
            qs = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = store.taskSummary(sid, sd.attemptId(), qs)
            med = mx = 0.0
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
            row = (
                sd.numCompleteTasks(),
                sd.executorRunTime(),
                sd.executorCpuTime(),
                sd.jvmGcTime(),
                sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                med,
                mx,
            )
        self._stage_cache[sid] = row
        return row

    def counts(self, job_ids) -> SparkCounts:
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        c = SparkCounts(jobs=len(job_ids))
        for sid in sorted(stage_ids):
            row = self._stage(sid)
            if row is None:
                continue
            tasks, run_ms, cpu_ns, gc_ms, shuf, spill, med, mx = row
            c.tasks += tasks
            c.run_s += run_ms / 1e3
            c.cpu_s += cpu_ns / 1e9
            c.gc_s += gc_ms / 1e3
            c.shuffle_bytes += shuf
            c.spill_bytes += spill
            if mx > c.worst[0]:
                c.worst = (mx, med)
        if c.worst[0] > 0:
            # a 0 ms median (sub-millisecond tasks) counts as 1 ms
            c.skew = c.worst[0] / max(c.worst[1], 1.0)
        return c


def overlap(a: tuple[float, float], intervals) -> float:
    """Length of interval ``a`` covered by the union of ``intervals``."""
    covered, reach = 0.0, a[0]
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, a[1])
        if e > s:
            covered += e - s
            reach = e
    return covered


def self_times(spans: dict[str, Span], deps: dict[str, tuple[str, ...]]) -> dict[str, float]:
    """A stage's wall minus the part of it spent while a stage it reads
    from was still running (e.g. ``links`` waiting on ``links_prov``)."""
    out = {}
    for name, sp in spans.items():
        ups = [(spans[d].start, spans[d].end) for d in deps.get(name, ()) if d in spans]
        out[name] = sp.wall - overlap((sp.start, sp.end), ups)
    return out


def critical_path(selfs: dict[str, float], deps: dict[str, tuple[str, ...]]):
    """Longest chain of data dependencies, weighted by self time."""
    memo: dict[str, tuple[float, list[str]]] = {}

    def best(name: str) -> tuple[float, list[str]]:
        if name not in memo:
            ups = [best(d) for d in deps.get(name, ()) if d in selfs]
            length, path = max(ups, default=(0.0, []))
            memo[name] = (length + selfs[name], path + [name])
        return memo[name]

    return max((best(n) for n in selfs), default=(0.0, []))


def median(values) -> float:
    return statistics.median(values) if values else 0.0
