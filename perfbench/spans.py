"""Span tracer for the benchmark's traced run.

A span wraps one call into a layer of the program. Entering a span sets a
Spark job group that is unique to the span and restores the caller's group
on exit, so every Spark job submitted while the span is innermost belongs to
it. After the measured work, ``collect`` reads each group's jobs and stages
from Spark's status store (which is filled with the UI disabled) and folds
the stage metrics into the span.

Derived figures:

* self time   = span wall minus the union of its direct children's walls;
* driver-only = span wall minus the union of the stage intervals of the span
  and its descendants, i.e. time in which none of its stages was running.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark local properties that ``SparkContext.setJobGroup`` writes.
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")

STAGE_FIELDS = ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)
    group: str = ""
    jobs: int = 0
    stages: int = 0
    # (start, end) epoch seconds of every stage this span's own jobs ran
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)
    totals: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))

    @property
    def wall(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs of start, end), clipped
    to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span) -> float:
    """Span wall minus the part of it that its direct children cover."""
    return span.wall - union_length(
        [(c.start, c.end) for c in span.children], span.start, span.end)


def driver_only_time(span: Span) -> float:
    """Span wall minus the union of stage intervals of the span's subtree."""
    ivs = [iv for s in span.walk() for iv in s.stage_intervals]
    return span.wall - union_length(ivs, span.start, span.end)


class Tracer:
    """Records spans around calls made from the benchmark's own code.

    Spans use epoch seconds (``time.time``) so they can be compared with
    Spark's stage submission and completion times."""

    def __init__(self, sc):
        self.sc = sc
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        # time the tracer itself spends inside the measured region
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent, group=f"perfbench-{self._n}")
        (parent.children if parent else self.roots).append(sp)
        saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            for p, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(p, v)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def spans(self):
        for r in self.roots:
            yield from r.walk()

    def collect(self) -> None:
        """Fold Spark job and stage metrics into every recorded span. Call
        once, after the measured work. A stage that several jobs share is
        counted once, in the first job that lists it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        by_job = []
        for sp in self.spans():
            for jid in tracker.getJobIdsForGroup(sp.group):
                by_job.append((jid, sp))
        seen_stages: set[int] = set()
        for jid, sp in sorted(by_job, key=lambda x: x[0]):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in sorted(info.stageIds):
                if sid in seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                sub, done = st.submissionTime(), st.completionTime()
                if not sub.isDefined():
                    continue        # skipped: its output was reused
                seen_stages.add(sid)
                sp.stages += 1
                end = done.get().getTime() if done.isDefined() else \
                    sub.get().getTime()
                sp.stage_intervals.append(
                    (sub.get().getTime() / 1000.0, end / 1000.0))
                t = sp.totals
                t["tasks"] += st.numTasks()
                t["task_s"] += st.executorRunTime() / 1000.0
                t["cpu_s"] += st.executorCpuTime() / 1e9
                t["gc_s"] += st.jvmGcTime() / 1000.0
                t["shuffle_write_bytes"] += st.shuffleWriteBytes()
                t["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                t["failed_tasks"] += st.numFailedTasks()

    def subtree_totals(self, span: Span) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = out["stages"] = 0
        for s in span.walk():
            for k, v in s.totals.items():
                out[k] += v
            out["jobs"] += s.jobs
            out["stages"] += s.stages
        return out

    def report_lines(self) -> list[str]:
        """One line per span (indented by depth) with wall, self time,
        driver-only time and its own jobs and stages, then one line per root
        for the part of the root not covered by any child span."""
        lines = []

        def emit(sp: Span, depth: int) -> None:
            lines.append(
                f"{'  ' * depth}{sp.name:<{34 - 2 * depth}} "
                f"wall={sp.wall:8.3f}s self={self_time(sp):8.3f}s "
                f"driver_only={driver_only_time(sp):8.3f}s "
                f"jobs={sp.jobs} stages={sp.stages} "
                f"task_s={sp.totals['task_s']:.3f}")
            for c in sp.children:
                emit(c, depth + 1)

        for r in self.roots:
            emit(r, 0)
            if r.children:
                lines.append(f"{'(not covered by a child span)':<34} "
                             f"{self_time(r):8.3f}s of {r.wall:.3f}s "
                             f"in {r.name}")
        return lines
