"""Layer spans read from outside the engine.

A :class:`Tracer` wraps each public engine call of an op in its own Spark
job group, times it, and afterwards reads that group's jobs, stages, tasks,
shuffle, spill and output bytes from Spark's status tracker and status
store. Nothing inside the engine is instrumented. The untraced run uses
:class:`Timer`, which only reads the clock, so the two runs differ by
exactly the tracing work.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
COUNTERS = ("jobs", "stages", "tasks", "shuffle_mb", "spill_mb", "write_mb")


@dataclass
class Span:
    name: str
    seconds: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    write_mb: float = 0.0


@dataclass
class OpTrace:
    spans: list[Span] = field(default_factory=list)
    # set by the streaming workload: progress reports of its query's triggers
    triggers: list = field(default_factory=list)

    def by_name(self) -> dict[str, Span]:
        """Spans summed per name, plus ``op``: the sum of all spans."""
        out: dict[str, Span] = {}
        for s in self.spans:
            for name in (s.name, "op"):
                acc = out.setdefault(name, Span(name, 0.0))
                acc.seconds += s.seconds
                for k in COUNTERS:
                    setattr(acc, k, getattr(acc, k) + getattr(s, k))
        return out


class Timer:
    """Untraced spans: wall time only, no job groups, no status reads."""

    def __init__(self) -> None:
        self.op = OpTrace()

    def begin_op(self, index: int) -> None:
        self.op = OpTrace()

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield []
        finally:
            self.op.spans.append(Span(name, time.perf_counter() - t0))

    def end_op(self) -> OpTrace:
        return self.op


class Tracer(Timer):
    """Traced spans: one job group per span, counters read after the op.

    A span yields a list; a caller appends to it the job groups that jobs
    of the span run under without being set here (a streaming query's run
    id), and those jobs are added to the span.
    """

    def __init__(self, spark) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._index = 0
        self._groups: list[tuple[Span, list[str]]] = []

    def begin_op(self, index: int) -> None:
        super().begin_op(index)
        self._index = index
        self._groups = []

    @contextmanager
    def span(self, name: str):
        own = f"perfbench:{self._index}:{len(self.op.spans)}:{name}"
        self.sc.setJobGroup(own, name)
        extra: list[str] = []
        t0 = time.perf_counter()
        try:
            yield extra
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setJobGroup(None, None)
            s = Span(name, seconds)
            self.op.spans.append(s)
            self._groups.append((s, [own, *extra]))

    def end_op(self) -> OpTrace:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for s, groups in self._groups:
            for g in groups:
                for jid in sorted(tracker.getJobIdsForGroup(g)):
                    _add_job(s, store, jid, seen)
        return self.op


def _add_job(s: Span, store, jid: int, seen: set[int]) -> None:
    """Add one job's executed stages to ``s``. A job that reuses an earlier
    job's shuffle lists that stage id too; ``seen`` counts it only once."""
    s.jobs += 1
    ids = store.job(jid).stageIds()
    for i in range(ids.size()):
        sid = ids.apply(i)
        if sid in seen:
            continue
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # skipped before it was ever submitted
        if st.status().toString() != "COMPLETE":
            continue  # skipped, never ran
        seen.add(sid)
        s.stages += 1
        s.tasks += st.numCompleteTasks()
        s.shuffle_mb += st.shuffleWriteBytes() / MB
        s.spill_mb += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / MB
        s.write_mb += st.outputBytes() / MB


def summarize(ops: list[OpTrace]) -> dict[str, float]:
    """Median over ops of each span's seconds and counters."""
    from statistics import median

    cols: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        for name, s in op.by_name().items():
            for k in ("seconds", *COUNTERS):
                cols[f"{name}.{k}"].append(getattr(s, k))
    return {k: median(v) for k, v in cols.items()}
