"""Spans around calls into the engine's public functions.

A :class:`Tracer` records, per span: name, start, end, parent, the id of
the operation it belongs to, the py4j round trips made inside it, and the
Spark jobs it launched.  Jobs are attributed through a per-span job group
(``sc.setJobGroup``) read back with ``statusTracker().getJobIdsForGroup``;
job intervals and stage metrics come from the application status store,
which is populated even with the UI disabled.

Spans stay in memory; :meth:`Tracer.dump` writes them once at the end.
With tracing off, :class:`NullTracer` makes every span a no-op.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = ("executorRunTime", "inputBytes", "inputRecords",
                "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "numFailedTasks",
                "numTasks")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    jobs: list[int] = field(default_factory=list)
    # filled by Tracer.resolve(): summed stage metrics + job intervals
    spark: dict = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class _Py4jCounter:
    """Counts round trips by wrapping this process's py4j client."""

    def __init__(self, sc):
        self.n = 0
        client = sc._gateway._gateway_client
        orig = client.send_command

        def counting(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        client.send_command = counting
        self._client, self._orig = client, orig

    def close(self) -> None:
        self._client.send_command = self._orig


class NullTracer:
    enabled = False
    phase = ""
    cycle = -1

    @contextlib.contextmanager
    def op(self, name: str):
        yield None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._ops = itertools.count()
        self._op = -1
        # op id -> {"kind", "phase", "cycle"}; the runner sets phase/cycle
        self.ops: dict[int, dict] = {}
        self.phase = ""
        self.cycle = -1
        self._py4j = _Py4jCounter(sc)
        # wall clock of the perf_counter origin, to place job intervals
        # (reported in epoch milliseconds) on the span time line
        self._epoch0 = time.time() - time.perf_counter()

    def close(self) -> None:
        self._py4j.close()

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one operation; its children share its op id."""
        self._op = next(self._ops)
        self.ops[self._op] = {"kind": name, "phase": self.phase,
                              "cycle": self.cycle}
        with self.span(name) as s:
            yield s

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        s = Span(sid, name, self._op, parent.id if parent else None, 0.0)
        self._stack.append(s)
        calls0 = self._py4j.n
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j_calls = self._py4j.n - calls0
            self._stack.pop()
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def resolve(self) -> None:
        """Read job intervals and stage metrics for every unresolved span.
        Call between operations: the status store keeps a bounded number
        of jobs, and is filled asynchronously by the listener bus."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for s in self.spans:
            if s.spark or not s.jobs:
                s.spark = s.spark or {"jobs": 0, "stages": 0}
                continue
            tot = dict.fromkeys(STAGE_FIELDS, 0)
            n_stages = 0
            for jid in s.jobs:
                jd = store.job(jid)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1000.0 - self._epoch0,
                         comp.get().getTime() / 1000.0 - self._epoch0))
                seq = jd.stageIds()    # a Scala Seq
                for stage_id in (seq.apply(i) for i in range(seq.size())):
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # skipped stage: never attempted
                        continue
                    n_stages += 1
                    for f in STAGE_FIELDS:
                        tot[f] += int(getattr(st, f)())
            tot["jobs"] = len(s.jobs)
            tot["stages"] = n_stages
            s.spark = tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------- analysis

def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return span.duration - union_length([(c.start, c.end) for c in children])


def job_time(span: Span) -> float:
    """Seconds of the span during which at least one of its jobs ran."""
    clipped = [(max(lo, span.start), min(hi, span.end))
               for lo, hi in span.job_intervals]
    return union_length([iv for iv in clipped if iv[1] > iv[0]])
