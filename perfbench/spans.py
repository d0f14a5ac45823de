"""Spans around the package's public functions, tied to Spark jobs.

A span records name, thread, start and end, and its parent in the same
thread. While a span is open its thread's Spark job group is
`pb:<span id>`, so every job it submits can be read back from the JVM
status store (which works with the UI off) and charged to it. Spans live
in memory; `spark_jobs()` reads the job and stage records once, after the
measured work.

Functions are wrapped from outside the package by replacing module and
class attributes (`patch`); `unpatch` restores the originals.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    sid: int
    name: str
    thread: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    tasks: int
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def sid(self) -> int | None:
        if self.group and self.group.startswith(GROUP_PREFIX):
            return int(self.group[len(GROUP_PREFIX):])
        return None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.self_s = 0.0  # time spent in span bookkeeping
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._stack.__dict__.setdefault("s", [])
        with self._lock:
            sp = Span(len(self.spans), name, threading.get_ident(),
                      stack[-1].sid if stack else None, 0.0, attrs=attrs)
            self.spans.append(sp)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.sid}", name)
        stack.append(sp)
        sp.start = time.time()
        self._add_self(t_in)
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)
            self._add_self(t_out)

    def _add_self(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        with self._lock:
            self.self_s += dt

    def patch(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace owner.attr with a wrapper that runs it inside a span;
        attrs_of(args, kwargs) may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def root(self, sid: int, stop: int | None = None) -> int:
        """Outermost ancestor of span sid in its thread (not above stop)."""
        while True:
            p = self.spans[sid].parent
            if p is None or p == stop:
                return sid
            sid = p

    def spark_jobs(self) -> list[Job]:
        """Every finished job with its stages' task metrics summed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0), None)
        per_stage: dict[int, tuple] = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            per_stage[st.stageId()] = (
                st.executorRunTime() / 1e3,
                st.executorCpuTime() / 1e9,
                st.shuffleWriteBytes(),
                st.memoryBytesSpilled() + st.diskBytesSpilled(),
            )
        jobs = []
        raw = store.jobsList(None)
        for i in range(raw.size()):
            j = raw.apply(i)
            if not j.completionTime().isDefined():
                continue
            g = j.jobGroup()
            job = Job(
                g.get() if g.isDefined() else None,
                j.submissionTime().get().getTime() / 1e3,
                j.completionTime().get().getTime() / 1e3,
                j.numTasks(),
            )
            ids = j.stageIds()
            for k in range(ids.size()):
                m = per_stage.get(ids.apply(k))
                if m:
                    job.run_s += m[0]
                    job.cpu_s += m[1]
                    job.shuffle_bytes += m[2]
                    job.spill_bytes += m[3]
            jobs.append(job)
        return jobs


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
