"""Traced-run tooling: an in-memory span recorder, module-attribute
wrappers that time calls into the engine's public functions, a Spark
status-store reader that attributes jobs to operations, and the
per-layer self-time report.

Nothing here runs unless ``--trace 1`` is given; the untraced run never
imports the wrappers into the engine."""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    sid: int = 0


@dataclass
class SpanRecorder:
    """Spans kept in memory; written out only when the run ends."""

    spans: list[Span] = field(default_factory=list)
    calls: int = 0
    _tls: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        st = self._stack()
        parent = st[-1] if st else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), parent=parent, op=op)
        with self._lock:
            s.sid = len(self.spans)
            self.spans.append(s)
            self.calls += 1
        st.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name, over spans inside measured operations: call
        count, total and self time in ms. Self time is the span's duration
        minus the union of the intervals its direct children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.op is None:  # outside any measured operation (set-up)
                continue
            covered = union_length(
                [(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end
            )
            d = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            d["calls"] += 1
            d["total_ms"] += (s.end - s.start) * 1e3
            d["self_ms"] += (s.end - s.start - covered) * 1e3
        return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------- #
# module-attribute wrapping
# --------------------------------------------------------------------- #


class Wrapper:
    """Installs span-recording wrappers on engine functions and methods
    and restores the originals on ``restore()``.

    A function imported by name into other modules (``from x import f``)
    is rebound in every loaded ``moonlink_spark`` module that holds the
    same object, so calls through any import path are timed."""

    def __init__(self, rec: SpanRecorder):
        self.rec = rec
        self._undo: list[tuple[object, str, object]] = []

    def _wrapped(self, fn, name: str, count=None, counter=None):
        """``count(args, kwargs, result)`` returns an amount added to
        ``counter(name, amount)`` after each call (None adds nothing). A
        generator function is timed per ``next()``, so laziness and early
        exits of its callers are unchanged."""
        rec = self.rec

        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_inner(*a, **kw):
                if count is not None:
                    v = count(a, kw, None)
                    if v is not None:
                        counter(name, v)
                it = fn(*a, **kw)
                while True:
                    with rec.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item

            return gen_inner

        @functools.wraps(fn)
        def inner(*a, **kw):
            with rec.span(name):
                r = fn(*a, **kw)
            if count is not None:
                v = count(a, kw, r)
                if v is not None:
                    counter(name, v)
            return r

        return inner

    def function(self, module, attr: str, name: str, count=None, counter=None) -> None:
        orig = getattr(module, attr)
        w = self._wrapped(orig, name, count, counter)
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith("moonlink_spark")
                and getattr(mod, attr, None) is orig
            ):
                self._undo.append((mod, attr, orig))
                setattr(mod, attr, w)

    def method(self, cls, attr: str, name: str, count=None, counter=None) -> None:
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self._wrapped(orig, name, count, counter))

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()


def calibrate_wrapper_cost(n: int = 20000) -> float:
    """Seconds one wrapped call adds over a plain call."""
    rec = SpanRecorder()
    w = Wrapper(rec)

    def f():
        return None

    g = w._wrapped(f, "calib")
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    t1 = time.perf_counter()
    for _ in range(n):
        g()
    t2 = time.perf_counter()
    return max(0.0, ((t2 - t1) - (t1 - t0)) / n)


# --------------------------------------------------------------------- #
# Spark status store
# --------------------------------------------------------------------- #


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_rows: int = 0


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(sc, after_job_id: int = -1) -> list[JobInfo]:
    """Every finished job with id > ``after_job_id``, with stage metrics
    from the status store (works with ``spark.ui.enabled=false``)."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        if jid <= after_job_id:
            continue
        sub = _opt(j.submissionTime())
        end = _opt(j.completionTime())
        if sub is None or end is None:
            continue
        info = JobInfo(
            jid, _opt(j.jobGroup()), sub.getTime() / 1e3, end.getTime() / 1e3
        )
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(int(sids.apply(k)))
            except Py4JJavaError:  # stage skipped or evicted from the store
                continue
            info.stages += 1
            info.tasks += int(st.numCompleteTasks())
            info.run_ms += float(st.executorRunTime())
            info.cpu_ms += float(st.executorCpuTime()) / 1e6
            info.input_bytes += int(st.inputBytes())
            info.input_rows += int(st.inputRecords())
            info.shuffle_read += int(st.shuffleReadBytes())
            info.shuffle_write += int(st.shuffleWriteBytes())
        out.append(info)
    return out


def last_job_id(sc) -> int:
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    return max((int(jobs.apply(i).jobId()) for i in range(jobs.size())), default=-1)


def attribute_jobs(jobs: list[JobInfo], ops: list[tuple[str, float, float]]):
    """Map op id -> its jobs. A job carrying a job group belongs to that
    group's op; a job launched from a helper thread carries none and is
    attributed to the op whose wall-clock window holds its submission
    (there is a single client, so windows do not overlap)."""
    by_op: dict[str, list[JobInfo]] = {op: [] for op, _s, _e in ops}
    for j in jobs:
        if j.group in by_op:
            by_op[j.group].append(j)
            continue
        for op, s, e in ops:
            if s - 0.002 <= j.submit <= e + 0.002:
                by_op[op].append(j)
                break
    return by_op


def job_span_union_ms(jobs: list[JobInfo], lo: float, hi: float) -> float:
    return union_length([(j.submit, j.end) for j in jobs], lo, hi) * 1e3
