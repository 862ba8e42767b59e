"""Traced-run machinery: span wrappers, the Spark status-store sampler and
the per-layer self/wait report.

Spans are recorded by wrapping the package's public functions at runtime,
at the name their caller looks up (``retrieval_ext.run_sinks``, not
``sinks.run_sinks``), so the package itself is never edited. A span is
``[name, start, end, parent, op_id]`` with wall-clock (epoch) seconds, so
it can be intersected with Spark job intervals from the status store.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op_id: int | None = None
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = defaultdict(int)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, parent: int | None = None) -> int:
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
            self.spans.append([name, time.time(), None, parent, self.op_id])
            self.counts[name] += 1
        stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid][2] = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def span(self, name: str, fn, *args, **kwargs):
        sid = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(sid)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def patch_sinks(self, owner, attr: str = "run_sinks") -> None:
        """``run_sinks`` runs its thunks on pool threads; each thunk's span
        is parented to the ``sinks.run`` span that submitted it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*thunks):
            sid = tracer.open("sinks.run")

            def child(t):
                def run():
                    cid = tracer.open("sinks.thunk", parent=sid)
                    try:
                        t()
                    finally:
                        tracer.close(cid)
                        # pool threads are reused: never leak a stack entry
                        tracer._stack().clear()

                return run

            try:
                return orig(*[child(t) for t in thunks])
            finally:
                tracer.close(sid)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def layer_report(self, job_intervals: list[tuple[float, float]]) -> dict[str, dict]:
        """Per layer (span-name prefix before the first dot): inclusive
        time of its outermost spans, self time (span minus the union of
        its child spans) and Spark wait (the part of self time during
        which a Spark job was running)."""
        children: dict[int, list[int]] = defaultdict(list)
        for sid, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(sid)
        jobs = _union(job_intervals)
        out: dict[str, dict] = defaultdict(lambda: {"inclusive_s": 0.0, "self_s": 0.0, "spark_wait_s": 0.0})
        for sid, (name, t0, t1, parent, _op) in enumerate(self.spans):
            if t1 is None:
                continue
            layer = name.split(".", 1)[0]
            kids = _union([(max(t0, self.spans[c][1]), min(t1, self.spans[c][2] or t1))
                           for c in children[sid]])
            own = _subtract([(t0, t1)], kids)
            rec = out[layer]
            rec["self_s"] += _measure(own)
            rec["spark_wait_s"] += _measure(_intersect(own, jobs))
            if parent is None or self.spans[parent][0].split(".", 1)[0] != layer:
                rec["inclusive_s"] += t1 - t0
        return {k: {m: round(v, 6) for m, v in r.items()} for k, r in out.items()}


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(base, cut):
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _intersect(xs, ys):
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def _measure(iv) -> float:
    return sum(b - a for a, b in iv)


# ---------------------------------------------------------------------------
# Spark status store


class StatusSampler:
    """Reads the jobs and stages Spark ran since the previous sample from
    the application status store. Operations run one at a time, so the
    difference attributes every job to the operation that just ended,
    including jobs submitted from ``run_sinks`` pool threads."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_ms")

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._next_job = self._probe_next_job(0)
        self.job_intervals: list[tuple[float, float]] = []

    def _probe_next_job(self, start: int) -> int:
        self._bus.waitUntilEmpty()
        j = start
        while self._job(j) is not None:
            j += 1
        return j

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            return None

    def sample(self) -> dict[str, float]:
        """Counters of the jobs that ran since the last call."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(self.FIELDS, 0.0)
        seen_stages: set[int] = set()
        jid = self._next_job
        while True:
            job = self._job(jid)
            if job is None:
                break
            jid += 1
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                self.job_intervals.append((sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["input_mb"] += sd.inputBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                out["gc_ms"] += sd.jvmGcTime()
        self._next_job = jid
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from a DataFrame's QueryPlanningTracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] += float(kv._2().durationMs())
    return out
