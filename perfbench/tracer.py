"""In-memory span tracer for the benchmark's traced run.

A span is recorded around each call the benchmark makes into a layer
of the engine: name, start, end, parent span, and the deltas of the
Spark application status store over the span (jobs, completed tasks,
executor shuffle-write and input bytes). The part of the span during
which no Spark job was running is ``driver_s``: time the driver spent
in Python/JVM planning, collects and driver-side rendering with the
executors idle.

Spark plans are lazy, so a traced span materialises its output
(:meth:`Tracer.materialise`) before it closes; otherwise the work
would be charged to whichever later span first runs an action. With
tracing disabled every method is a no-op and ``materialise`` returns
its argument unchanged, so the untraced run executes the plan exactly
as a user would.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self._stack: list[int] = []
        self._store = None

    def bind(self, spark) -> None:
        """Read counters from ``spark``'s status store from now on (a
        span opened before any session exists records wall time only)."""
        if self.enabled:
            self._store = spark.sparkContext._jsc.sc().statusStore()

    # -- status-store reads (one py4j round trip each) -------------------
    def _next_job_id(self) -> int:
        if self._store is None:
            return 0
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def _jobs_since(self, first: int) -> list[tuple[int, int, int]]:
        """(completed tasks, submit ms, end ms) of every job >= first."""
        out = []
        if self._store is None:
            return out
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < first:
                break
            sub, end = j.submissionTime(), j.completionTime()
            out.append((
                j.numCompletedTasks(),
                sub.get().getTime() if sub.isDefined() else 0,
                end.get().getTime() if end.isDefined() else int(time.time() * 1000),
            ))
        return out

    def _executor_totals(self) -> tuple[int, int]:
        shuffle = inp = 0
        if self._store is None:
            return shuffle, inp
        ex = self._store.executorList(True)
        for i in range(ex.size()):
            e = ex.apply(i)
            shuffle += e.totalShuffleWrite()
            inp += e.totalInputBytes()
        return shuffle, inp

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict (or None when disabled) so
        the caller can attach counts measured inside the span."""
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        first_job = self._next_job_id()
        shuffle0, input0 = self._executor_totals()
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - t0
            sp["end"] = time.time()
            self._stack.pop()
            jobs = self._jobs_since(first_job)
            shuffle1, input1 = self._executor_totals()
            sp["jobs"] = len(jobs)
            sp["tasks"] = sum(j[0] for j in jobs)
            sp["shuffle_bytes"] = shuffle1 - shuffle0
            sp["input_bytes"] = input1 - input0
            busy = _union_ms([(j[1], j[2]) for j in jobs],
                             sp["start"] * 1000, sp["end"] * 1000)
            sp["driver_s"] = max(0.0, sp["wall_s"] - busy / 1000)

    def record(self, name: str, **values) -> None:
        """Attach a point-in-time count (no duration) to the trace."""
        if self.enabled:
            self.events.append({"name": name, "time": time.time(),
                                "parent": self._stack[-1] if self._stack else None,
                                **values})

    def materialise(self, df):
        """Run ``df`` to completion inside the current span (traced run
        only) and return a frame reading the materialised rows."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    # -- summaries -----------------------------------------------------------
    def calls(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "events": self.events}, f)


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
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
