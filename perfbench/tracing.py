"""In-memory span tracing for the benchmark's traced runs.

A span records (name, start, end, parent, request id) plus the Spark jobs,
stages and tasks launched while it was the innermost open span.  Each span
gets its own Spark job group, so the status tracker attributes every job to
exactly one span; the counts are read once, by ``count_jobs`` after the
run, to keep status-tracker calls out of the timed region.  A span's self
time is its duration minus the time its child spans cover.

Spans are opened by the benchmark around calls into the engine's public
functions, never inside the engine: ``wrap`` replaces a function at the
module attribute where its caller looks it up, and ``restore`` puts the
originals back.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid", "jobs", "stages", "tasks", "child_s")

    def __init__(self, sid, name, start, parent, rid):
        self.sid, self.name, self.start, self.parent, self.rid = sid, name, start, parent, rid
        self.end = None
        self.jobs = self.stages = self.tasks = 0
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.rid = None  # request id stamped on every span opened while set

    def group(self, span: Span) -> str:
        return f"perfbench-{span.sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent.sid if parent else None, self.rid)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.dur
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count_jobs(self) -> None:
        """Fill in every span's Spark job, stage and task counts.  The
        status tracker must still hold the run's jobs: traced runs raise
        its retention limits (see run.py)."""
        st = self.sc.statusTracker()
        for s in self.spans:
            for jid in st.getJobIdsForGroup(self.group(s)):
                s.jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None and stage.numTasks > 0:
                        s.stages += 1
                        s.tasks += stage.numCompletedTasks

    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace ``owner.attr`` (a module function or a class method) as ``name``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- reporting -------------------------------------------------------

    def by_name(self, name: str, window: tuple[float, float] | None = None) -> list[Span]:
        """Spans called ``name``, only those that started inside ``window`` if given."""
        lo, hi = window or (float("-inf"), float("inf"))
        return [s for s in self.spans if s.name == name and lo <= s.start <= hi]

    def self_p50(self, name: str, window: tuple[float, float] | None = None) -> float:
        """Median self time per call, 0.0 when the span never opened."""
        got = self.by_name(name, window)
        return statistics.median(s.self_s for s in got) if got else 0.0

    def coverage(self, window: tuple[float, float]) -> float:
        """Share of ``window`` spent inside outermost spans that started in it."""
        lo, hi = window
        inside = sum(s.dur for s in self.spans if s.parent is None and lo <= s.start <= hi)
        return inside / (hi - lo)

    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [root], {root.sid}
        for s in self.spans[root.sid + 1 :]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.sid)
        return out

    def total_jobs(self, span: Span) -> int:
        """Spark jobs launched by ``span`` and the spans under it."""
        return sum(c.jobs for c in self.subtree(span))

    def jobs_p50(self, name: str, window: tuple[float, float] | None = None) -> float:
        """Median Spark jobs per call, child spans included; 0.0 when never opened."""
        got = self.by_name(name, window)
        return statistics.median(self.total_jobs(s) for s in got) if got else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")
