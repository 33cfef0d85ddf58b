"""Benchmark-side tracing: spans around calls into each engine layer, a
streaming-progress listener, and job counts per Spark job group.

Nothing here reaches into the engine: spans wrap the public calls the
benchmark makes, the listener is a plain `StreamingQueryListener` keyed by
query name, and job/task counts come from the status tracker.

Spans live in memory and are written out once, when the run ends. A
layer's self time is its spans' duration minus the part of that interval
its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener

#: streaming query name (set by the engine's medallion runner) -> hop
HOPS = {"bronze_ingest": "bronze", "silver_parse": "silver", "gold_candles": "gold"}


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: int | None


class Tracer:
    """Span recorder. Inactive until `activate`; while inactive every
    `span` is a no-op, so one measurement loop serves traced and
    untraced segments."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def activate(self) -> None:
        self.active = True

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.active:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.time(), parent, request))

    def add(self, name: str, start: float, end: float, parent: int | None,
            request: int | None = None) -> None:
        """Record a span measured elsewhere (a streaming trigger)."""
        self.spans.append(Span(next(self._ids), name, start, end, parent, request))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans],
                 "self_time_s": self.self_times(), **extra},
                f,
            )


class HopListener(StreamingQueryListener):
    """Collects every progress report of the medallion hops.

    Events arrive asynchronously on the listener bus; `wait_terminated`
    blocks until every query seen starting has also reported its end, at
    which point all of its progress reports have been delivered."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._ended: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.name not in HOPS:
            return
        ops = p.stateOperators or []
        rec = {
            "hop": HOPS[p.name],
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self._cond:
            self.progress.append(rec)

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._ended.add(str(event.runId))
            self._cond.notify_all()

    def wait_terminated(self, timeout: float = 30.0) -> None:
        with self._cond:
            if not self._cond.wait_for(lambda: self._started <= self._ended, timeout):
                raise TimeoutError("streaming listener missed query terminations")


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under Spark job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks
