"""``dashboard``: one closed-loop client serving a dashboard from the
lakehouse's read and write paths, and no streaming code.

One pass is a seeded permutation of eight steps: the seven query ops of
`query_mix` and one Delta upsert cycle of `delta_upsert` (a merge, then
two dashboard reads of the Delta gold table). Every op, merge and read
is one latency sample, so a pass gives 10. A window runs a fixed number
of whole passes, one per `PASS_S` seconds of ``--seconds``, so every run
holds each call equally often whatever the seed or the host speed: the
seed changes the order, never the mix or the count. A geometric mean
over the run's samples then does not depend on which calls rank near the
middle, as a median of these multimodal latencies (0.1-3 s) would.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from common import Measured
from delta_upsert import READS, DeltaUpsert
from query_mix import OPS, QueryMix

#: a pass's steps: every query op and one Delta upsert cycle
STEPS = OPS + ("delta",)
#: seconds of ``--seconds`` per pass; one warm pass takes 8-10 s on a
#: 4-core host.
#: Stopping on the clock instead let a fast pass admit one more pass,
#: which changed the mix and moved the metric by a fifth.
PASS_S = 10


class DashboardMix:
    name = "dashboard"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.queries = QueryMix(ctx)
        self.delta = DeltaUpsert(ctx)

    def generate(self) -> None:
        self.queries.generate()
        self.delta.generate()
        rng = np.random.default_rng(self.ctx.seed)
        self.sequence = [list(rng.permutation(STEPS)) for _ in range(40)]

    def prepare(self) -> None:
        """One cold pass over every query op, one cold merge and reads."""
        self.queries.prepare()
        self.delta.prepare()

    def _calls(self, step: str, request: int) -> list[tuple[str | None, object, tuple]]:
        """The timed calls of one step: (query op or None, function, args)."""
        if step != "delta":
            return [(step, self.queries.run, (step, request))]
        k = self.delta.next_batch
        self.delta.next_batch += 1
        return [(None, self.delta.merge, (k,))] + [
            (None, self.delta.read, (kind, k)) for kind in READS]

    def measure(self, m: Measured) -> None:
        """One window: ``ctx.seconds / PASS_S`` whole passes, at least one."""
        tracer = self.ctx.tracer
        for _ in range(max(1, round(self.ctx.seconds / PASS_S))):
            for step in self.sequence.pop(0):
                for op, fn, args in self._calls(step, m.attempted + 1):
                    start = time.perf_counter()
                    ok, result = m.run(fn, *args)
                    end = time.perf_counter()
                    if ok:
                        m.op(start, end)
                        m.sample(end - start, tracer.active)
                        if op is not None:
                            self.queries.record(op, result)

    @staticmethod
    def latency(samples: list[float]) -> float:
        """Geometric mean over whole passes."""
        return statistics.geometric_mean(samples)

    def finish(self) -> None:
        pass

    def check(self) -> None:
        self.queries.check()
        self.delta.check()

    def layer_metrics(self) -> dict[str, float]:
        return {**self.queries.layer_metrics(), **self.delta.layer_metrics()}
