"""Shared pieces of the benchmark's workloads."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


class CheckFailed(Exception):
    """An output of the engine differs from the benchmark's own answer."""


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) by `statistics.quantiles`' default
    exclusive method; the median for q=50."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


@dataclass
class Measured:
    """What one timed loop produced: per-op latency samples, each marked
    traced or not, and the time the completed operations took."""

    attempted: int = 0
    failed: int = 0
    samples: list[tuple[float, bool]] = field(default_factory=list)
    busy_s: float = 0.0
    ops: int = 0

    def sample(self, latency: float, traced: bool) -> None:
        self.samples.append((latency, traced))

    def op(self, start: float, end: float) -> None:
        self.ops += 1
        self.busy_s += end - start

    def run(self, fn, *args) -> tuple[bool, object]:
        """Run one operation; a failure is reported and counted, and the
        loop goes on. Returns whether it succeeded, and its result."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception:  # noqa: BLE001 - the loop must keep running
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return False, None

    def latencies(self, traced: bool | None = None) -> list[float]:
        return [v for v, t in self.samples if traced is None or t == traced]

    def ops_per_s(self) -> float:
        """Completed operations per second of time spent in them: for a
        closed loop its throughput, for an open loop its capacity."""
        return self.ops / self.busy_s


def calibrate() -> float:
    """Seconds for a fixed single-threaded CPU loop: a host-speed probe
    recorded beside every run, never used to normalise a metric."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t
