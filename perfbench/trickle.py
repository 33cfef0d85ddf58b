"""``trickle``: an open loop of small raw files through the medallion.

A lander thread moves pre-written raw files into ``raw_dir`` on a fixed
schedule (a staged write, then an atomic rename). The main thread reruns
`streaming.jobs.run_medallion_available_now` on the same ``out_root``
whenever landed files are still unconsumed, so the checkpoints keep each
call incremental and one call takes every file that landed while the
previous call ran. A file's freshness runs from its due time, not its
landing time, to the end of the pipeline call that consumed it; which
call consumed which file is read from the bronze hop's source log in its
checkpoint. Per-row work is tiny and per-batch fixed cost dominates.

Files land far more often than one call takes, so the loop never waits
on a full call per file: a call on k files costs its fixed part once, and
a slower host makes calls longer and batches bigger instead of building a
queue. Freshness then stays between one and two call times whatever the
host speed, and with about ten files per call the wait before a call
spreads evenly over that range rather than jumping with the phase of the
landings against the calls.

Traffic follows the reference pipeline's measured run (``BASELINE.md``):
3 symbols, about 977 rows per bronze commit, 69 of 337,101 messages
dropped by the silver filter, and 337,101 ticks over 942 one-minute
candles of 3 symbols, about 18 ticks per second of event time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import gen
from common import CheckFailed, Measured, percentile
from tracing import HOPS, HopListener

#: one raw file of FILE_TICKS ticks lands every LAND_INTERVAL_S seconds.
#: One call takes 2.2-3 s on a 4-core host, so it consumes about ten
#: files, about 1000 rows: the reference's rows per bronze commit.
LAND_INTERVAL_S = 0.25
FILE_TICKS = 100
SYMBOLS = 3
#: the measured drop rate, 69 / 337,101
BAD_SHARE = 69 / 337_101
#: event-time rate of the reference feed; a 1000-tick warm-up file spans
#: about a minute
SIM_TICKS_PER_S = 337_101 / (942 / 3 * 60)
#: the untimed warm-up: a cold call on a backlog of BACKLOG_FILES files,
#: about 10 minutes of event time, so gold windows already close when the
#: timed calls start; then WARM_CALLS increments of one file each. Calls
#: keep getting faster for a dozen calls or more while the JIT compiles
#: (3.3 s down to 2.1 s within one run), so without these increments the
#: timed window measures how far compilation got.
BACKLOG_FILES = 11
WARM_CALLS = 5
WARM_FILES = BACKLOG_FILES + WARM_CALLS
WARM_FILE_TICKS = 1000
WATERMARK_US = 10 * 60 * 1_000_000


class Trickle:
    name = "trickle"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.work = ctx.work
        self.raw_dir = os.path.join(self.work, "raw")
        self.stage_dir = os.path.join(self.work, "stage")
        self.out_root = os.path.join(self.work, "lake")
        self.landed: list[str] = []  # raw paths in landing order
        self.due: dict[str, float] = {}  # raw path -> when it was due
        self.lag_s: list[float] = []
        self.consumed: set[str] = set()
        self.listener: HopListener | None = None

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        windows = 2 if self.ctx.traced else 1
        n_stream = windows * (int(self.ctx.seconds / LAND_INTERVAL_S) + 1)
        self.sizes = [WARM_FILE_TICKS] * WARM_FILES + [FILE_TICKS] * n_stream
        # the 3 symbols share the traffic evenly (an assumption: the
        # reference's per-symbol split is not measured)
        self.table = gen.ticks(
            self.ctx.seed, sum(self.sizes), symbols=SYMBOLS,
            rate_per_s=SIM_TICKS_PER_S, zipf_s=0.0, bad_share=BAD_SHARE,
        )
        self.staged = gen.write_raw_files(self.table, self.stage_dir, self.sizes)
        os.makedirs(self.raw_dir)

    def _land(self, staged: str) -> None:
        dest = os.path.join(self.raw_dir, os.path.basename(staged))
        os.replace(staged, dest)
        self.landed.append(dest)

    def _call(self) -> None:
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.jobs import (
            run_medallion_available_now,
        )

        run_medallion_available_now(self.ctx.spark, raw_dir=self.raw_dir, out_root=self.out_root)

    def _newly_consumed(self) -> set[str]:
        """Raw files the bronze hop has committed since the last call,
        from its file-source log (``sources/0/<batch>[.compact]``)."""
        seen: set[str] = set()
        log_dir = os.path.join(self.out_root, "_checkpoints", "bronze", "sources", "0")
        for path in glob.glob(os.path.join(log_dir, "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    seen.add(json.loads(line)["path"].removeprefix("file://"))
        new = seen - self.consumed
        self.consumed |= new
        return new

    # ------------------------------------------------------------ phases

    def prepare(self) -> None:
        """A cold call on the backlog, then the warm increments."""
        for staged in self.staged[:BACKLOG_FILES]:
            self._land(staged)
        self._call()
        for staged in self.staged[BACKLOG_FILES:WARM_FILES]:
            self._land(staged)
            self._call()
        self._newly_consumed()

    def measure(self, m: Measured) -> None:
        """One window of ``ctx.seconds``: files land on schedule until the
        window ends, and the pipeline reruns until every landed file is
        consumed, so each file due in the window gives one sample."""
        ctx, tracer = self.ctx, self.ctx.tracer
        if tracer.active and self.listener is None:
            self.listener = HopListener()
            ctx.spark.streams.addListener(self.listener)
        stream = [s for s in self.staged[WARM_FILES:] if os.path.exists(s)]
        stop = threading.Event()
        t0 = time.perf_counter()
        deadline = t0 + ctx.seconds

        def lander() -> None:
            for i, staged in enumerate(stream):
                at = t0 + i * LAND_INTERVAL_S
                if at >= deadline or stop.wait(max(0.0, at - time.perf_counter())):
                    return
                self.due[os.path.join(self.raw_dir, os.path.basename(staged))] = at
                self._land(staged)
                self.lag_s.append(time.perf_counter() - at)

        thread = threading.Thread(target=lander, name="lander")
        thread.start()
        try:
            while thread.is_alive() or len(self.landed) > len(self.consumed):
                if len(self.landed) == len(self.consumed):
                    time.sleep(0.005)
                    continue
                start = time.perf_counter()
                with tracer.span("pipeline.call", request=m.attempted + 1):
                    ok, _ = m.run(self._call)
                end = time.perf_counter()
                if not ok:
                    if end > deadline:
                        break  # finish() retries once, check() reports it
                    continue
                m.op(start, end)
                for path in self._newly_consumed():
                    m.sample(end - self.due[path], tracer.active)
        finally:
            stop.set()
            thread.join()

    @staticmethod
    def latency(samples: list[float]) -> float:
        """Median freshness."""
        return statistics.median(samples)

    def finish(self) -> None:
        """Consume any landed file the timed calls left (untimed), so the
        check sees them all."""
        if self.listener is not None:
            self.listener.wait_terminated()
            self.ctx.spark.streams.removeListener(self.listener)
        if set(self.landed) - self.consumed:
            self._call()

    # ------------------------------------------------------------ check

    def check(self) -> None:
        landed = {os.path.basename(p) for p in self.landed}
        n_landed = sum(os.path.basename(s) in landed for s in self.staged)
        # files are consecutive slices of the table in staged order
        n_rows = sum(self.sizes[:n_landed])
        truth = self.table.slice(0, n_rows).drop_columns(["key", "value", "timestamp"])
        truth = truth.to_pandas()
        lake = {h: ds.dataset(os.path.join(self.out_root, h), format="parquet")
                for h in HOPS.values()}
        counts = {h: d.count_rows() for h, d in lake.items()}
        ticks = truth[truth.is_tick]
        if counts["bronze"] != len(truth):
            raise CheckFailed(f"bronze rows {counts['bronze']} != raw rows {len(truth)}")
        if counts["silver"] != len(ticks):
            raise CheckFailed(f"silver rows {counts['silver']} != valid ticks {len(ticks)}")
        check_gold(lake["gold"].to_table().to_pandas(), ticks)

    def layer_metrics(self) -> dict[str, float]:
        """Per-call means of each hop's trigger phases over the traced calls;
        the time a call spends outside any trigger is its span's self time."""
        self._add_trigger_spans()
        out: dict[str, float] = {"gen.lag_p90_s": percentile(self.lag_s, 90) if self.lag_s else 0.0}
        progress = self.listener.progress if self.listener else []
        calls = max(1, sum(s.name == "pipeline.call" for s in self.ctx.tracer.spans))
        for hop in HOPS.values():
            recs = [r for r in progress if r["hop"] == hop]

            def ms(*keys: str) -> float:
                return sum(r["ms"].get(k, 0) for r in recs for k in keys) / 1000.0 / calls

            out.update({
                f"{hop}.busy_s": ms("triggerExecution"),
                f"{hop}.add_batch_s": ms("addBatch"),
                f"{hop}.plan_s": ms("queryPlanning"),
                f"{hop}.log_s": ms("walCommit", "commitOffsets"),
                f"{hop}.offsets_s": ms("latestOffset", "getBatch"),
                f"{hop}.batches": len(recs) / calls,
                f"{hop}.rows_in": sum(r["rows"] for r in recs) / calls,
            })
        gold = [r for r in progress if r["hop"] == "gold"]
        outside = self.ctx.tracer.self_times().get("pipeline.call", 0.0)
        out["pipeline.outside_trigger_s"] = outside / calls
        out["gold.state_rows"] = max((r["state_rows"] for r in gold), default=0)
        out["gold.state_bytes"] = max((r["state_bytes"] for r in gold), default=0)
        out["gold.rows_dropped_by_watermark"] = sum(r["dropped"] for r in gold)
        return out

    def _add_trigger_spans(self) -> None:
        """Turn each hop's progress reports into spans under the pipeline
        call they ran in, so trigger time counts as the call's child time."""
        tracer = self.ctx.tracer
        calls = [s for s in tracer.spans if s.name == "pipeline.call"]
        for r in self.listener.progress if self.listener else []:
            start = pd.Timestamp(r["timestamp"]).timestamp()
            end = start + r["ms"].get("triggerExecution", 0) / 1000.0
            parent = next((c for c in calls if c.start <= start <= c.end), None)
            tracer.add(f"{r['hop']}.trigger", start, end,
                       parent.id if parent else None, parent.request if parent else None)


def expected_gold(ticks: pd.DataFrame) -> pd.DataFrame:
    """Independent recomputation of the gold hop: 1-minute OHLC, count and
    VWAP per symbol, only for windows the watermark has finalised."""
    watermark = ticks.event_us.max() - WATERMARK_US
    t = ticks.assign(win=ticks.event_us // 60_000_000 * 60_000_000)
    t = t[t.win + 60_000_000 <= watermark]
    t = t.assign(pv=t.price_cents * t.size_milli).sort_values(["event_us", "trade_id"])
    g = t.groupby(["win", "symbol"], sort=True)
    return pd.DataFrame({
        "open": g.price_cents.first(), "close": g.price_cents.last(),
        "high": g.price_cents.max(), "low": g.price_cents.min(),
        "trade_count": g.size(), "pv": g.pv.sum(), "vol": g.size_milli.sum(),
    }).reset_index()


def check_gold(gold: pd.DataFrame, ticks: pd.DataFrame) -> None:
    exp = expected_gold(ticks)
    got = pd.DataFrame({
        "win": gold.window_start.astype("datetime64[us]").astype("int64"),
        "symbol": gold.symbol,
        **{c: (gold[c].astype(float) * 100).round().astype("int64")
           for c in ("open", "close", "high", "low")},
        "trade_count": gold.trade_count,
        "sum_pv": gold.sum_pv.astype(float),
        "sum_volume": gold.sum_volume.astype(float),
        "vwap": gold.vwap.astype(float),
    }).sort_values(["win", "symbol"], ignore_index=True)
    if len(got) != len(exp):
        raise CheckFailed(f"gold has {len(got)} candles, expected {len(exp)}")
    for c in ("win", "symbol", "open", "close", "high", "low", "trade_count"):
        if not (got[c].to_numpy() == exp[c].to_numpy()).all():
            raise CheckFailed(f"gold column {c} differs from the recomputation")
    pv, vol = exp.pv.to_numpy() / 1e5, exp.vol.to_numpy() / 1e3
    for c, want in (("sum_pv", pv), ("sum_volume", vol), ("vwap", pv / vol)):
        if not np.allclose(got[c].to_numpy(), want, rtol=1e-12, atol=0):
            raise CheckFailed(f"gold column {c} differs from the recomputation")
