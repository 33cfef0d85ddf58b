"""The write side of the ``dashboard`` workload: upserts beside reads on
a Delta gold table, the only code that reaches ``sources/delta.py``.

One cycle merges a seeded correction batch with `DeltaTable.merge`
(updates to the latest candles of every symbol plus inserts of the next
minute), then refreshes the dashboard with two reads (`READS`): the
latest two candles per symbol, and one Zipf-chosen symbol's last hour
through ``read(where=...)``.

The table starts with a commit history, written by the generator before
any clock starts: one commit holding the oldest candles, then one append
per minute for the last `HISTORY_COMMITS` minutes, as a streaming gold
sink leaves it. No checkpoint is ever written, so every read replays the
whole log; that log replay and the growing file count are what a
compaction or checkpoint change would move.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import CheckFailed

#: an assumption sized so one correction batch holds about 2000 rows;
#: the reference pipeline tracks 3 symbols
SYMBOLS = 400
BASE_MINUTES = 120
#: per-minute append commits in the generated history, after the first
#: commit that holds the older minutes
HISTORY_COMMITS = 60
#: each batch rewrites the latest UPDATE_MINUTES candles of every symbol
#: and inserts the next minute: 2000 rows
UPDATE_MINUTES = 4
BATCHES = 64
KEYS = ["symbol", "window_start"]
#: skew of the symbol a dashboard user looks at (an assumption)
ZIPF_S = 1.1
PRICE = pa.decimal128(18, 8)
#: the dashboard reads that follow each merge
READS = ("latest", "symbol_hour")


def _candles(rng, symbols: np.ndarray, minutes: np.ndarray) -> pa.Table:
    """Random candles for every (symbol, minute) pair; prices in cents."""
    sym = np.repeat(symbols, len(minutes))
    minute = np.tile(minutes, len(symbols))
    n = len(sym)
    base = 100 * (10 + sym * 37)
    o, c = base + rng.integers(0, 500, n), base + rng.integers(0, 500, n)
    hi = np.maximum(o, c) + rng.integers(0, 100, n)
    lo = np.minimum(o, c) - rng.integers(0, 100, n)

    def price(cents: np.ndarray) -> pa.Array:
        return gen.decimal_str(cents, 2).cast(PRICE)

    return pa.table({
        "symbol": pa.array([f"SYM{s:04d}-USD" for s in sym]),
        "window_start": pa.array(gen.EPOCH0_US + minute * 60_000_000).cast(
            pa.timestamp("us", tz="UTC")),
        "open": price(o), "high": price(hi), "low": price(lo), "close": price(c),
        "trade_count": rng.integers(1, 1000, n),
        "vwap": (o + c) / 200.0,
    })


class DeltaUpsert:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "gold_delta")
        self.applied: list[int] = []  # batch index per committed merge
        self.mid_version: int | None = None  # after the first timed merge
        self.next_batch = 1  # batch 0 is the warm-up merge
        self.merge_s: list[float] = []
        self.read_s: dict[str, list[float]] = {"build": [], "exec": []}
        self.written_bytes = 0
        self.user_bytes = 0

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        symbols = np.arange(SYMBOLS)
        self.base = _candles(rng, symbols, np.arange(BASE_MINUTES))
        first = BASE_MINUTES - HISTORY_COMMITS
        per_minute = self.base.sort_by([("window_start", "ascending"), ("symbol", "ascending")])
        commits = [per_minute.slice(0, first * SYMBOLS)] + [
            per_minute.slice(m * SYMBOLS, SYMBOLS) for m in range(first, BASE_MINUTES)]
        gen.write_delta_history(self.path, commits, seed=self.ctx.seed)
        self.batches = []
        for k in range(BATCHES):
            last = BASE_MINUTES + k  # the minute this batch inserts
            self.batches.append(_candles(rng, symbols, np.arange(last - UPDATE_MINUTES, last + 1)))
        self.hot = rng.choice(SYMBOLS, size=BATCHES, p=gen.zipf_weights(SYMBOLS, ZIPF_S))

    def _table(self):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        return DeltaTable(self.path)

    def merge(self, k: int) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        src = spark.createDataFrame(self.batches[k])
        t = time.perf_counter()
        with tracer.span("delta.merge", k):
            version = self._table().merge(src, KEYS)
        if tracer.active:
            self.merge_s.append(time.perf_counter() - t)
            self.written_bytes += _added_bytes(self.path, version)
            self.user_bytes += _parquet_bytes(self.batches[k])
        if k == 1:
            self.mid_version = version
        self.applied.append(k)

    def read(self, kind: str, k: int) -> None:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        spark, tracer, dt = self.ctx.spark, self.ctx.tracer, self._table()
        t0 = time.perf_counter()
        with tracer.span(f"delta.read.{kind}", k):
            with tracer.span("delta.read.build", k):
                if kind == "latest":
                    w = W.partitionBy("symbol").orderBy(F.col("window_start").desc())
                    df = (dt.read(spark).withColumn("rn", F.row_number().over(w))
                          .filter(F.col("rn") <= 2))
                else:
                    sym = f"SYM{self.hot[k]:04d}-USD"
                    since = pd.Timestamp(gen.EPOCH0_US + (BASE_MINUTES + k - 60) * 60_000_000,
                                         unit="us", tz="UTC")
                    df = dt.read(spark, where=f"symbol = '{sym}'").filter(
                        F.col("window_start") >= F.lit(since.to_pydatetime()))
            t1 = time.perf_counter()
            with tracer.span("delta.read.exec", k):
                df.collect()
        if tracer.active:
            self.read_s["build"].append(t1 - t0)
            self.read_s["exec"].append(time.perf_counter() - t1)

    def prepare(self) -> None:
        """The first (cold) merge and one of each read."""
        self.merge(0)
        for kind in READS:
            self.read(kind, 0)

    def check(self) -> None:
        """The final table and the version after the first timed merge
        equal a pandas replay of the merges."""
        spark, dt = self.ctx.spark, self._table()
        state = _frame(self.base.to_pandas())
        snapshots = {HISTORY_COMMITS: state}
        for i, k in enumerate(self.applied):
            state = (pd.concat([state, _frame(self.batches[k].to_pandas())])
                     .drop_duplicates(KEYS, keep="last"))
            snapshots[HISTORY_COMMITS + i + 1] = state
        for version in sorted({self.mid_version, dt.latest_version()} - {None}):
            got = _frame(dt.read(spark, version=version).toPandas())
            want = snapshots[version]
            if not _canon(got).equals(_canon(want)):
                raise CheckFailed(f"delta version {version} differs from the merge replay")

    def layer_metrics(self) -> dict[str, float]:
        dt = self._table()
        detail = dt.detail(self.ctx.spark).collect()[0]
        log_dir = os.path.join(self.path, "_delta_log")

        def med(v: list[float]) -> float:
            return statistics.median(v) if v else 0.0

        return {
            "delta.merge_s": med(self.merge_s),
            "delta.read_build_s": med(self.read_s["build"]),
            "delta.read_exec_s": med(self.read_s["exec"]),
            "delta.versions": dt.latest_version() + 1,
            "delta.live_files": detail.num_files,
            "delta.log_bytes": sum(e.stat().st_size for e in os.scandir(log_dir)),
            "delta.bytes_written_per_user_byte":
                self.written_bytes / self.user_bytes if self.user_bytes else 0.0,
        }


def _frame(df: pd.DataFrame) -> pd.DataFrame:
    """Comparable frame: prices as integer cents, times as epoch micros."""
    out = pd.DataFrame({
        "symbol": df.symbol.astype(str),
        "window_start": pd.to_datetime(df.window_start, utc=True).dt.as_unit("us")
        .astype("int64"),
        "trade_count": df.trade_count.astype("int64"),
        "vwap": df.vwap.astype(float),
    })
    for c in ("open", "high", "low", "close"):
        out[c] = (df[c].astype(float) * 100).round().astype("int64")
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(KEYS, ignore_index=True)[sorted(df.columns)]


def _added_bytes(path: str, version: int) -> int:
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    return sum(a["add"].get("size", 0) for a in actions if "add" in a)


def _parquet_bytes(t: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(t, sink)
    return sink.getvalue().size
