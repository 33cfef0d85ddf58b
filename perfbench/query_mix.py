"""The query side of the ``dashboard`` workload: seven read-only ops over
a generated TPC-H-shaped table set.

Four ops are the engine's headline queries, two more are medallion
analytics, and ``render`` is the dashboard payload. They drive
driver-side plan building, Catalyst and small-job scheduling over the
session-materialised gold table, and no streaming or Delta code.

Every op's result is collected to pandas, as a dashboard client would,
and hashed after its clock stops. So each timed repetition is also a
repetition of the output check, and the check needs no extra pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics

import duckdb
import pandas as pd

import gen
from common import CheckFailed
from tracing import job_counts

OPS = (
    "silver_typed_ticks",
    "gold_candles_1m",
    "candle_close_delta",
    "customers_with_orders",
    "arbitrage_spreads_1m",
    "candle_rollup_1h",
    "render",
)
#: table scale of the generated inputs (1.0 = 6 M lineitems)
SCALE = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _canon_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash: columns by name, rows sorted by value."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    df = df.sort_values(list(df.columns), ignore_index=True, kind="mergesort")
    text = "|".join(f"{c}:{t}" for c, t in df.dtypes.items()) + "\n" + df.to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()


class QueryMix:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf = os.path.join(ctx.work, "sf")
        self.group_ops: list[tuple[str, str]] = []  # (job group, op) traced
        self.hashes: dict[str, set[str]] = {}  # op -> result hash per repetition

    def generate(self) -> None:
        gen.write_sf_dir(self.ctx.seed, self.sf, scale=SCALE)

    def run(self, op: str, request: int):
        """Build and collect one op; returns its result (a pandas frame,
        or the payload dict for ``render``)."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark import dashboard, plans

        spark, tracer = self.ctx.spark, self.ctx.tracer
        if tracer.active:
            group = f"bench-q{request}"
            spark.sparkContext.setJobGroup(group, op)
            self.group_ops.append((group, op))
        try:
            with tracer.span(f"q.{op}", request):
                if op == "render":
                    with tracer.span(f"q.{op}.build", request):
                        return dashboard.dashboard_payload(spark, self.sf)
                with tracer.span(f"q.{op}.build", request):
                    df = plans.get(op).fn(spark, self.sf)
                with tracer.span(f"q.{op}.exec", request):
                    return df.toPandas()
        finally:
            if tracer.active:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def record(self, op: str, result) -> None:
        """Remember the result's hash; every repetition must agree."""
        if op == "render":
            text = json.dumps(result, sort_keys=True, default=str)
            digest = hashlib.sha256(text.encode()).hexdigest()
        else:
            digest = _canon_hash(result)
        self.hashes.setdefault(op, set()).add(digest)

    def prepare(self) -> None:
        """One pass over every op: first-touch fixture builds and codegen."""
        for op in OPS:
            self.record(op, self.run(op, 0))

    def check(self) -> None:
        """Every repetition of an op gave the same result, and every op the
        registry has a DuckDB oracle for matches it."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark import plans

        oracles = plans.all_oracles()
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                path = os.path.join(self.sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for op in OPS:
                (digest, *others) = self.hashes[op]
                if others:
                    raise CheckFailed(f"{op}: result changed between repetitions")
                if op in oracles and _canon_hash(con.execute(oracles[op]).df()) != digest:
                    raise CheckFailed(f"{op}: result differs from its DuckDB oracle")
        finally:
            con.close()

    def layer_metrics(self) -> dict[str, float]:
        """Per op: median build and exec span, and jobs/tasks per run."""
        tracer = self.ctx.tracer
        out: dict[str, float] = {}
        for op in OPS:
            # render is one call: all of it is build time
            for part in ("build",) if op == "render" else ("build", "exec"):
                d = [s.end - s.start for s in tracer.spans if s.name == f"q.{op}.{part}"]
                out[f"q.{op}.{part}_s"] = statistics.median(d) if d else 0.0
            counts = [job_counts(self.ctx.spark, g) for g, o in self.group_ops if o == op]
            out[f"q.{op}.jobs"] = statistics.median(c[0] for c in counts) if counts else 0
            out[f"q.{op}.tasks"] = statistics.median(c[1] for c in counts) if counts else 0
        return out
