"""The three medallion jobs as stream-pluggable transforms + a runner.

Twin of the reference's job trio (``ingestion_bronze.py:54-63``,
``process_silver.py:94-124``, ``gold_layer.py:53-92``) with one structural
difference: each hop is the SAME pure transform the batch/oracle path uses
(`operators.silver.parse_bronze_ticks`, `operators.gold.candles`), so
stream==batch equivalence is a testable property instead of a hope. The
runner drains bronze with ``availableNow``, then runs silver and gold
together, both reading bronze: the topology is bronze -> {silver, gold}.
Gold applies the same row-wise silver parse to bronze that the silver
hop writes, so its candles are those of the silver table row for row,
and it no longer waits for silver to finish. The reference runs its jobs
as concurrent OS processes communicating through tables (SURVEY.md
section 3.1); each query here keeps its own checkpoint and WAL, which
is what gives it exactly-once recovery whether or not the queries
overlap in time. A session keeps the streaming plans of the medallion
it ran last and reuses them on every later call of that medallion.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..operators.gold import candles
from ..operators.silver import parse_bronze_ticks, with_audit_column
from ..schemas import BRONZE_SCHEMA, KAFKA_SHAPED_SCHEMA
from .sinks import drain, start_parquet_stream, write_progress_log
from .sources import read_parquet_stream

DEFAULT_WATERMARK = "10 minutes"  # gold_layer.py:56 (README claims 10s; code wins)


def bronze_ingest(kafka_shaped: DataFrame, *, audit: bool = True) -> DataFrame:
    """Kafka envelope -> bronze rows (P1/F4/F5; ``ingestion_bronze.py:56-57``).

    Schema-on-read by design: the payload stays an unparsed JSON string so
    upstream drift lands in bronze instead of being dropped. Works on batch
    and streaming inputs.
    """
    bronze = kafka_shaped.selectExpr(
        "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS json_payload",
        "timestamp AS kafka_ts",
    )
    # current_timestamp() is batch-constant per micro-batch, non-deterministic
    # across runs — excluded from every oracle-compared projection.
    return with_audit_column(bronze, "ingest_ts") if audit else bronze


def silver_stream(bronze: DataFrame, *, audit: bool = False) -> DataFrame:
    """Bronze -> typed silver ticks (``process_silver.py:94-124``)."""
    silver = parse_bronze_ticks(bronze)
    return with_audit_column(silver, "silver_processed_at") if audit else silver


def gold_stream(
    silver: DataFrame, *, watermark: str = DEFAULT_WATERMARK, window: str = "1 minute"
) -> DataFrame:
    """Silver -> 1-minute OHLC/VWAP candles with event-time watermark (T1/T2).

    Append output mode + watermark = a window row is emitted exactly once,
    when the watermark passes its end (``gold_layer.py:83-84``); state is
    GC'd at the same horizon, so streaming memory is bounded by
    (watermark span / window) x distinct symbols regardless of input size.
    """
    return candles(silver, window=window, watermark=watermark)


def dedup_ticks_stream(
    silver: DataFrame,
    *,
    watermark: str = DEFAULT_WATERMARK,
    keys: tuple[str, ...] = ("symbol", "trade_id"),
) -> DataFrame:
    """Streaming dedup within the watermark horizon (T8).

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key and
    drops re-deliveries until the watermark passes — the exactly-once
    repair for at-least-once upstreams. The batch twin is
    `operators.dedup.dedup_exact` (deterministic rank-1), which the
    equivalence test compares against.
    """
    return silver.withWatermark("trade_timestamp", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


@dataclass
class _MedallionPlans:
    """One medallion's streaming DataFrames. Silver and gold read the
    bronze table, which the first bronze drain creates, so they are
    built after it."""

    bronze: DataFrame
    silver: DataFrame | None = None
    gold: DataFrame | None = None


def _refuse_chained_gold(spark: SparkSession, out_root: str) -> None:
    """Raise if gold's checkpoint comes from the bronze -> silver -> gold
    chain: its file-source log lists silver files, so reading bronze it
    would take every bronze file as new and count open windows twice.

    The log is read through the Hadoop FileSystem of ``out_root``, the
    one the queries write through, so a URI such as ``file:///lake`` is
    vetted like a plain path, and a scheme with no FileSystem raises
    here instead of skipping the check."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    log_dir = hadoop_path(os.path.join(out_root, "_checkpoints", "gold", "sources", "0"))
    fs = log_dir.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(log_dir):
        return
    bronze = fs.makeQualified(hadoop_path(os.path.join(out_root, "bronze")))
    bronze = bronze.toUri().getPath().rstrip("/") + "/"
    for status in fs.listStatus(log_dir):
        if status.getPath().getName().startswith("."):
            continue
        stream = fs.open(status.getPath())
        try:
            text = bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()
        for entry in text.splitlines()[1:]:  # the first line is the log version
            path = unquote(urlparse(json.loads(entry)["path"]).path)
            if not path.startswith(bronze):
                raise ValueError(
                    f"{out_root}: the gold checkpoint was written by the "
                    f"bronze -> silver -> gold chain (its source log lists "
                    f"{path}); gold now reads {bronze} and would count those "
                    "rows again. Remove gold and its checkpoint to rebuild it."
                )


def _medallion_plans(
    spark: SparkSession, raw_dir: str, out_root: str, watermark: str
) -> _MedallionPlans:
    """The session's plans for this medallion, built on its first call.

    The session keeps the plans of the medallion it ran last, on the
    session object, so another session never sees them; a call with
    another (``raw_dir``, ``out_root``, ``watermark``) replaces them. A
    gold checkpoint is vetted by `_refuse_chained_gold` before its plans
    are built.
    """
    key = (raw_dir, out_root, watermark)
    memo = vars(spark).get("_medallion_plans")
    if memo is None or memo[0] != key:
        _refuse_chained_gold(spark, out_root)
        raw = read_parquet_stream(spark, raw_dir, KAFKA_SHAPED_SCHEMA)
        memo = (key, _MedallionPlans(bronze=bronze_ingest(raw)))
        vars(spark)["_medallion_plans"] = memo
    return memo[1]


def run_medallion_available_now(
    spark: SparkSession,
    *,
    raw_dir: str,
    out_root: str,
    watermark: str = DEFAULT_WATERMARK,
    timeout_sec: int = 300,
    log_dir: str | None = None,
) -> dict[str, str]:
    """Drain raw Kafka-shaped parquet into bronze, then bronze into silver
    and gold together.

    Each hop is an independent checkpointed streaming query: bronze reads
    the raw files, silver and gold both read bronze's table, and gold
    parses bronze with `silver_stream` before its candles, so gold equals
    the candles of the silver table. Rerun with the same ``out_root``:
    checkpoints make every hop incremental and idempotent (T5). The
    session keeps the three streaming DataFrames of its last
    (``raw_dir``, ``out_root``, ``watermark``) and reuses them while that
    key stays the same; another key rebuilds them. A gold
    checkpoint written when gold read silver is refused with a
    ``ValueError`` before any query starts. If silver or gold fails, the
    other is stopped and the first error found is raised.

    With ``log_dir`` set, each hop's drained batches are appended to
    ``<log_dir>/<query_name>.log`` (``bronze_ingest``, ``silver_parse``,
    ``gold_candles``) as the engine's own progress JSON, one line per
    batch: ``durationMs`` phases, ``eventTime.watermark``,
    ``stateOperators`` and the rates (see `write_progress_log`). The logs are read
    from ``recentProgress``, whose 100-batch cap never bites here: no hop
    sets ``maxFilesPerTrigger``, so each call commits one data batch per
    hop plus at most one watermark flush batch.
    """
    paths = {layer: os.path.join(out_root, layer) for layer in ("bronze", "silver", "gold")}
    ckpt = {layer: os.path.join(out_root, "_checkpoints", layer) for layer in paths}
    plans = _medallion_plans(spark, raw_dir, out_root, watermark)

    def run_together(*hops: tuple[DataFrame, str, str]) -> None:
        queries = []
        try:
            for df, layer, query_name in hops:
                queries.append(start_parquet_stream(
                    df, path=paths[layer], checkpoint=ckpt[layer], query_name=query_name
                ))
            for query in queries:
                drain(query, timeout_sec)
        except BaseException:
            for query in queries:
                query.stop()
            raise
        if log_dir is not None:
            for query in queries:
                write_progress_log(query, log_dir)

    run_together((plans.bronze, "bronze", "bronze_ingest"))
    if plans.gold is None:
        silver = silver_stream(read_parquet_stream(spark, paths["bronze"], BRONZE_SCHEMA))
        plans.silver, plans.gold = silver, gold_stream(silver, watermark=watermark)
    run_together((plans.silver, "silver", "silver_parse"), (plans.gold, "gold", "gold_candles"))
    return paths


def venue_pair_stream_join(
    ticks_a: DataFrame,
    ticks_b: DataFrame,
    *,
    tolerance_sec: int = 60,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each venue-A tick with every
    venue-B tick of the same symbol within ``tolerance_sec`` (T7 + the
    SURVEY.md 2.6 "stream-stream interval join with watermarks" plan).

    Both inputs carry their own event-time watermark — the engine's
    multiple-watermark policy (``min``, the reference's recorded conf)
    gates state cleanup on the SLOWER stream, so neither side drops rows
    the other may still match. The symbol equi-key routes both streams
    through one hash partitioning; the time bound on BOTH sides is what
    lets the join state be garbage-collected at the watermark horizon —
    without it, streaming state would grow forever.

    Inner-join matches emit as soon as both sides arrive (no
    append-finalization delay), so a bounded drain equals the batch join
    of the same inputs.
    """
    from pyspark.sql import functions as F

    a = ticks_a.withWatermark("trade_timestamp", watermark).select(
        "symbol",
        F.col("trade_timestamp").alias("ts_a"),
        F.col("trade_id").alias("trade_a"),
        F.col("price").alias("price_a"),
    )
    b = ticks_b.withWatermark("trade_timestamp", watermark).select(
        F.col("symbol").alias("symbol_b"),
        F.col("trade_timestamp").alias("ts_b"),
        F.col("trade_id").alias("trade_b"),
        F.col("price").alias("price_b"),
    )
    cond = (
        (a.symbol == b.symbol_b)
        & (b.ts_b >= a.ts_a - F.expr(f"INTERVAL {tolerance_sec} SECONDS"))
        & (b.ts_b <= a.ts_a + F.expr(f"INTERVAL {tolerance_sec} SECONDS"))
    )
    return a.join(b, cond).select(
        "symbol", "ts_a", "trade_a", "price_a", "ts_b", "trade_b", "price_b"
    )
