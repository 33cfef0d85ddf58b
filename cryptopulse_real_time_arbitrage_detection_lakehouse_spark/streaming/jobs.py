"""The three medallion jobs as stream-pluggable transforms + a runner.

Twin of the reference's job trio (``ingestion_bronze.py:54-63``,
``process_silver.py:94-124``, ``gold_layer.py:53-92``) with one structural
difference: each hop is the SAME pure transform the batch/oracle path uses
(`operators.silver.parse_bronze_ticks`, `operators.gold.candles`), so
stream==batch equivalence is a testable property instead of a hope. The
runner chains the hops with ``availableNow`` drains — the reference runs
them as three concurrent OS processes communicating through tables
(SURVEY.md section 3.1); sequential bounded drains give identical results
over bounded input, since each hop's exactly-once recovery comes from its
checkpoint and WAL whether or not the hops overlap in time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.gold import candles
from ..operators.silver import parse_bronze_ticks, with_audit_column
from ..schemas import BRONZE_SCHEMA, KAFKA_SHAPED_SCHEMA, SILVER_SCHEMA
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


def run_medallion_available_now(
    spark: SparkSession,
    *,
    raw_dir: str,
    out_root: str,
    watermark: str = DEFAULT_WATERMARK,
    timeout_sec: int = 300,
    log_dir: str | None = None,
) -> dict[str, str]:
    """Drain raw Kafka-shaped parquet through bronze -> silver -> gold.

    Each hop is an independent checkpointed streaming query over the
    previous hop's table — the reference's process topology, bounded. Rerun
    with the same ``out_root``: checkpoints make every hop incremental and
    idempotent (T5).

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

    def hop(df: DataFrame, layer: str, query_name: str) -> None:
        query = start_parquet_stream(
            df, path=paths[layer], checkpoint=ckpt[layer], query_name=query_name
        )
        drain(query, timeout_sec)
        if log_dir is not None:
            write_progress_log(query, log_dir)

    raw = read_parquet_stream(spark, raw_dir, KAFKA_SHAPED_SCHEMA)
    hop(bronze_ingest(raw), "bronze", "bronze_ingest")
    bronze = read_parquet_stream(spark, paths["bronze"], BRONZE_SCHEMA)
    hop(silver_stream(bronze), "silver", "silver_parse")
    silver = read_parquet_stream(spark, paths["silver"], SILVER_SCHEMA)
    hop(gold_stream(silver, watermark=watermark), "gold", "gold_candles")
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
