"""The bronze envelope path, oracle-checked end to end.

This is the reference's actual wire-to-silver pipeline
(``/root/reference/src/jobs/ingestion_bronze.py:54-57`` +
``process_silver.py:94-124``): Kafka-shaped binary records -> bronze
envelope (binary->string casts, P1/F4) -> ``from_json`` parse with
null-on-malformed (F1) -> message-type + not-null gate (P5) -> typed
projection with string->decimal(18,8) and string->timestamp casts (F2/F3).
The envelope itself is synthesized from ``events`` with ``to_json`` (F8),
so the whole chain — serialize, ingest, parse, cast — runs under one
DuckDB oracle, including deliberately malformed payloads (truncated JSON)
and payloads with missing fields (null ``last_size``).

Money discipline: prices travel as strings and are cast to decimal(18,8)
exactly as the reference does to avoid double-precision loss on the wire
(``process_silver.py:33-34``, ``README.md:127``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.partitioning import spread
from ..operators.silver import parse_bronze_ticks
from ..schemas import EVENT_PROPS_SCHEMA
from ..session import scratch_dir
from ..sources.kafka_file import FileTopic
from ..sources.testdata import load_table
from ..streaming.jobs import bronze_ingest
from .registry import register

#: event types that become type='ticker' messages; the rest (e.g. 'error')
#: keep their own type and are dropped by the silver gate (P5).
_TICKER_TYPES = ("click", "view", "purchase", "signup")

#: every event_id divisible by this gets a truncated (malformed) payload —
#: from_json must yield a null struct and the gate must drop it (F1).
_MALFORM_EVERY = 97


def synth_kafka_envelope(events: DataFrame) -> DataFrame:
    """events -> Kafka-shaped records carrying the reference's ticker JSON.

    Deterministic: payload numerics are printf-rendered (%.8f) so the
    DuckDB twin can reconstruct the exact same strings; Spark's
    ``format_string`` and DuckDB's ``printf`` share C printf semantics.
    """
    k = F.from_json(F.col("props"), EVENT_PROPS_SCHEMA)["k"]
    payload = F.to_json(
        F.struct(
            F.when(F.col("event_type").isin(*_TICKER_TYPES), F.lit("ticker"))
            .otherwise(F.col("event_type"))
            .alias("type"),
            F.concat(F.lit("S"), (F.col("user_id") % 3).cast("string")).alias(
                "product_id"
            ),
            F.format_string("%.8f", F.col("value")).alias("price"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("time"),
            F.col("event_id").alias("trade_id"),
            # null when props.k is absent -> to_json omits the field ->
            # parsed.last_size is null (missing-field semantics, F1).
            F.when(
                k.isNotNull(), F.format_string("%.8f", (k + 1).cast("double"))
            ).alias("last_size"),
            F.col("event_type").alias("side"),
        )
    )
    corrupted = F.when(
        F.col("event_id") % _MALFORM_EVERY == 0, F.substring(payload, 1, 9)
    ).otherwise(payload)
    venue = (
        F.when(F.col("event_id") % 2 == 0, F.lit("coinbase"))
        .otherwise(F.lit("binance"))
        .cast("binary")
    )
    return events.select(
        venue.alias("key"),
        corrupted.cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )


@register(
    "bronze_to_silver_typed",
    oracle=f"""
WITH src AS (
  SELECT
    CASE WHEN event_id % 2 = 0 THEN 'coinbase' ELSE 'binance' END AS venue,
    'S' || CAST(user_id % 3 AS VARCHAR) AS symbol,
    printf('%.8f', value) AS price_str,
    CAST(json_extract(props, '$.k') AS INTEGER) AS k,
    event_id, ts, event_type
  FROM events
  WHERE event_id % {_MALFORM_EVERY} <> 0          -- malformed payloads: null struct
    AND event_type IN {_TICKER_TYPES!r}           -- silver message-type gate
)
SELECT venue, symbol,
       CAST(CAST(price_str AS DECIMAL(18,8)) AS VARCHAR) AS price,
       CAST(CASE WHEN k IS NOT NULL
            THEN CAST(printf('%.8f', CAST(k + 1 AS DOUBLE)) AS DECIMAL(18,8))
       END AS VARCHAR) AS size,
       event_id AS trade_id,
       epoch_us(ts) AS trade_ts_us,
       event_type AS taker_side
FROM src
""",
    doc="Full wire path: to_json envelope (F8) -> binary Kafka record (F4) "
    "-> bronze ingest (P1/F5) -> from_json parse with null-on-malformed "
    "(F1) -> type/not-null gate (P5) -> string->decimal(18,8) (F2) and "
    "string->timestamp (F3) casts. process_silver.py:94-124 twin.",
    tags=("bronze", "silver", "parse", "decimal"),
)
def bronze_to_silver_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON serialize+parse is CPU-bound: widen past the byte-driven split
    # count of the (locally tiny) events file before the hot expressions.
    envelope = synth_kafka_envelope(spread(load_table(spark, sf_dir, "events")))
    silver = parse_bronze_ticks(bronze_ingest(envelope))
    # The decimal(18,8) casts happen INSIDE the plan (that is the point of
    # this query); the compared projection renders them as exact strings
    # because pandas/DuckDB decimal handling would otherwise degrade the
    # comparison to float64.
    return silver.select(
        "venue",
        "symbol",
        F.col("price").cast("string").alias("price"),
        F.col("size").cast("string").alias("size"),
        "trade_id",
        F.unix_micros(F.col("trade_timestamp")).alias("trade_ts_us"),
        "taker_side",
    )


@register(
    "kafka_topic_partition_audit",
    oracle="""
WITH rec AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'coinbase' ELSE 'binance' END AS venue
  FROM events
), placed AS (
  SELECT venue,
         CAST(('0x' || substring(md5(venue), 1, 8)) AS BIGINT) % 3 AS partition
  FROM rec
)
SELECT 'crypto_market_data' AS topic,
       CAST(partition AS INTEGER) AS partition,
       count(*) AS n,
       CAST(0 AS BIGINT) AS min_offset,
       count(*) - 1 AS max_offset,
       count(DISTINCT venue) AS n_keys
FROM placed
GROUP BY partition
""",
    doc="File-backed Kafka topic twin (S1/K4 stand-in; the "
    "spark-sql-kafka connector jar is absent from this image and there is "
    "no network to vendor it — see README). The events-derived ticker "
    "envelope is PRODUCED to a 3-partition FileTopic (keyed md5-hash "
    "partitioner, per-partition contiguous offsets), read back through the "
    "Kafka record contract, and passed through the bronze envelope "
    "projection (CAST(key AS STRING) / CAST(value AS STRING) — P1/F4, "
    "ingestion_bronze.py:56). The audit asserts Kafka's core invariants: "
    "record counts per partition follow the key hash, offsets are dense "
    "from 0 (min=0, max=n-1), and each partition holds exactly the keys "
    "that hash to it.",
    tags=("kafka", "source", "sink", "envelope"),
)
def kafka_topic_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    envelope = synth_kafka_envelope(load_table(spark, sf_dir, "events"))
    topic = FileTopic(
        os.path.join(scratch_dir(spark, "cpkafka_"), "crypto_market_data"),
        "crypto_market_data",
        num_partitions=3,
    )
    topic.produce(envelope)
    rec = topic.read(spark)
    # the reference's bronze envelope projection (P1/F4) over the records
    bronze = rec.selectExpr(
        "CAST(key AS STRING) AS venue",
        "CAST(value AS STRING) AS json_payload",
        "topic",
        "partition",
        "offset",
    )
    return bronze.groupBy("topic", "partition").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.countDistinct("venue").alias("n_keys"),
    )
