"""Oracle-checked streaming queries.

The driver's correctness harness is batch SQL, so streaming coverage
normally stops at pytest. This module closes the gap for the one streaming
property that IS SQL-expressible: a ``trigger(availableNow=True)`` drain of
the windowed gold aggregation equals the batch aggregation restricted to
watermark-finalized windows (``window_end <= max event time - watermark``).
The query below physically runs ``readStream -> withWatermark -> window agg
-> writeStream(append, checkpoint)`` and the DuckDB twin computes the same
finalization predicate — so T1/T2/T3/T4/T5/T6 and K1-K3 all sit behind a
green CORRECTNESS row instead of only a pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.determinism import fmt_ts, sql_davg, sql_dsum, sql_fmt_ts
from ..operators.ticks import (
    EVENTS_QUOTES_CTE,
    EVENTS_TICKS_CTE,
    events_as_ticks,
)
from ..sources.testdata import load_table
from ..streaming.jobs import gold_stream
from ..session import scratch_dir
from ..streaming.sinks import drain, drain_to_parquet, scoped_shuffle_partitions
from ..streaming.sources import read_parquet_stream
from .registry import register

WATERMARK = "10 minutes"

#: raw-timestamp gold aggregation + the append-mode finalization predicate
#: (window closes when the final watermark = max event time - 10 min passes
#: its end). Column tiebreak mirrors plans/medallion._GOLD_ORACLE_BODY.
_STREAM_GOLD_SQL = f"""
gold AS (
  SELECT
    date_trunc('minute', trade_timestamp) AS ws,
    date_trunc('minute', trade_timestamp) + INTERVAL 1 MINUTE AS we,
    symbol,
    arg_min(price, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS open,
    max(price) AS high,
    min(price) AS low,
    arg_max(price, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS close,
    count(*) AS trade_count,
    {sql_dsum("price * size")} / {sql_dsum("size")} AS vwap
  FROM ticks
  GROUP BY 1, 2, 3
),
wm AS (SELECT max(trade_timestamp) - INTERVAL 10 MINUTE AS horizon FROM ticks)
"""


@register(
    "streaming_gold_candles_availablenow",
    oracle=f"""
WITH {EVENTS_TICKS_CTE},
{_STREAM_GOLD_SQL}
SELECT {sql_fmt_ts("g.ws")} AS window_start,
       {sql_fmt_ts("g.we")} AS window_end,
       g.symbol, g.open, g.high, g.low, g.close, g.trade_count, g.vwap
FROM gold g, wm
WHERE g.we <= wm.horizon
""",
    doc="Structured Streaming gold job, physically executed: parquet file "
    "stream -> 10-min watermark -> 1-min windowed OHLC/VWAP -> append-mode "
    "checkpointed parquet sink, drained with trigger(availableNow=True). "
    "Oracle = batch aggregation restricted to watermark-finalized windows "
    "(stream==batch equivalence, SURVEY.md section 5.2.3 / T1-T6, K1-K3).",
    tags=("streaming", "gold", "watermark"),
)
def streaming_gold_candles_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = events_as_ticks(load_table(spark, sf_dir, "events"))
    # Materialize the tick stream source, then drain it through the real
    # streaming job. Fresh scratch dirs per call: checkpoints are stateful.
    src = os.path.join(scratch_dir(spark, "cpstream_"), "src")
    ticks.write.parquet(src)
    stream = read_parquet_stream(spark, src, ticks.schema)
    out = drain_to_parquet(
        gold_stream(stream, watermark=WATERMARK), "gold_candles_availablenow"
    )
    return out.select(
        fmt_ts("window_start", "window_start"),
        fmt_ts("window_end", "window_end"),
        "symbol",
        "open",
        "high",
        "low",
        "close",
        "trade_count",
        "vwap",
    )


@register(
    "streaming_click_purchase_interval_join",
    oracle="""
WITH c AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id % 10 AS user_bucket,
       count(*) AS n_matches,
       count(DISTINCT p.event_id) AS n_purchases,
       count(DISTINCT c.event_id) AS n_clicks
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
GROUP BY 1
""",
    doc="STREAM-STREAM interval join, physically executed (T7 made "
    "driver-checkable): click and purchase streams over the same event "
    "source, both watermarked 10 minutes, inner-joined on user with a "
    "30-minute attribution window, drained append-mode through a "
    "checkpointed parquet sink with trigger(availableNow=True), then "
    "audited per user bucket. Inner-join matches emit as found; the "
    "dual watermark (Spark takes the MIN across inputs) bounds the "
    "buffered state to the interval span — the mechanism that makes "
    "stream-stream joins feasible at 100 TB/day, where unbounded state "
    "would OOM. The source is a single file so the bounded drain is one "
    "micro-batch and emission is deterministic; the oracle is the plain "
    "batch interval join — stream == batch, the Structured Streaming "
    "contract.",
    tags=("streaming", "join", "interval", "watermark"),
)
def streaming_click_purchase_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(scratch_dir(spark, "cpssjoin_"), "src")
    # one file -> one micro-batch: deterministic emission (state eviction
    # across micro-batches would otherwise depend on file order)
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("click_user"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("purchase_user"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select("purchase_user", "purchase_id", "click_id")
    # stream-stream join state cost is (shuffle partitions × micro-batch)
    # store commits — drain at the reference's narrow streaming width
    matches = drain_to_parquet(joined, "click_purchase_interval_join")
    return matches.groupBy((F.col("purchase_user") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.countDistinct("purchase_id").alias("n_purchases"),
        F.countDistinct("click_id").alias("n_clicks"),
    )


@register(
    "streaming_purchase_attribution_left_join",
    oracle="""
WITH c AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
         - INTERVAL 10 MINUTE AS horizon
),
matched AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL 30 MINUTE
   AND c.ts <= p.ts
),
unmatched AS (
  SELECT p.user_id, p.event_id AS purchase_id, NULL AS click_id
  FROM p, wm
  WHERE p.ts < wm.horizon
    AND NOT EXISTS (
      SELECT 1 FROM c
      WHERE c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE
        AND c.ts <= p.ts
    )
),
emitted AS (
  SELECT * FROM matched UNION ALL SELECT * FROM unmatched
)
SELECT user_id % 10 AS user_bucket,
       count(*) AS n_rows,
       count(click_id) AS n_matched,
       count(*) - count(click_id) AS n_unattributed,
       count(DISTINCT purchase_id) AS n_purchases
FROM emitted
GROUP BY 1
""",
    doc="STREAM-STREAM LEFT OUTER join, physically executed: purchases "
    "left-joined to clicks on user within a 30-minute attribution "
    "window, both sides watermarked 10 minutes, drained append-mode "
    "with trigger(availableNow=True). The outer semantics are the "
    "streaming-specific part: a match emits immediately, but a "
    "PURCHASE WITH NO CLICK can only emit null-extended once the "
    "watermark proves no matching click can still arrive (watermark > "
    "purchase ts, since clicks up to the purchase instant could match) "
    "— purchases younger than the final watermark stay in state and "
    "never emit, which the oracle's horizon predicate reproduces "
    "exactly (min of both inputs' max event time - 10 min, Spark's "
    "multi-watermark MIN policy). State is bounded by the interval "
    "span on both sides — the property that keeps outer attribution "
    "feasible at 100 TB/day where an unwatermarked outer join would "
    "buffer the full history. Oracle = batch left join + horizon "
    "filter on the null side: stream == batch on finalized results, "
    "the Structured Streaming contract.",
    tags=("streaming", "join", "outer", "watermark", "interval"),
)
def streaming_purchase_attribution_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(scratch_dir(spark, "cplojoin_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("click_user"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("purchase_user"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_user", "purchase_id", "click_id")
    emitted = drain_to_parquet(joined, "purchase_attribution_left_join")
    return emitted.groupBy(
        (F.col("purchase_user") % 10).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("click_id").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("click_id")).alias("n_unattributed"),
        F.countDistinct("purchase_id").alias("n_purchases"),
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_type,
       count(*) AS n_unique,
       CAST(3 AS BIGINT) AS copies_ingested
FROM events
GROUP BY event_type ORDER BY event_type
""",
    doc="Streaming deduplication with dropDuplicatesWithinWatermark, "
    "physically executed (T8 as a STREAMING correctness row, not just "
    "its batch twin): the event stream is ingested in TRIPLICATE (the "
    "at-least-once delivery shape every Kafka consumer faces), "
    "watermarked 10 minutes, and deduplicated on event_id with state "
    "scoped to the watermark horizon — the operator Spark added "
    "precisely because unbounded dropDuplicates state grows forever, "
    "while within-watermark state evicts keys once no duplicate can "
    "still arrive. Drained append-mode through a checkpointed parquet "
    "sink with trigger(availableNow=True); duplicate rows are "
    "byte-identical so which replica survives is immaterial — the "
    "result is exactly one row per event, which the oracle states as "
    "plain per-type counts of the original table. At 100 TB/day the "
    "state store holds only the watermark span's key set per "
    "partition, the property that makes exactly-once-by-key ingestion "
    "feasible without an external dedup index.",
    tags=("streaming", "dedup", "watermark", "stateful"),
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(scratch_dir(spark, "cpsdedup_"), "src")
    # triplicate delivery, one file -> one deterministic micro-batch
    events.unionAll(events).unionAll(events).coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    deduped = (
        stream.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    unique = drain_to_parquet(deduped, "dedup_within_watermark")
    return unique.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.lit(3).cast("long").alias("copies_ingested"),
    ).orderBy("event_type")


@register(
    "streaming_user_sessions_stateful",
    oracle="""
WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
sess AS (
  SELECT user_id, sid, count(*) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM s GROUP BY 1, 2
)
SELECT user_id % 10 AS user_bucket,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS max_session_events,
       max(dur_us) AS max_session_dur_us
FROM sess GROUP BY 1 ORDER BY 1
""",
    doc="CUSTOM STATEFUL streaming operator, physically executed "
    "(applyInPandasWithState behind a correctness row — the API the "
    "reference's running-KPI jobs would need for anything Spark's "
    "built-in windows can't say): gap-based sessionization (30-minute "
    "idle timeout) of every user's event stream, state = the open "
    "session carried per user across micro-batches, drained append-"
    "mode with trigger(availableNow=True) through a checkpointed "
    "parquet sink. Events arrive unordered within the micro-batch — "
    "the processor sorts each user's slice by (ts, event_id) before "
    "folding, the same total order the oracle's window uses, so the "
    "emitted sessions are deterministic. The oracle is batch "
    "sessionization via lag + cumulative flags. Timestamps cross "
    "Arrow as epoch micros (tz-aware round-trip hazard). At 100 TB "
    "state is one open-session triple per ACTIVE user (bounded by the "
    "gap horizon), not history; the sort is per-user-per-batch, "
    "Arrow-vectorized, never a global order.",
    tags=("streaming", "stateful", "session", "pandas-udf"),
)
def streaming_user_sessions_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    GAP_US = 30 * 60 * 1_000_000

    def sessionize(key, pdf_iter, state):
        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts_us", "event_id"])
        ts = rows["ts_us"].to_numpy()
        if state.exists:
            (start, end, n) = state.get
        else:
            start = end = n = None
        out = []
        for t in ts:
            if start is None:
                start, end, n = int(t), int(t), 1
            elif t - end > GAP_US:
                out.append((key[0], start, end, n))
                start, end, n = int(t), int(t), 1
            else:
                end, n = int(t), n + 1
        # single-drain determinism: the batch holds the user's full
        # history, so the open session is final — emit it and clear
        # (a continuous pipeline would state.update() and let the
        # next batch or timeout close it)
        if start is not None:
            out.append((key[0], start, end, n))
        state.remove()
        return iter(
            [
                pd.DataFrame(
                    out,
                    columns=[
                        "user_id",
                        "session_start_us",
                        "session_end_us",
                        "n_events",
                    ],
                )
            ]
        )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    src = os.path.join(scratch_dir(spark, "cpsess_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema).select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id"
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id long, session_start_us long, "
            "session_end_us long, n_events long"
        ),
        stateStructType="start_us long, end_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Python state processors scale with GROUP count, not byte count:
    # the narrow JVM drain width (4) that suits shuffle-light sinks
    # serializes ~100k pandas group calls through 4 workers. Width 16
    # keeps per-partition state stores small AND 4x's the Arrow lanes
    # (10x-events probe: 10.5s -> ~6s).
    sess = drain_to_parquet(sessions, "user_sessions_stateful", 16)
    return (
        sess.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
            F.max(
                F.col("session_end_us") - F.col("session_start_us")
            ).alias("max_session_dur_us"),
        )
        .orderBy("user_bucket")
    )


@register(
    "streaming_mv_refresh_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total,
       CAST(1 AS BIGINT) AS incremental_equals_full,
       CAST(1 AS BIGINT) AS exactly_once
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'error')
  AND user_id % 10 <> 0
GROUP BY event_type
""",
    doc="STREAMING materialized-view maintenance — the production form "
    "of the batch X213 loop: the base Delta table's CHANGE FEED drains "
    "through the pydelta log-tailing stream (readChangeFeed=true) into "
    "foreachBatch, each micro-batch folds its change rows into per-key "
    "(+n, +sum) deltas — inserts contribute +1/+value, deletes "
    "-1/-value — and MERGEs them into the MV with the batch id as the "
    "setTransaction key (the new DeltaMergeBuilder.execute(txn=), "
    "delta-spark's txnAppId/txnVersion): a crashed-and-replayed "
    "micro-batch's verbatim re-merge commits NOTHING (exactly_once "
    "pins it — MV version unchanged). The drain runs TWICE: first "
    "builds the MV from the initial commits, then the base takes an "
    "append AND a DV delete and the SAME checkpoint consumes only the "
    "new commits — refresh cost O(changed rows), never O(base). "
    "Adjustments add DECIMAL(25,10) exactly, so the audit's in-plan "
    "diff against a full recompute pins bit-identity "
    "(incremental_equals_full). At 100 TB this is how dashboards stay "
    "current: one log-tail stream, per-key decimal deltas, an "
    "idempotent merge per micro-batch.",
    tags=("streaming", "delta", "cdf", "refresh", "incremental",
          "merge", "exactly-once"),
)
def streaming_mv_refresh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..sources import pyds
    from ..sources.delta import DeltaTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = scratch_dir(spark, "cpsmvr_")
    base = DeltaTable(os.path.join(root, "base"))
    mv = DeltaTable(os.path.join(root, "mv"))
    dec = "decimal(25,10)"
    base.write(events.filter(F.col("event_type").isin("click", "view")))
    base.enable_change_data_feed()
    # MV starts EMPTY: the stream builds it entirely from the feed
    mv.write(
        spark.createDataFrame(
            [], f"event_type string, n long, total_dec {dec}"
        )
    )
    pyds.register(spark)
    last_batch: dict[str, object] = {}

    def fold_batch(bdf: DataFrame, batch_id: int) -> None:
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        deltas = bdf.groupBy("event_type").agg(
            F.sum(sign).cast("long").alias("dn"),
            F.sum(sign.cast(dec) * F.col("value").cast(dec))
            .cast(dec)
            .alias("dtotal"),
        )
        (
            mv.merge_into(deltas, "target.event_type = source.event_type")
            .when_matched_update(
                set={
                    "n": "target.n + source.dn",
                    "total_dec": f"CAST(target.total_dec + source.dtotal AS {dec})",
                }
            )
            .when_not_matched_insert(
                values={
                    "event_type": "source.event_type",
                    "n": "source.dn",
                    "total_dec": "source.dtotal",
                }
            )
            .execute(bdf.sparkSession, txn=("mv_refresh", batch_id))
        )
        last_batch["df"] = bdf
        last_batch["id"] = batch_id

    def drain_feed() -> None:
        with scoped_shuffle_partitions(spark):
            drain(
                spark.readStream.format("pydelta")
                .option("path", base.path)
                .option("readChangeFeed", "true")
                .load()
                .writeStream.foreachBatch(fold_batch)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )

    drain_feed()  # MV <- initial click/view commits
    # the base moves on: an append and a DV delete...
    base.write(events.filter(F.col("event_type").isin("purchase", "error")))
    base.delete(spark, "user_id % 10 = 0")
    drain_feed()  # ...and the SAME checkpoint consumes only the deltas

    # crash-replay twin: verbatim re-merge of the last micro-batch must
    # commit nothing (txn-keyed merge idempotence)
    v_mv = mv.latest_version()
    fold_batch(last_batch["df"], last_batch["id"])
    exactly_once = int(mv.latest_version() == v_mv)

    refreshed = mv.read(spark).filter(F.col("n") > 0)
    full = (
        base.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("fn"),
            F.sum(F.col("value").cast(dec)).cast(dec).alias("ftotal"),
        )
    )
    mismatches = (
        refreshed.join(full, "event_type", "full_outer")
        .filter(
            ~(
                F.col("n").eqNullSafe(F.col("fn"))
                & F.col("total_dec").eqNullSafe(F.col("ftotal"))
            )
        )
        .count()
    )
    return refreshed.select(
        "event_type",
        "n",
        F.col("total_dec").cast("double").alias("total"),
        F.lit(int(mismatches == 0))
        .cast("long")
        .alias("incremental_equals_full"),
        F.lit(exactly_once).cast("long").alias("exactly_once"),
    )


@register(
    "streaming_expectations_quarantine",
    oracle="""
WITH t AS (
  SELECT event_type,
         (event_type IN ('click', 'view', 'purchase', 'signup')
          AND value <= 400.0) AS ok
  FROM events
)
SELECT 'curated' AS sink, event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS exactly_once
FROM t WHERE ok GROUP BY event_type
UNION ALL
SELECT 'quarantine', event_type, count(*), CAST(1 AS BIGINT)
FROM t WHERE NOT ok GROUP BY event_type
""",
    doc="Streaming data-quality gate with quarantine — the DLT "
    "expectations contract ON A STREAM: the events file-stream drains "
    "through foreachBatch in FOUR micro-batches (maxFilesPerTrigger "
    "forces the multi-batch path), each batch runs "
    "`operators.expectations.apply_expectations` and lands clean rows "
    "in the curated Delta table and violators (annotated per failed "
    "rule) in the quarantine Delta table — BOTH writes txn-stamped "
    "with the micro-batch id, so a replayed batch after a crash "
    "commits nothing twice (exactly_once pins that a manual re-apply "
    "of the last batch is a no-op: both table versions unchanged). "
    "Per-sink per-type counts hash against the batch predicate over "
    "raw events — stream==batch equivalence for the quality gate "
    "itself. This is the production ingest front door: bad data parks "
    "with provenance instead of poisoning gold, and at 100 TB/day the "
    "gate costs one row-local projection plus a 2xrules-long metrics "
    "agg per micro-batch.",
    tags=("streaming", "quality", "delta", "lakehouse", "stateful"),
)
def streaming_expectations_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.expectations import Expectation, apply_expectations
    from ..sources.delta import DeltaTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = scratch_dir(spark, "cpsexp_")
    src = os.path.join(root, "src")
    events.repartition(4).write.parquet(src)
    curated = DeltaTable(os.path.join(root, "curated"))
    quarantine = DeltaTable(os.path.join(root, "quarantine"))
    rules = [
        Expectation(
            "known_type",
            "event_type IN ('click', 'view', 'purchase', 'signup')",
            "drop",
        ),
        Expectation("value_in_range", "value <= 400.0", "drop"),
    ]
    last_batch: dict[str, object] = {}

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        clean, quar, _stats = apply_expectations(bdf, rules)
        curated.write(clean, txn=("exp_curated", batch_id))
        quarantine.write(
            quar.withColumnRenamed("__violations", "violations"),
            txn=("exp_quarantine", batch_id),
        )
        last_batch["df"] = bdf
        last_batch["id"] = batch_id

    stream = read_parquet_stream(
        spark, src, events.schema, max_files_per_trigger=1
    )
    with scoped_shuffle_partitions(spark):
        drain(
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    # crash-replay twin: re-apply the LAST micro-batch verbatim — the txn
    # idempotence check must turn both writes into no-ops
    v_cur, v_quar = curated.latest_version(), quarantine.latest_version()
    apply_batch(last_batch["df"], last_batch["id"])
    exactly_once = int(
        curated.latest_version() == v_cur
        and quarantine.latest_version() == v_quar
    )

    cur = (
        curated.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("curated").alias("sink"), "event_type", "n")
    )
    quar = (
        quarantine.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("quarantine").alias("sink"), "event_type", "n")
    )
    return cur.unionByName(quar).withColumn(
        "exactly_once", F.lit(exactly_once).cast("long")
    )


@register(
    "streaming_static_enrichment",
    oracle="""
SELECT c.c_mktsegment AS mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN customer c ON c.c_custkey = e.user_id % (SELECT count(*) FROM customer) + 1
GROUP BY 1, 2
""",
    doc="STREAM-STATIC enrichment join, physically executed: the event "
    "stream joins each micro-batch against the static customer "
    "dimension (market segment lookup) and lands enriched rows in a "
    "parquet sink via trigger(availableNow=True); the final aggregate "
    "reads the sink. This is the canonical dimension-enrichment shape "
    "of every bronze->silver pipeline: the static side is planned "
    "ONCE, broadcast to each micro-batch, requires NO watermark and "
    "NO state store (nothing buffers — unlike stream-stream joins), "
    "and the stream side never shuffles for the join. At 100 TB/day "
    "the dimension stays broadcast-sized by definition (dimensions "
    "grow like entities, not like events); a fact-sized 'dimension' "
    "is a stream-stream join and belongs to the other operator. "
    "Oracle = the identical batch join.",
    tags=("streaming", "join", "enrichment", "broadcast"),
)
def streaming_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    n_cust = customer.count()
    src = os.path.join(scratch_dir(spark, "cpenrich_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    enriched = stream.withColumn(
        "cust_key", F.col("user_id") % F.lit(n_cust) + 1
    ).join(
        F.broadcast(customer),
        F.col("cust_key") == F.col("c_custkey"),
    ).select("event_id", "user_id", "event_type", "c_mktsegment")
    emitted = drain_to_parquet(enriched, "static_enrichment")
    return emitted.groupBy(
        F.col("c_mktsegment").alias("mktsegment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "streaming_session_windows",
    oracle="""
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
sess AS (
  SELECT user_id,
         epoch_us(min(ts)) AS session_start_us,
         epoch_us(max(ts) + INTERVAL 4 HOUR) AS session_end_us,
         count(*) AS n_events
  FROM s GROUP BY user_id, sid
),
wm AS (
  SELECT epoch_us(max(ts) - INTERVAL 10 MINUTE) AS horizon FROM events
)
SELECT sess.* FROM sess, wm WHERE sess.session_end_us <= wm.horizon
""",
    doc="STATEFUL STREAMING session windows, physically executed: the "
    "event stream aggregates per-user sessions (4-hour inactivity gap) "
    "under a 10-minute watermark in APPEND mode and drains to a "
    "checkpointed parquet sink with trigger(availableNow=True) — the "
    "hardest stateful-streaming shape after stream-stream joins, "
    "because session state MERGES windows as late events bridge gaps "
    "(tumbling state only appends). Emission contract: a session is "
    "final once the watermark passes its end (last event + gap); the "
    "oracle is the batch gaps-and-islands rewrite restricted to the "
    "watermark horizon — stream==batch equivalence for every emitted "
    "row. State is bounded by ACTIVE sessions per user (watermark "
    "evicts finals), so a 100 TB/day stream holds |active users| "
    "session rows, not history.",
    tags=("streaming", "session", "watermark", "stateful"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = os.path.join(scratch_dir(spark, "cpsess_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    sess = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window(F.col("ts"), "4 hours").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
    return drain_to_parquet(sess, "session_windows")


@register(
    "streaming_purchase_attribution_full_outer",
    oracle="""
WITH c AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
         - INTERVAL 10 MINUTE AS horizon
),
matched AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL 30 MINUTE
   AND c.ts <= p.ts
),
un_p AS (
  SELECT p.user_id, p.event_id AS purchase_id, NULL AS click_id
  FROM p, wm
  WHERE p.ts < wm.horizon
    AND NOT EXISTS (
      SELECT 1 FROM c
      WHERE c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE
        AND c.ts <= p.ts
    )
),
un_c AS (
  SELECT c.user_id, NULL AS purchase_id, c.event_id AS click_id
  FROM c, wm
  WHERE c.ts + INTERVAL 30 MINUTE < wm.horizon
    AND NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE
        AND c.ts <= p.ts
    )
),
emitted AS (
  SELECT user_id, purchase_id, click_id FROM matched
  UNION ALL SELECT user_id, purchase_id, click_id FROM un_p
  UNION ALL SELECT user_id, purchase_id, click_id FROM un_c
)
SELECT user_id % 10 AS user_bucket,
       count(*) AS n_rows,
       count(CASE WHEN purchase_id IS NOT NULL AND click_id IS NOT NULL
                  THEN 1 END) AS n_matched,
       count(CASE WHEN click_id IS NULL THEN 1 END)
         AS n_unattributed_purchases,
       count(CASE WHEN purchase_id IS NULL THEN 1 END)
         AS n_unconverted_clicks
FROM emitted GROUP BY 1
""",
    doc="STREAM-STREAM FULL OUTER join, physically executed — the last "
    "cell of the streaming join-mode matrix (inner and left outer are "
    "registered separately): purchases and clicks join on user within "
    "a 30-minute attribution window, both sides watermarked, and BOTH "
    "unmatched sides must null-emit — each under its OWN eviction "
    "horizon derived from the join condition: an unmatched purchase "
    "finalizes when the watermark passes its timestamp (no older "
    "click can arrive), but an unmatched CLICK must wait 30 minutes "
    "LONGER (a matching purchase may post-date it by the full window) "
    "— the asymmetry the oracle's two horizon predicates reproduce "
    "exactly. State stays interval-bounded on both sides. Oracle = "
    "batch full outer decomposed into matched + two NOT EXISTS legs "
    "with per-side horizons; stream == batch on finalized rows.",
    tags=("streaming", "join", "outer", "watermark", "interval"),
)
def streaming_purchase_attribution_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(scratch_dir(spark, "cpfojoin_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src, events.schema)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("click_user"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("purchase_user"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "full_outer",
    ).select(
        F.coalesce("purchase_user", "click_user").alias("user_id"),
        "purchase_id",
        "click_id",
    )
    emitted = drain_to_parquet(joined, "purchase_attribution_full_outer")
    return emitted.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(
                F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull(),
                1,
            )
        ).alias("n_matched"),
        F.count(F.when(F.col("click_id").isNull(), 1)).alias(
            "n_unattributed_purchases"
        ),
        F.count(F.when(F.col("purchase_id").isNull(), 1)).alias(
            "n_unconverted_clicks"
        ),
    )


@register(
    "streaming_quoted_spread_1m",
    oracle=f"""
WITH {EVENTS_QUOTES_CTE}
, g AS (
  SELECT date_trunc('minute', trade_timestamp) AS ws,
         date_trunc('minute', trade_timestamp) + INTERVAL 1 MINUTE AS we,
         symbol,
         count(*) AS n_quotes,
         {sql_davg('ask - bid')} AS avg_quoted_spread,
         max(ask - bid) AS max_quoted_spread
  FROM quotes WHERE mid > 0 GROUP BY 1, 2, 3
),
wm AS (SELECT max(trade_timestamp) - INTERVAL 10 MINUTE AS horizon
       FROM quotes WHERE mid > 0)
SELECT {sql_fmt_ts("g.ws")} AS window_start,
       {sql_fmt_ts("g.we")} AS window_end,
       g.symbol, g.n_quotes, g.avg_quoted_spread, g.max_quoted_spread
FROM g, wm WHERE g.we <= wm.horizon
""",
    doc="The round-11 microstructure family on the STREAMING surface, "
    "physically executed: the NBBO quote mapping runs as narrow "
    "stream-side transforms (from_json/filter/derive are all "
    "stream-compatible), then 10-min watermark -> 1-min windowed "
    "quoted-spread aggregation (exact-decimal mean, selection max) -> "
    "append-mode checkpointed parquet sink drained with "
    "trigger(availableNow=True). Oracle = the batch quoted-spread "
    "aggregation restricted to watermark-finalized windows — "
    "stream==batch equivalence for the quote family, same protocol as "
    "streaming_gold_candles_availablenow. State at 100 TB: one open "
    "window per (symbol, minute) inside the watermark horizon, evicted "
    "on finalization.",
    tags=("streaming", "finance", "microstructure", "watermark"),
)
def streaming_quoted_spread_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.determinism import davg
    from ..operators.ticks import events_as_quotes

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(scratch_dir(spark, "cpsquote_"), "src")
    events.write.parquet(src)

    stream = events_as_quotes(
        read_parquet_stream(spark, src, events.schema)
    ).filter(F.col("mid") > 0)
    spread = F.col("ask") - F.col("bid")
    agg = (
        stream.withWatermark("trade_timestamp", WATERMARK)
        .groupBy(
            F.window(F.col("trade_timestamp"), "1 minute").alias("w"),
            "symbol",
        )
        .agg(
            F.count(F.lit(1)).alias("n_quotes"),
            davg(spread).alias("avg_quoted_spread"),
            F.max(spread).alias("max_quoted_spread"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "symbol",
            "n_quotes",
            "avg_quoted_spread",
            "max_quoted_spread",
        )
    )
    out = drain_to_parquet(agg, "quoted_spread_1m_stream")
    return out.select(
        fmt_ts("window_start", "window_start"),
        fmt_ts("window_end", "window_end"),
        "symbol",
        "n_quotes",
        "avg_quoted_spread",
        "max_quoted_spread",
    )


@register(
    "streaming_order_flow_imbalance_1m",
    oracle=f"""
WITH {EVENTS_QUOTES_CTE},
t AS (
  SELECT symbol, epoch_us(trade_timestamp) AS ts_us, trade_id,
         bid, ask, bid_size, ask_size, mid
  FROM quotes
),
d AS (
  SELECT *,
         lag(bid) OVER w AS pb, lag(ask) OVER w AS pa,
         lag(bid_size) OVER w AS pbs, lag(ask_size) OVER w AS pas
  FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts_us, trade_id)
),
e AS (
  SELECT symbol, ts_us, trade_id, mid,
         (CASE WHEN bid >= pb THEN bid_size ELSE 0 END
          - CASE WHEN bid <= pb THEN pbs ELSE 0 END
          - CASE WHEN ask <= pa THEN ask_size ELSE 0 END
          + CASE WHEN ask >= pa THEN pas ELSE 0 END) AS ev
  FROM d WHERE pb IS NOT NULL
)
SELECT symbol,
       strftime(date_trunc('minute', to_timestamp(ts_us / 1000000.0)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_updates,
       CAST(sum(ev) AS BIGINT) AS ofi,
       arg_max(mid, ts_us::HUGEINT * 1000000000000 + trade_id) AS last_mid
FROM e GROUP BY 1, 2
""",
    doc="Order flow imbalance (Cont-Kukanov-Stoikov) on the STREAMING "
    "surface, physically executed — the round-11 microstructure family's "
    "natural stateful-streaming citizen, because the quote-to-quote lag "
    "IS the state: per symbol, an applyInPandasWithState processor "
    "carries the LAST QUOTE (bid/ask/sizes) across micro-batches, "
    "computes each update's e_n contribution (bid holds-or-improves "
    "adds bid_size, holds-or-worsens subtracts the prior bid_size, "
    "mirrored on the ask — exact integers), reduces to per-(symbol, "
    "minute) OFI + update count + deterministic last mid (composite "
    "(ts_us, trade_id) key), and appends through a checkpointed parquet "
    "sink drained with trigger(availableNow=True). Oracle = the batch "
    "OFI minute reduction (tick_order_flow_imbalance's t/d/e/m chain) — "
    "stream==batch for the OFI family, extending the T3 matrix "
    "(same single-drain determinism protocol as "
    "streaming_user_sessions_stateful: the drain holds each symbol's "
    "full history, so every minute is final; a continuous pipeline "
    "would state.update() the open minute instead of emitting it). "
    "State at 100 TB: ONE quote per symbol — bytes scale with key "
    "cardinality, never with tick volume.",
    tags=("streaming", "finance", "microstructure", "stateful"),
)
def streaming_order_flow_imbalance_1m(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.ticks import events_as_quotes

    def ofi_minutes(key, pdf_iter, state):
        import numpy as np

        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts_us", "trade_id"])
        bid = rows["bid"].to_numpy(dtype=np.float64)
        ask = rows["ask"].to_numpy(dtype=np.float64)
        bs = rows["bid_size"].to_numpy(dtype=np.int64)
        asz = rows["ask_size"].to_numpy(dtype=np.int64)
        if state.exists:
            pb0, pa0, pbs0, pas0 = state.get
            pb = np.concatenate(([pb0], bid[:-1]))
            pa = np.concatenate(([pa0], ask[:-1]))
            pbs = np.concatenate(([pbs0], bs[:-1]))
            pas = np.concatenate(([pas0], asz[:-1]))
            valid = np.ones(len(rows), dtype=bool)
        else:
            pb = np.concatenate(([0.0], bid[:-1]))
            pa = np.concatenate(([0.0], ask[:-1]))
            pbs = np.concatenate(([0], bs[:-1]))
            pas = np.concatenate(([0], asz[:-1]))
            valid = np.ones(len(rows), dtype=bool)
            if len(rows):
                valid[0] = False  # no prior quote: e_1 undefined (batch twin
                # drops the lag-NULL row)
        ev = (
            np.where(bid >= pb, bs, 0)
            - np.where(bid <= pb, pbs, 0)
            - np.where(ask <= pa, asz, 0)
            + np.where(ask >= pa, pas, 0)
        )
        out = rows.loc[valid, ["ts_us", "mid"]].copy()
        out["ev"] = ev[valid]
        out["minute_us"] = (out["ts_us"] // 60_000_000) * 60_000_000
        # rows are (ts_us, trade_id)-sorted, so .last() per minute is the
        # deterministic composite-key selection
        g = out.groupby("minute_us", sort=True)
        res = pd.DataFrame(
            {
                "symbol": key[0],
                "window_start_us": g["ev"].count().index.to_numpy(),
                "n_updates": g["ev"].count().to_numpy(),
                "ofi": g["ev"].sum().to_numpy(),
                "last_mid": g["mid"].last().to_numpy(),
            }
        )
        # single-drain determinism (see doc): every minute in this batch
        # is final; a continuous pipeline would carry the last quote via
        # state.update((bid[-1], ask[-1], int(bs[-1]), int(asz[-1])))
        state.remove()
        return iter([res])

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(scratch_dir(spark, "cpsofi_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = events_as_quotes(
        read_parquet_stream(spark, src, events.schema)
    ).select(
        "symbol",
        F.unix_micros("trade_timestamp").alias("ts_us"),
        "trade_id",
        "bid",
        "ask",
        "bid_size",
        "ask_size",
        "mid",
    )
    minutes = stream.groupBy("symbol").applyInPandasWithState(
        ofi_minutes,
        outputStructType=(
            "symbol string, window_start_us long, n_updates long, "
            "ofi long, last_mid double"
        ),
        stateStructType=(
            "bid double, ask double, bid_size long, ask_size long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = drain_to_parquet(minutes, "ofi_1m_stream", 16)
    return out.select(
        "symbol",
        fmt_ts(F.timestamp_micros(F.col("window_start_us")), "window_start"),
        "n_updates",
        "ofi",
        "last_mid",
    )


def arb_pnl_chained_stream(stream: DataFrame) -> DataFrame:
    """Quote stream -> per-minute executable-arb PnL via TWO chained
    stateful windowed aggregations (exposed for the plan pin test:
    the physical streaming plan must carry exactly two StateStoreSave
    operators — stage-1 last-quote selection, stage-2 venue pivot)."""
    from pyspark.sql import functions as F

    lk = F.struct(F.col("trade_timestamp"), F.col("trade_id"))
    v = (
        stream.withWatermark("trade_timestamp", WATERMARK)
        .groupBy(
            F.window(F.col("trade_timestamp"), "1 minute").alias("w"),
            "symbol",
            "venue",
        )
        .agg(
            F.max_by("bid", lk).alias("bid"),
            F.max_by("ask", lk).alias("ask"),
            F.max_by("bid_size", lk).alias("bid_size"),
            F.max_by("ask_size", lk).alias("ask_size"),
        )
    )

    def side(venue: str, col: str):
        # one row per (venue, symbol, window) upstream: max(when) IS the
        # venue's value
        return F.max(F.when(F.col("venue") == venue, F.col(col)))

    p = v.groupBy(F.window(F.col("w"), "1 minute").alias("w2"), "symbol").agg(
        side("coinbase", "bid").alias("cb_bid"),
        side("coinbase", "ask").alias("cb_ask"),
        side("coinbase", "bid_size").alias("cb_bs"),
        side("coinbase", "ask_size").alias("cb_as"),
        side("binance", "bid").alias("bn_bid"),
        side("binance", "ask").alias("bn_ask"),
        side("binance", "bid_size").alias("bn_bs"),
        side("binance", "ask_size").alias("bn_as"),
        F.count(F.lit(1)).alias("n_venues"),
    )
    edge_cb = F.col("bn_bid") - F.col("cb_ask")
    edge_bn = F.col("cb_bid") - F.col("bn_ask")
    return p.filter(F.col("n_venues") == 2).select(
        "symbol",
        F.col("w2.start").alias("window_start"),
        F.when(edge_cb > 0.0, F.lit("buy_coinbase"))
        .when(edge_bn > 0.0, F.lit("buy_binance"))
        .alias("dir"),
        F.when(edge_cb > 0.0, F.least("cb_as", "bn_bs"))
        .when(edge_bn > 0.0, F.least("bn_as", "cb_bs"))
        .otherwise(F.lit(0))
        .alias("qty"),
        F.when(
            edge_cb > 0.0, edge_cb * F.least("cb_as", "bn_bs").cast("double")
        )
        .when(
            edge_bn > 0.0, edge_bn * F.least("bn_as", "cb_bs").cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("pnl"),
    )


@register(
    "streaming_arb_executable_pnl_1m",
    oracle=f"""
WITH {EVENTS_QUOTES_CTE},
v AS (
  SELECT symbol, venue, date_trunc('minute', trade_timestamp) AS ws,
         date_trunc('minute', trade_timestamp) + INTERVAL 1 MINUTE AS we,
         arg_max(bid, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS bid,
         arg_max(ask, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS ask,
         arg_max(bid_size, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS bid_size,
         arg_max(ask_size, epoch_us(trade_timestamp)::HUGEINT * 1000000000000 + trade_id) AS ask_size
  FROM quotes GROUP BY 1, 2, 3, 4
),
p AS (
  SELECT symbol, ws, we,
         max(CASE WHEN venue = 'coinbase' THEN bid END) AS cb_bid,
         max(CASE WHEN venue = 'coinbase' THEN ask END) AS cb_ask,
         max(CASE WHEN venue = 'coinbase' THEN bid_size END) AS cb_bs,
         max(CASE WHEN venue = 'coinbase' THEN ask_size END) AS cb_as,
         max(CASE WHEN venue = 'binance' THEN bid END) AS bn_bid,
         max(CASE WHEN venue = 'binance' THEN ask END) AS bn_ask,
         max(CASE WHEN venue = 'binance' THEN bid_size END) AS bn_bs,
         max(CASE WHEN venue = 'binance' THEN ask_size END) AS bn_as,
         count(*) AS n_venues
  FROM v GROUP BY 1, 2, 3
),
wm AS (SELECT max(trade_timestamp) - INTERVAL 10 MINUTE AS horizon
       FROM quotes)
SELECT symbol,
       strftime(p.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN bn_bid - cb_ask > 0.0 THEN 'buy_coinbase'
            WHEN cb_bid - bn_ask > 0.0 THEN 'buy_binance' END AS dir,
       CASE WHEN bn_bid - cb_ask > 0.0 THEN least(cb_as, bn_bs)
            WHEN cb_bid - bn_ask > 0.0 THEN least(bn_as, cb_bs)
            ELSE 0 END AS qty,
       CASE WHEN bn_bid - cb_ask > 0.0
            THEN (bn_bid - cb_ask) * CAST(least(cb_as, bn_bs) AS DOUBLE)
            WHEN cb_bid - bn_ask > 0.0
            THEN (cb_bid - bn_ask) * CAST(least(bn_as, cb_bs) AS DOUBLE)
            ELSE 0.0 END AS pnl
FROM p, wm WHERE p.n_venues = 2 AND p.we <= wm.horizon
""",
    doc="The TITLE capability — executable cross-venue arbitrage PnL — "
    "physically executed on the STREAMING surface via CHAINED windowed "
    "aggregations (the multiple-stateful-operator support the T-matrix "
    "had not yet exercised): stage 1 reduces the watermarked quote "
    "stream to each (venue, symbol, 1-min window)'s LAST quote "
    "(deterministic max_by on the composite (ts, trade_id) key, "
    "running in streaming state); stage 2 re-windows stage 1's window "
    "column (window(col('w')) — watermark propagates through) and "
    "pivots the two venues to price the crossed edge times executable "
    "depth min(ask_size, bid_size). Oracle = the batch pivot "
    "restricted to watermark-finalized windows; emission == batch, "
    "per-minute rows with direction/size/PnL. State at 100 TB: stage 1 "
    "holds one quote struct per (venue, symbol) open window, stage 2 "
    "one pivot row per (symbol) open window — both evicted on "
    "finalization, independent of tick volume.",
    tags=("streaming", "finance", "microstructure", "arbitrage", "watermark"),
)
def streaming_arb_executable_pnl_1m(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.ticks import events_as_quotes

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(scratch_dir(spark, "cpsarb_"), "src")
    events.write.parquet(src)

    out_stream = arb_pnl_chained_stream(
        events_as_quotes(read_parquet_stream(spark, src, events.schema))
    )
    out = drain_to_parquet(out_stream, "arb_executable_pnl_1m_stream")
    return out.select(
        "symbol",
        fmt_ts("window_start", "window_start"),
        "dir",
        "qty",
        "pnl",
    )


@register(
    "streaming_cross_venue_staleness_1m",
    oracle=f"""
WITH {EVENTS_QUOTES_CTE},
m AS (
  SELECT symbol, venue, epoch_us(trade_timestamp) AS ts_us, trade_id,
         CASE WHEN venue = 'coinbase'
              THEN epoch_us(trade_timestamp) END AS cb_ts,
         CASE WHEN venue = 'binance'
              THEN epoch_us(trade_timestamp) END AS bn_ts
  FROM quotes
),
f AS (
  SELECT symbol, venue, ts_us,
         last_value(cb_ts IGNORE NULLS) OVER w AS last_cb,
         last_value(bn_ts IGNORE NULLS) OVER w AS last_bn
  FROM m
  WINDOW w AS (PARTITION BY symbol ORDER BY ts_us, trade_id
               ROWS UNBOUNDED PRECEDING)
),
s AS (
  SELECT symbol, venue, ts_us,
         ts_us - CASE WHEN venue = 'coinbase' THEN last_bn
                      ELSE last_cb END AS stale_us
  FROM f
)
SELECT symbol, venue,
       strftime(date_trunc('minute', to_timestamp(ts_us / 1000000.0)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_quotes,
       CAST(sum(CASE WHEN stale_us IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_ref,
       CAST(sum(stale_us) AS BIGINT) AS total_stale_us,
       max(stale_us) AS max_stale_us
FROM s GROUP BY 1, 2, 3
""",
    doc="Cross-venue quote staleness on the STREAMING surface, "
    "physically executed — the live monitor a desk actually runs "
    "(is the feed I'm arbitraging against stale RIGHT NOW?): per "
    "symbol an applyInPandasWithState processor carries each venue's "
    "LAST QUOTE TIME (two BIGINTs per symbol — state scales with key "
    "cardinality, never tick volume), stamps every arriving quote "
    "with the opposite venue's age (exact integer microseconds, "
    "composite (ts_us, trade_id) order), reduces to per-(symbol, "
    "venue, minute) counts/total/max, and appends through a "
    "checkpointed parquet sink drained with trigger(availableNow). "
    "Oracle = the batch LOCF staleness chain minute-grouped — "
    "stream==batch, extending the T3 stateful matrix to the "
    "staleness family (single-drain determinism protocol as the "
    "streaming OFI twin).",
    tags=("streaming", "finance", "microstructure", "stateful"),
)
def streaming_cross_venue_staleness_1m(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.ticks import events_as_quotes

    def stale_minutes(key, pdf_iter, state):
        import numpy as np

        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts_us", "trade_id"])
        ts = rows["ts_us"].to_numpy(dtype=np.int64)
        is_cb = (rows["venue"] == "coinbase").to_numpy()
        cb = pd.Series(np.where(is_cb, ts, np.nan), dtype="float64")
        bn = pd.Series(np.where(~is_cb, ts, np.nan), dtype="float64")
        if state.exists:
            p_cb, p_bn = state.get
            if len(cb) and np.isnan(cb.iloc[0]) and p_cb >= 0:
                cb.iloc[0] = float(p_cb)
            if len(bn) and np.isnan(bn.iloc[0]) and p_bn >= 0:
                bn.iloc[0] = float(p_bn)
        lcb = cb.ffill().to_numpy()
        lbn = bn.ffill().to_numpy()
        ref = np.where(is_cb, lbn, lcb)
        stale = pd.array(ts - ref, dtype="Int64")
        out = pd.DataFrame(
            {
                "symbol": key[0],
                "venue": rows["venue"].to_numpy(),
                "minute_us": (ts // 60_000_000) * 60_000_000,
                "stale_us": stale,
            }
        )
        g = out.groupby(["venue", "minute_us"], sort=True)
        res = g.agg(
            n_quotes=("stale_us", "size"),
            n_with_ref=("stale_us", "count"),
            total_stale_us=("stale_us", "sum"),
            max_stale_us=("stale_us", "max"),
        ).reset_index()
        # SQL sum over zero referenced rows is NULL, pandas Int64 sum
        # is 0 — align with the oracle (and the batch twin's F.sum)
        res.loc[res["n_with_ref"] == 0, "total_stale_us"] = pd.NA
        res.insert(0, "symbol", key[0])
        res["window_start_us"] = res.pop("minute_us")
        # single-drain determinism: every minute in this batch is final;
        # a continuous pipeline would carry
        # state.update((last_cb_or_-1, last_bn_or_-1)) instead
        state.remove()
        return iter([res])

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(scratch_dir(spark, "cpsstale_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = events_as_quotes(
        read_parquet_stream(spark, src, events.schema)
    ).select(
        "symbol",
        "venue",
        F.unix_micros("trade_timestamp").alias("ts_us"),
        "trade_id",
    )
    minutes = stream.groupBy("symbol").applyInPandasWithState(
        stale_minutes,
        outputStructType=(
            "symbol string, venue string, n_quotes long, n_with_ref long, "
            "total_stale_us long, max_stale_us long, window_start_us long"
        ),
        stateStructType="last_cb long, last_bn long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = drain_to_parquet(minutes, "stale_1m_stream", 16)
    return out.select(
        "symbol",
        "venue",
        fmt_ts(F.timestamp_micros(F.col("window_start_us")), "window_start"),
        "n_quotes",
        "n_with_ref",
        "total_stale_us",
        "max_stale_us",
    )


#: momentum-replay constants shared with plans/medallion (same literal
#: values; import would be circular-ish noise for two ints).
_MR_SCALE = 1 << 20
_MR_CAP = 5


@register(
    "streaming_momentum_replay",
    oracle=f"""
WITH RECURSIVE {EVENTS_TICKS_CTE},
gold AS (
  SELECT symbol, date_trunc('minute', trade_timestamp) AS w,
         arg_max(price,
                 epoch_us(trade_timestamp)::HUGEINT * 1000000000000
                 + trade_id) AS close
  FROM ticks GROUP BY 1, 2
),
ranked AS MATERIALIZED (
  SELECT symbol,
         CAST(floor(close * {float(_MR_SCALE)!r}) AS BIGINT) AS q,
         row_number() OVER (PARTITION BY symbol ORDER BY w) AS rn
  FROM gold
),
rec(symbol, rn, q, pos, cum, peak, mdd, ntr) AS (
  SELECT symbol, rn, q, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
         0::BIGINT
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.symbol, r.rn, r.q,
         greatest(-{_MR_CAP}, least({_MR_CAP},
             p.pos + CASE WHEN r.q > p.q THEN 1
                          WHEN r.q < p.q THEN -1 ELSE 0 END)),
         p.cum + p.pos * (r.q - p.q),
         greatest(p.peak, p.cum + p.pos * (r.q - p.q)),
         greatest(p.mdd,
                  greatest(p.peak, p.cum + p.pos * (r.q - p.q))
                  - (p.cum + p.pos * (r.q - p.q))),
         p.ntr + CASE WHEN greatest(-{_MR_CAP}, least({_MR_CAP},
                          p.pos + CASE WHEN r.q > p.q THEN 1
                                       WHEN r.q < p.q THEN -1 ELSE 0 END))
                      <> p.pos THEN 1 ELSE 0 END
  FROM ranked r JOIN rec p ON p.symbol = r.symbol AND r.rn = p.rn + 1
)
SELECT symbol, count(*) AS n_obs, max(ntr) AS n_trades,
       arg_max(pos, rn) AS final_pos,
       arg_max(cum, rn) AS total_pnl_q,
       max(mdd) AS max_drawdown_q
FROM rec GROUP BY symbol
""",
    doc="Inventory-clamped momentum replay on the STREAMING surface, "
    "physically executed — the RECURSIVE family joining the T3 "
    "stateful matrix: per symbol an applyInPandasWithState processor "
    "reduces arriving ticks to minute closes (deterministic composite "
    "(ts_us, trade_id) selection) and advances the exact-integer "
    "backtest state machine (position clamped to +-{cap}, "
    "mark-to-move PnL, running peak/drawdown — "
    "operators/recursive.keyed_momentum_replay's recurrence) across "
    "micro-batches, draining each symbol's summary through a "
    "checkpointed append sink. State is SIX integers per symbol at "
    "any tick volume. Oracle = the batch recursive-CTE replay over "
    "the gold close series — stream == batch for a NON-ASSOCIATIVE "
    "per-key recursion (the clamp breaks every chunk-carry scheme; "
    "single-drain determinism protocol as the OFI/staleness twins: "
    "the drain holds each symbol's full history, so the final summary "
    "is exact; a continuous pipeline would state.update() the open "
    "tuple instead of emitting).".format(cap=_MR_CAP),
    tags=("streaming", "finance", "backtest", "stateful", "recursive"),
)
def streaming_momentum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    scale, cap = float(_MR_SCALE), _MR_CAP

    def replay(key, pdf_iter, state):
        import math

        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts_us", "trade_id"])
        rows["minute_us"] = (rows["ts_us"] // 60_000_000) * 60_000_000
        closes = rows.groupby("minute_us", sort=True)["price"].last()
        qs = [int(math.floor(p * scale)) for p in closes]
        pos = cum = peak = mdd = ntr = 0
        prev = None
        for q in qs:
            if prev is not None:
                m = q - prev
                cum += pos * m
                peak = max(peak, cum)
                mdd = max(mdd, peak - cum)
                step = 1 if m > 0 else (-1 if m < 0 else 0)
                new_pos = max(-cap, min(cap, pos + step))
                if new_pos != pos:
                    ntr += 1
                pos = new_pos
            prev = q
        res = pd.DataFrame(
            {
                "symbol": [key[0]],
                "n_obs": [len(qs)],
                "n_trades": [ntr],
                "final_pos": [pos],
                "total_pnl_q": [cum],
                "max_drawdown_q": [mdd],
            }
        )
        # single-drain determinism: the batch holds the full history; a
        # continuous pipeline would state.update() the open tuple
        state.remove()
        return iter([res])

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(scratch_dir(spark, "cpsmr_"), "src")
    events.coalesce(1).write.parquet(src)

    stream = events_as_ticks(
        read_parquet_stream(spark, src, events.schema)
    ).select(
        "symbol",
        F.unix_micros("trade_timestamp").alias("ts_us"),
        "trade_id",
        "price",
    )
    summaries = stream.groupBy("symbol").applyInPandasWithState(
        replay,
        outputStructType=(
            "symbol string, n_obs long, n_trades long, final_pos long, "
            "total_pnl_q long, max_drawdown_q long"
        ),
        stateStructType=(
            "prev_q long, pos long, cum long, peak long, mdd long, "
            "ntr long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_to_parquet(summaries, "momentum_replay_stream", 16)
