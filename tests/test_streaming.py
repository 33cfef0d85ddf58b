"""Streaming suite (SURVEY.md section 5.2.3): stream==batch equivalence,
watermark late-data semantics, checkpoint-restart idempotence, streaming
dedup — the properties the DuckDB oracle cannot check.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.dedup import (
    dedup_exact,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.gold import (
    candles,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.observability import (
    observe_stream,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.schemas import (
    BRONZE_SCHEMA,
    KAFKA_SHAPED_SCHEMA,
    SILVER_SCHEMA,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
    bronze_ingest,
    dedup_ticks_stream,
    gold_stream,
    rate_replay_ticks,
    read_parquet_stream,
    run_medallion_available_now,
    silver_stream,
    start_parquet_stream,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import jobs
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
    drain,
    scoped_shuffle_partitions,
    write_progress_log,
)


def utc(minute: int, second: int = 0, hour: int = 12) -> datetime:
    return datetime(2026, 1, 2, hour, minute, second, tzinfo=timezone.utc)


def make_raw_ticks(spark, n: int = 300):
    """Kafka-shaped batch rows whose payload is the reference's ticker JSON."""
    rows = [
        (
            i,
            f"S{i % 3}",
            f"{100 + (i % 3) * 100 + (i % 97) / 100.0:.8f}",
            f"{(i % 13) / 10.0 + 0.1:.8f}",
            utc(minute=i // 20, second=i % 60),
            "buy" if i % 2 == 0 else "sell",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "trade_id long, product_id string, price string, last_size string, ts timestamp, side string"
    )
    payload = F.to_json(
        F.struct(
            F.lit("ticker").alias("type"),
            F.col("product_id"),
            F.col("price"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("time"),
            F.col("trade_id"),
            F.col("last_size"),
            F.col("side").alias("side"),
        )
    )
    return df.select(
        F.lit("coinbase").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )


def write_silver_file(path: str, rows: list[tuple]) -> None:
    """One parquet file of silver-shaped ticks (one micro-batch's worth)."""
    schema = pa.schema(
        [
            ("venue", pa.string()),
            ("symbol", pa.string()),
            ("price", pa.decimal128(18, 8)),
            ("size", pa.decimal128(18, 8)),
            ("trade_id", pa.int64()),
            ("trade_timestamp", pa.timestamp("us", tz="UTC")),
            ("taker_side", pa.string()),
        ]
    )
    cols = list(zip(*rows))
    table = pa.table(
        {name: list(col) for name, col in zip(schema.names, cols)}, schema=schema
    )
    pq.write_table(table, path)


def tick(symbol: str, ts: datetime, trade_id: int, price: str = "100.5") -> tuple:
    return (
        "coinbase",
        symbol,
        Decimal(price),
        Decimal("1.0"),
        trade_id,
        ts,
        "buy",
    )


def land_raw_minutes(spark, raw_dir: str, first: int, last: int) -> None:
    """Append the raw ticks of event minutes ``first``..``last`` - 1 to
    ``raw_dir`` as new files (one increment of a landing feed)."""
    minute = F.minute("timestamp")
    make_raw_ticks(spark, n=20 * last).filter(minute >= first).write.mode(
        "append"
    ).parquet(raw_dir)


GOLD_COLUMNS = (
    "window_start", "window_end", "symbol", "open", "high", "low", "close",
    "trade_count", "sum_pv", "sum_volume", "vwap",
)


def sorted_rows(df) -> list[tuple]:
    return sorted(tuple(map(str, r)) for r in df.select(*GOLD_COLUMNS).collect())


def tree(root) -> dict[str, tuple[int, int]]:
    """Every file under ``root``: relative path -> (size, mtime in ns)."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file()
    }


def run_chained_medallion(spark, raw_dir: str, out_root: str) -> None:
    """The runner's former topology: bronze -> silver -> gold, each hop
    reading the table the hop before it wrote."""
    hops = [
        (raw_dir, KAFKA_SHAPED_SCHEMA, bronze_ingest, "bronze"),
        (os.path.join(out_root, "bronze"), BRONZE_SCHEMA, silver_stream, "silver"),
        (os.path.join(out_root, "silver"), SILVER_SCHEMA, gold_stream, "gold"),
    ]
    for source, schema, transform, layer in hops:
        drain(
            start_parquet_stream(
                transform(read_parquet_stream(spark, source, schema)),
                path=os.path.join(out_root, layer),
                checkpoint=os.path.join(out_root, "_checkpoints", layer),
            ),
            120,
        )


def read_out(spark, path):
    return spark.read.schema(None or spark.read.parquet(path).schema).parquet(path)


class TestMedallionStreamEqualsBatch:
    def test_full_pipeline_matches_batch(self, spark, tmp_path):
        """availableNow drain of raw->bronze->silver->gold equals running the
        same pure transforms in batch — T3/T4/T5/T6 + K1-K3 in one property."""
        raw_dir, out_root = str(tmp_path / "raw"), str(tmp_path / "out")
        raw = make_raw_ticks(spark)
        raw.write.parquet(raw_dir)

        paths = run_medallion_available_now(
            spark, raw_dir=raw_dir, out_root=out_root, watermark="10 minutes"
        )

        # Batch twin: identical transforms over the identical input.
        batch_gold = candles(
            silver_stream(bronze_ingest(spark.read.parquet(raw_dir)))
        )
        got = {
            tuple(map(str, r))
            for r in spark.read.parquet(paths["gold"])
            .select("window_start", "symbol", "open", "close", "trade_count")
            .collect()
        }
        # Append mode emits only watermark-finalized windows: the batch twin
        # restricted to windows whose end <= max event time - watermark.
        max_ts = raw.agg(F.max("timestamp")).collect()[0][0]
        expected_all = batch_gold.select(
            "window_start", "window_end", "symbol", "open", "close", "trade_count"
        ).collect()
        horizon = max_ts.replace(tzinfo=None)
        from datetime import timedelta

        expected = {
            tuple(map(str, (r.window_start, r.symbol, r.open, r.close, r.trade_count)))
            for r in expected_all
            if r.window_end <= horizon - timedelta(minutes=10)
        }
        assert expected, "test data must close at least one window"
        assert got == expected

        # Bronze preserved the raw payload (schema-on-read contract).
        bronze = spark.read.parquet(paths["bronze"])
        assert bronze.columns == ["key", "json_payload", "kafka_ts", "ingest_ts"]
        assert bronze.count() == raw.count()

    def test_rerun_is_idempotent(self, spark, tmp_path):
        """T5: re-draining with the same checkpoints adds nothing."""
        raw_dir, out_root = str(tmp_path / "raw"), str(tmp_path / "out")
        make_raw_ticks(spark, n=100).write.parquet(raw_dir)
        paths = run_medallion_available_now(spark, raw_dir=raw_dir, out_root=out_root)
        first = spark.read.parquet(paths["gold"]).count()
        paths = run_medallion_available_now(spark, raw_dir=raw_dir, out_root=out_root)
        assert spark.read.parquet(paths["gold"]).count() == first

    def test_gold_equals_candles_of_silver_over_increments(self, spark, tmp_path):
        """Gold reads bronze, not silver, yet after every call it holds
        exactly the batch candles of the silver table, restricted to the
        windows the watermark has finalised: no window lost or counted
        twice as raw files land in three increments."""
        raw_dir, out_root = str(tmp_path / "raw"), str(tmp_path / "out")
        for first, last in ((0, 10), (10, 20), (20, 30)):
            land_raw_minutes(spark, raw_dir, first, last)
            paths = run_medallion_available_now(spark, raw_dir=raw_dir, out_root=out_root)
            silver = spark.read.parquet(paths["silver"])
            horizon = silver.agg(
                F.max("trade_timestamp") - F.expr("INTERVAL 10 MINUTES")
            ).collect()[0][0]
            expected = sorted_rows(candles(silver).filter(F.col("window_end") <= horizon))
            assert sorted_rows(spark.read.parquet(paths["gold"])) == expected
        assert len(expected) == 3 * 19  # minutes 0-18 of 3 symbols are final


class TestDrain:
    def test_failed_hop_surfaces_through_drain(self, spark, tmp_path):
        """A hop whose batch function raises fails the drain with that
        exception, and the failed query is not left running."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=50).write.parquet(raw_dir)

        def boom(batch_df, batch_id):
            raise RuntimeError("hop crash")

        q = (
            read_parquet_stream(spark, raw_dir, KAFKA_SHAPED_SCHEMA)
            .writeStream.foreachBatch(boom)
            .queryName("crashing_hop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="hop crash"):
            drain(q, 120)
        assert not q.isActive
        assert not [a for a in spark.streams.active if a.id == q.id]

    @pytest.mark.parametrize("failing", ["silver_parse", "gold_candles"])
    def test_failed_medallion_hop_stops_the_other(
        self, spark, tmp_path, monkeypatch, failing
    ):
        """Silver and gold run together: when one fails, the runner
        raises its error and leaves no query running. Only the
        ``silver_parse`` case checks the stop: silver is drained first,
        so when gold fails silver has already finished on its own, and
        the ``gold_candles`` case checks only that gold's error comes
        through."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=400).write.parquet(raw_dir)

        def start(df, *, query_name, **kwargs):
            if query_name == failing:
                df = df.filter(F.raise_error(F.lit(f"{failing} crash")).isNull())
            return start_parquet_stream(df, query_name=query_name, **kwargs)

        monkeypatch.setattr(jobs, "start_parquet_stream", start)
        with pytest.raises(Exception, match=f"{failing} crash"):
            run_medallion_available_now(
                spark, raw_dir=raw_dir, out_root=str(tmp_path / "out"), timeout_sec=120
            )
        assert not spark.streams.active

    def test_progress_log_reconciles_with_observe_counters(self, spark, tmp_path):
        """A drained query's JSON progress log and its observe() audit metrics
        are two views of one execution: every batch's observedMetrics
        lands in the log, and their sum equals both the logged input rows
        and the rows actually written."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=60).write.parquet(raw_dir)
        out, log_dir = str(tmp_path / "out"), str(tmp_path / "logs")
        audited = observe_stream(
            read_parquet_stream(spark, raw_dir, KAFKA_SHAPED_SCHEMA),
            "ingest_audit",
            {"n_rows": F.count(F.lit(1))},
        )
        q = start_parquet_stream(
            audited, path=out, checkpoint=str(tmp_path / "ck"), query_name="audited_job"
        )
        drain(q, 120)
        write_progress_log(q, log_dir)

        with open(os.path.join(log_dir, "audited_job.log")) as fh:
            records = [json.loads(line) for line in fh]
        assert records
        observed_total = sum(
            r["observedMetrics"]["ingest_audit"]["n_rows"]
            for r in records
            if r.get("observedMetrics")
        )
        input_total = sum(r["numInputRows"] for r in records)
        written = spark.read.parquet(out).count()
        assert observed_total == written == input_total == 60


class TestMedallionPlans:
    @pytest.fixture
    def builds(self, monkeypatch) -> list[str]:
        """The paths of every streaming source the runner builds."""
        built: list[str] = []

        def counting(spark, path, schema, **kwargs):
            built.append(path)
            return read_parquet_stream(spark, path, schema, **kwargs)

        monkeypatch.setattr(jobs, "read_parquet_stream", counting)
        return built

    def test_plans_are_built_once_per_key(self, spark, tmp_path, builds):
        """A second call with the same (raw_dir, out_root, watermark)
        builds no plan; another out_root or watermark rebuilds them."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=100).write.parquet(raw_dir)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")

        def call(out_root, watermark="10 minutes") -> int:
            builds.clear()
            run_medallion_available_now(
                spark, raw_dir=raw_dir, out_root=out_root, watermark=watermark
            )
            return len(builds)

        assert call(a) == 2  # raw, then bronze after bronze first drains
        assert call(a) == 0
        assert call(b) == 2
        assert call(a, "5 minutes") == 2
        assert call(a, "5 minutes") == 0

    def test_another_session_builds_its_own_plans(self, spark, tmp_path, builds):
        """The memo lives on the session: a new session over the same
        medallion builds its plans again."""
        raw_dir, out_root = str(tmp_path / "raw"), str(tmp_path / "out")
        make_raw_ticks(spark, n=100).write.parquet(raw_dir)
        run_medallion_available_now(spark, raw_dir=raw_dir, out_root=out_root)
        other = spark.newSession()
        builds.clear()
        run_medallion_available_now(other, raw_dir=raw_dir, out_root=out_root)
        assert len(builds) == 2

    @pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
    def test_chained_gold_checkpoint_is_refused(self, spark, tmp_path, as_uri):
        """A gold checkpoint written when gold read silver lists silver
        files; resumed on bronze it would count every open window again,
        so the runner refuses it before any query starts, whether
        ``out_root`` is a plain path or a ``file:`` URI."""
        raw_dir, out = str(tmp_path / "raw"), tmp_path / "out"
        land_raw_minutes(spark, raw_dir, 0, 20)
        run_chained_medallion(spark, raw_dir, str(out))
        land_raw_minutes(spark, raw_dir, 20, 30)
        before = tree(out)
        assert any(p.startswith("gold/part-") for p in before)

        out_root = out.as_uri() if as_uri else str(out)
        with pytest.raises(ValueError, match=re.escape(out_root)):
            run_medallion_available_now(spark, raw_dir=raw_dir, out_root=out_root)
        assert tree(out) == before
        assert not spark.streams.active


class TestWatermarkSemantics:
    def test_late_data_drop_and_keep(self, spark, tmp_path):
        """T1/T4: a late row inside the watermark joins its window; a late row
        whose window the watermark already closed is dropped."""
        src = tmp_path / "silver_src"
        src.mkdir()
        out = str(tmp_path / "gold")
        ckpt = str(tmp_path / "ckpt")

        # Batch 1: two rows in window 12:00, plus one at 12:30 pushing the
        # watermark (after the batch) to 12:20.
        write_silver_file(
            str(src / "b1.parquet"),
            [
                tick("S0", utc(0, 10), 1),
                tick("S0", utc(0, 20), 2),
                tick("S0", utc(30, 0), 3),
            ],
        )
        # Batch 2 runs with watermark 12:20: window 12:00 finalizes (emitted,
        # state evicted); the 12:35 row advances the watermark to 12:25.
        write_silver_file(str(src / "b2.parquet"), [tick("S0", utc(35, 0), 4)])
        # Batch 3 (watermark 12:25): a late row for the ALREADY-EMITTED 12:00
        # window must be dropped (append mode forbids re-emission); an
        # out-of-order row for the still-open 12:26 window must be kept; the
        # 12:50 row advances the final watermark to 12:40 so 12:26/12:30/12:35
        # finalize in the trailing no-data batch.
        write_silver_file(
            str(src / "b3.parquet"),
            [
                tick("S0", utc(0, 40), 5),
                tick("S0", utc(26, 30), 6),
                tick("S0", utc(50, 0), 7),
            ],
        )
        for i, name in enumerate(["b1.parquet", "b2.parquet", "b3.parquet"]):
            os.utime(src / name, (1000000000 + 100 * i,) * 2)

        stream = read_parquet_stream(
            spark, str(src), SILVER_SCHEMA, max_files_per_trigger=1
        )
        q = start_parquet_stream(
            gold_stream(stream, watermark="10 minutes"), path=out, checkpoint=ckpt
        )
        drain(q)

        out_rows = spark.read.parquet(out).collect()
        rows = {r.window_start.strftime("%H:%M"): r.trade_count for r in out_rows}
        # Append mode: every window emitted exactly once.
        assert len(out_rows) == len(rows), f"duplicate window emission: {out_rows}"
        # Window 12:00 closed with ONLY the two batch-1 rows; the batch-3 late
        # row could not resurrect or re-emit it.
        assert rows.get("12:00") == 2
        # Out-of-order row within the watermark landed and finalized.
        assert rows.get("12:26") == 1
        assert rows.get("12:30") == 1
        assert rows.get("12:35") == 1
        # The 12:50 window never finalized (watermark stops at 12:40).
        assert "12:50" not in rows

    def test_restart_from_checkpoint_processes_only_new_files(self, spark, tmp_path):
        """T5: restart with the same checkpoint is incremental — previously
        emitted windows are not re-emitted, new data still flows."""
        src = tmp_path / "silver_src"
        src.mkdir()
        out = str(tmp_path / "gold")
        ckpt = str(tmp_path / "ckpt")

        write_silver_file(
            str(src / "b1.parquet"),
            [tick("S0", utc(0, 10), 1), tick("S0", utc(30, 0), 2)],
        )
        stream = read_parquet_stream(spark, str(src), SILVER_SCHEMA)
        drain(
            start_parquet_stream(
                gold_stream(stream, watermark="10 minutes"), path=out, checkpoint=ckpt
            )
        )
        first = spark.read.parquet(out).collect()
        assert {r.window_start.strftime("%H:%M") for r in first} == {"12:00"}

        # New file closes the 12:30 window; restart must emit ONLY that.
        write_silver_file(
            str(src / "b2.parquet"), [tick("S0", utc(55, 0), 3)]
        )
        stream = read_parquet_stream(spark, str(src), SILVER_SCHEMA)
        drain(
            start_parquet_stream(
                gold_stream(stream, watermark="10 minutes"), path=out, checkpoint=ckpt
            )
        )
        after = spark.read.parquet(out).collect()
        counts = [r.window_start.strftime("%H:%M") for r in after]
        assert sorted(counts) == ["12:00", "12:30"]  # no duplicate 12:00


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """T8: re-delivered (symbol, trade_id) pairs are dropped across
        micro-batches; result matches the deterministic batch dedup."""
        src = tmp_path / "silver_src"
        src.mkdir()
        out = str(tmp_path / "deduped")
        ckpt = str(tmp_path / "ckpt")

        b1 = [tick("S0", utc(0, 10), 1), tick("S1", utc(0, 15), 2)]
        # trade_id 1 re-delivered in batch 2 (same key, same payload).
        b2 = [tick("S0", utc(0, 10), 1), tick("S0", utc(1, 0), 3)]
        write_silver_file(str(src / "b1.parquet"), b1)
        write_silver_file(str(src / "b2.parquet"), b2)
        os.utime(src / "b1.parquet", (1000000000, 1000000000))
        os.utime(src / "b2.parquet", (1000000100, 1000000100))

        stream = read_parquet_stream(
            spark, str(src), SILVER_SCHEMA, max_files_per_trigger=1
        )
        drain(
            start_parquet_stream(
                dedup_ticks_stream(stream, watermark="10 minutes"),
                path=out,
                checkpoint=ckpt,
            )
        )
        got = sorted(
            (r.symbol, r.trade_id) for r in spark.read.parquet(out).collect()
        )
        assert got == [("S0", 1), ("S0", 3), ("S1", 2)]

        # Batch twin: deterministic rank-1 dedup over the union.
        batch = spark.createDataFrame(b1 + b2, SILVER_SCHEMA)
        batch_got = sorted(
            (r.symbol, r.trade_id)
            for r in dedup_exact(
                batch, ["symbol", "trade_id"], ["trade_timestamp", "trade_id"]
            ).collect()
        )
        assert got == batch_got


class TestRateReplay:
    def test_rate_source_produces_parseable_ticker_payloads(self, spark, tmp_path):
        """S5/F8 twin: the replay generator emits Kafka-shaped rows whose JSON
        payload round-trips through the real bronze->silver parse."""
        out = str(tmp_path / "bronze")
        ckpt = str(tmp_path / "ckpt")
        q = start_parquet_stream(
            bronze_ingest(rate_replay_ticks(spark, rows_per_second=500)),
            path=out,
            checkpoint=ckpt,
            available_now=False,
        )
        try:
            # Let at least one non-empty micro-batch commit.
            import time

            deadline = time.time() + 60
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() > 0:
                        break
                except Exception:
                    pass
                time.sleep(1)
        finally:
            q.stop()
        bronze = spark.read.parquet(out)
        assert bronze.count() > 0
        silver = silver_stream(bronze)
        row = silver.filter(F.col("price").isNotNull()).first()
        assert row is not None
        assert row.symbol in {"BTC-USD", "ETH-USD", "SOL-USD"}
        assert row.price is not None and row.trade_timestamp is not None


class TestKafkaProducerSink:
    def test_kafka_records_envelope_round_trips(self, spark):
        """K4/F8 twin: the producer envelope serializes rows to binary
        key/value and from_json recovers every field exactly."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
            kafka_records,
        )

        df = spark.createDataFrame(
            [("coinbase", "S0", "101.50000000", 7), ("binance", "S1", "202.25000000", 8)],
            "venue string, symbol string, price string, trade_id long",
        )
        rec = kafka_records(df, key="venue")
        assert [f.name for f in rec.schema.fields] == ["key", "value"]
        assert all(f.dataType.simpleString() == "binary" for f in rec.schema.fields)
        back = rec.select(
            F.col("key").cast("string").alias("venue"),
            F.from_json(
                F.col("value").cast("string"),
                "symbol string, price string, trade_id long",
            ).alias("p"),
        ).select("venue", "p.*")
        got = sorted(tuple(r) for r in back.collect())
        assert got == [
            ("binance", "S1", "202.25000000", 8),
            ("coinbase", "S0", "101.50000000", 7),
        ]

    def test_kafka_sink_gate_raises_without_connector(self, spark, tmp_path):
        """start_kafka_stream is wired but needs the connector jar: in this
        image .start() must fail fast (the documented substitute is the
        parquet sink over the same records)."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
            kafka_records,
            start_kafka_stream,
        )

        stream = kafka_records(
            rate_replay_ticks(spark, rows_per_second=1).select(
                F.col("key").cast("string").alias("venue"), "timestamp"
            ),
            key="venue",
        )
        with pytest.raises(Exception):
            q = start_kafka_stream(
                stream,
                bootstrap_servers="localhost:9092",
                topic="t",
                checkpoint=str(tmp_path / "ckpt"),
            )
            q.stop()


class TestWindowFamilyStreaming:
    def test_sliding_candles_stream_equals_batch(self, spark, tmp_path):
        """The sliding-window candle (T2 overlapping variant) is
        stream-ready: availableNow drain under a watermark equals the batch
        transform restricted to watermark-finalized windows."""
        src = tmp_path / "src"
        src.mkdir()
        rows = [
            tick("S0", utc(m, s), i)
            for i, (m, s) in enumerate(
                [(0, 10), (1, 20), (2, 5), (3, 40), (7, 0), (12, 30), (40, 0)]
            )
        ]
        write_silver_file(str(src / "b1.parquet"), rows)

        stream = read_parquet_stream(spark, str(src), SILVER_SCHEMA)
        slid = candles(
            stream, window="5 minutes", slide="1 minute", watermark="10 minutes"
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        drain(start_parquet_stream(slid, path=out, checkpoint=ckpt))

        batch = candles(
            spark.createDataFrame(rows, SILVER_SCHEMA),
            window="5 minutes",
            slide="1 minute",
        )
        horizon = utc(40, 0).replace(tzinfo=None)  # max ts
        from datetime import timedelta

        expected = {
            (str(r.window_start), r.symbol, r.trade_count)
            for r in batch.collect()
            if r.window_end <= horizon - timedelta(minutes=10)
        }
        got = {
            (str(r.window_start), r.symbol, r.trade_count)
            for r in spark.read.parquet(out).collect()
        }
        assert expected and got == expected

    def test_session_window_stream_finalizes_closed_sessions(self, spark, tmp_path):
        """session_window under a watermark: sessions whose (end = last
        event + gap) precedes the final watermark are emitted exactly once;
        the still-open tail session is withheld."""
        src = tmp_path / "src"
        src.mkdir()
        rows = [
            # session A: 12:00-12:02 (ends 12:05 with 3-min gap)
            tick("S0", utc(0, 0), 1),
            tick("S0", utc(1, 0), 2),
            tick("S0", utc(2, 0), 3),
            # session B: 12:10-12:11 (ends 12:14)
            tick("S0", utc(10, 0), 4),
            tick("S0", utc(11, 0), 5),
            # spacer: advances the watermark to 12:30; its own session stays open
            tick("S0", utc(40, 0), 6),
        ]
        write_silver_file(str(src / "b1.parquet"), rows)

        stream = read_parquet_stream(spark, str(src), SILVER_SCHEMA)
        sess = (
            stream.withWatermark("trade_timestamp", "10 minutes")
            .groupBy(
                F.session_window(F.col("trade_timestamp"), "3 minutes").alias("w"),
                "symbol",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "symbol",
                "n",
            )
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        drain(start_parquet_stream(sess, path=out, checkpoint=ckpt))

        got = {
            (r.session_start.strftime("%H:%M"), r.session_end.strftime("%H:%M"), r.n)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {("12:00", "12:05", 3), ("12:10", "12:14", 2)}


class TestStreamingArbitrage:
    def test_arbitrage_spreads_stream_equals_batch(self, spark, tmp_path):
        """The title capability runs as ONE streaming aggregation: drained
        spreads equal the batch transform on finalized windows."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.arbitrage import (
            arbitrage_spreads,
        )

        def vtick(venue, ts, trade_id, price):
            return (venue, "S0", Decimal(price), Decimal("1.0"), trade_id, ts, "buy")

        src = tmp_path / "src"
        src.mkdir()
        rows = [
            # window 12:00: coinbase@100.5 vs binance@120.0 -> rel spread ~19%
            vtick("coinbase", utc(0, 11), 1, "100.5"),
            vtick("binance", utc(0, 12), 2, "120.0"),
            # window 12:01: both venues at par -> filtered out
            vtick("coinbase", utc(1, 10), 3, "100.0"),
            vtick("binance", utc(1, 10), 4, "100.0"),
            # spacer advances the watermark past both windows
            vtick("coinbase", utc(30, 0), 5, "100.0"),
        ]
        write_silver_file(str(src / "b1.parquet"), rows)

        stream = read_parquet_stream(spark, str(src), SILVER_SCHEMA)
        spreads = arbitrage_spreads(
            stream, min_rel_spread=0.05, watermark="10 minutes"
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        drain(start_parquet_stream(spreads, path=out, checkpoint=ckpt))

        got = [
            (r.symbol, r.window_start.strftime("%H:%M"), round(r.rel_spread, 4))
            for r in spark.read.parquet(out).collect()
        ]
        assert got == [("S0", "12:00", round((120.0 - 100.5) / 100.5, 4))]


class TestMergeStream:
    def test_update_merge_stream_equals_batch(self, spark, tmp_path):
        """Update-mode candles -> foreachBatch Delta MERGE: after draining
        two micro-batches (the second updating windows the first already
        emitted), the table holds exactly the batch aggregate — one row per
        (window_start, symbol), latest value, no duplicates."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
            start_merge_stream,
        )

        silver_dir = tmp_path / "silver"
        silver_dir.mkdir()
        write_silver_file(
            str(silver_dir / "b0.parquet"),
            [
                tick("S0", utc(0, 10), 1, "100.0"),
                tick("S0", utc(0, 40), 2, "101.0"),
                tick("S1", utc(1, 10), 3, "200.0"),
            ],
        )
        write_silver_file(
            str(silver_dir / "b1.parquet"),
            [
                # lands in S0's already-merged minute-0 window: forces an
                # update of an existing key, not just inserts.
                tick("S0", utc(0, 50), 4, "102.0"),
                tick("S1", utc(2, 10), 5, "201.0"),
            ],
        )
        table_path = str(tmp_path / "gold_delta")

        def run():
            silver = read_parquet_stream(
                spark, str(silver_dir), SILVER_SCHEMA, max_files_per_trigger=1
            )
            q = start_merge_stream(
                gold_stream(silver, watermark="10 minutes"),
                table_path=table_path,
                keys=("window_start", "symbol"),
                checkpoint=str(tmp_path / "ckpt"),
                query_name="gold_merge",
            )
            drain(q)

        run()
        table = DeltaTable(table_path)
        got = {
            tuple(map(str, r))
            for r in table.read(spark)
            .select("window_start", "symbol", "open", "close", "trade_count")
            .collect()
        }
        expected = {
            tuple(map(str, r))
            for r in candles(spark.read.parquet(str(silver_dir)))
            .select("window_start", "symbol", "open", "close", "trade_count")
            .collect()
        }
        assert got == expected
        # update mode emitted minute-0 twice; MERGE kept one row per key.
        dupes = (
            table.read(spark)
            .groupBy("window_start", "symbol")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dupes == 0

        # Re-draining with the same checkpoint sees no new files: the
        # table version must not move (idempotent restart).
        v1 = table.latest_version()
        run()
        assert DeltaTable(table_path).latest_version() == v1


class TestStatefulAlerts:
    def test_new_high_alerts_state_carries_across_batches(self, spark, tmp_path):
        """applyInPandasWithState: the running high survives the micro-batch
        boundary — a price below batch 1's high but above its own batch's
        local high must NOT alert in batch 2."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.alerts import (
            new_high_alerts,
            new_high_alerts_stream,
        )

        silver_dir = tmp_path / "silver"
        silver_dir.mkdir()
        write_silver_file(
            str(silver_dir / "b0.parquet"),
            [
                tick("S0", utc(0, 10), 1, "100.0"),
                tick("S0", utc(0, 20), 2, "150.0"),  # alert (beats 100)
                tick("S0", utc(0, 30), 3, "120.0"),
            ],
        )
        write_silver_file(
            str(silver_dir / "b1.parquet"),
            [
                # beats batch 2's local history but NOT the carried 150:
                # stateless per-batch logic would wrongly alert here.
                tick("S0", utc(1, 10), 4, "140.0"),
                tick("S0", utc(1, 20), 5, "160.0"),  # alert (beats 150)
            ],
        )
        silver = read_parquet_stream(
            spark, str(silver_dir), SILVER_SCHEMA, max_files_per_trigger=1
        )
        out_dir, ckpt = str(tmp_path / "alerts"), str(tmp_path / "ckpt")
        drain(
            start_parquet_stream(
                new_high_alerts_stream(silver), path=out_dir, checkpoint=ckpt,
                query_name="new_high_alerts",
            )
        )
        got = {
            (r.trade_id, r.price, r.prev_high)
            for r in spark.read.parquet(out_dir).collect()
        }
        assert got == {(2, 150.0, 100.0), (5, 160.0, 150.0)}

        # Stream result == batch twin over the same rows.
        batch = {
            (r.trade_id, r.price, r.prev_high)
            for r in new_high_alerts(spark.read.parquet(str(silver_dir))).collect()
        }
        assert got == batch


class TestRunningVwapState:
    """transformWithStateInPandas (Spark 4 arbitrary state API): the
    (sum_pv, sum_v) pair must survive the micro-batch boundary — batch 2's
    vwap reflects batch 1's volume, which stateless per-batch logic would
    lose. The engine path needs google.protobuf (state-server protocol);
    where it is absent the construction gate must fail fast and the kernel
    carries the coverage."""

    def _write_batches(self, silver_dir):
        def sized_tick(symbol, ts, trade_id, price, size):
            return ("coinbase", symbol, Decimal(price), Decimal(size), trade_id, ts, "buy")

        write_silver_file(
            str(silver_dir / "b0.parquet"),
            [
                sized_tick("S0", utc(0, 10), 1, "100.0", "1.0"),
                sized_tick("S0", utc(0, 20), 2, "200.0", "3.0"),
            ],
        )
        write_silver_file(
            str(silver_dir / "b1.parquet"),
            [sized_tick("S0", utc(1, 10), 3, "50.0", "2.0")],
        )

    # batch 2's value needs the carried sums: (100*1 + 200*3 + 50*2) / 6
    EXPECTED = {(1, 100.0), (2, 175.0), (3, 800.0 / 6.0)}

    def test_kernel_carries_state_across_batches(self):
        """Engine-free check of the exact cross-batch arithmetic (the same
        kernel object the StatefulProcessor runs)."""
        import pandas as pd

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.running_vwap import (
            _vwap_kernel,
        )

        b0 = pd.DataFrame(
            {"symbol": ["S0"] * 2, "ts_us": [10, 20], "trade_id": [1, 2],
             "price": [100.0, 200.0], "size": [1.0, 3.0]}
        )
        b1 = pd.DataFrame(
            {"symbol": ["S0"], "ts_us": [70], "trade_id": [3],
             "price": [50.0], "size": [2.0]}
        )
        out0, state = _vwap_kernel(b0, None)
        out1, state = _vwap_kernel(b1, state)
        got = set(
            zip(
                list(out0["trade_id"]) + list(out1["trade_id"]),
                list(out0["vwap"]) + list(out1["vwap"]),
            )
        )
        assert got == self.EXPECTED
        assert state == (800 * 10_000_000_000, 6 * 10_000_000_000)

    def test_stream_form_gate_or_engine_run(self, spark, tmp_path):
        """Where protobuf exists, drain the real transformWithStateInPandas
        query (RocksDB provider) and match the batch twin; otherwise the
        constructor must raise the documented gate error."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.running_vwap import (
            running_vwap,
            running_vwap_stream,
            transform_with_state_available,
        )

        silver_dir = tmp_path / "silver"
        silver_dir.mkdir()
        self._write_batches(silver_dir)
        silver = read_parquet_stream(
            spark, str(silver_dir), SILVER_SCHEMA, max_files_per_trigger=1
        )

        if not transform_with_state_available():
            with pytest.raises(RuntimeError, match="protobuf"):
                running_vwap_stream(silver)
            return

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            out_dir, ckpt = str(tmp_path / "vwap"), str(tmp_path / "ckpt")
            drain(
                start_parquet_stream(
                    running_vwap_stream(silver), path=out_dir, checkpoint=ckpt,
                    query_name="running_vwap",
                )
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        got = {(r.trade_id, r.vwap) for r in spark.read.parquet(out_dir).collect()}
        assert got == self.EXPECTED
        batch = {
            (r.trade_id, r.vwap)
            for r in running_vwap(spark.read.parquet(str(silver_dir))).collect()
        }
        assert got == batch


class TestStreamStreamJoin:
    def test_interval_join_of_two_watermarked_streams_equals_batch(
        self, spark, tmp_path
    ):
        """Two independently-watermarked tick streams interval-joined on
        symbol +-60s: the bounded drain must equal the batch join — and the
        dual watermark exercises the engine's min multiple-watermark policy
        (T7), which nothing single-input can."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
            venue_pair_stream_join,
        )

        dir_a, dir_b = tmp_path / "venue_a", tmp_path / "venue_b"
        dir_a.mkdir(), dir_b.mkdir()
        write_silver_file(
            str(dir_a / "a.parquet"),
            [
                tick("S0", utc(0, 10), 1, "100.0"),
                tick("S0", utc(5, 0), 2, "110.0"),
                tick("S1", utc(1, 0), 3, "200.0"),
            ],
        )
        write_silver_file(
            str(dir_b / "b.parquet"),
            [
                tick("S0", utc(0, 50), 11, "100.5"),   # within 60s of trade 1
                tick("S0", utc(3, 0), 12, "105.0"),    # matches nothing
                tick("S1", utc(1, 30), 13, "200.5"),   # within 60s of trade 3
                tick("S1", utc(0, 30), 14, "199.5"),   # within 60s of trade 3
            ],
        )
        joined = venue_pair_stream_join(
            read_parquet_stream(spark, str(dir_a), SILVER_SCHEMA),
            read_parquet_stream(spark, str(dir_b), SILVER_SCHEMA),
            tolerance_sec=60,
        )
        out_dir = str(tmp_path / "pairs")
        drain(
            start_parquet_stream(
                joined, path=out_dir, checkpoint=str(tmp_path / "ckpt"),
                query_name="venue_pair_join",
            )
        )
        got = {
            (r.trade_a, r.trade_b) for r in spark.read.parquet(out_dir).collect()
        }
        assert got == {(1, 11), (3, 13), (3, 14)}

        # batch twin: the same transform over batch reads (withWatermark
        # is a no-op on bounded inputs)
        a, b = spark.read.parquet(str(dir_a)), spark.read.parquet(str(dir_b))
        batch_pairs = {
            (r.trade_a, r.trade_b)
            for r in venue_pair_stream_join(a, b, tolerance_sec=60).collect()
        }
        assert got == batch_pairs


class TestAuxSinksAndSources:
    def test_console_sink_drains_bounded_stream(self, spark, tmp_path):
        """K5 twin: the console sink drains a bounded stream cleanly and
        reports the processed rows. (The printed table lands on the JVM's
        stdout, which predates pytest's capture redirection — assert on
        query progress instead of scraping text.)"""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
            start_console_stream,
        )

        silver_dir = tmp_path / "silver"
        silver_dir.mkdir()
        write_silver_file(
            str(silver_dir / "b0.parquet"),
            [tick("S0", utc(0, 10), 1, "100.0"), tick("S1", utc(0, 20), 2, "200.0")],
        )
        silver = read_parquet_stream(spark, str(silver_dir), SILVER_SCHEMA)
        q = start_console_stream(silver, num_rows=5)
        drain(q)
        processed = sum(p["numInputRows"] for p in q.recentProgress)
        assert processed == 2

    def test_kafka_source_gate_raises_without_connector(self, spark):
        """S1 twin is feature-gated: without the spark-sql-kafka connector
        jar the source must fail loudly at construction, not silently."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
            kafka_raw_stream,
        )

        with pytest.raises(Exception) as ei:
            kafka_raw_stream(
                spark, bootstrap_servers="localhost:9092", topic="ticks"
            )
        assert "kafka" in str(ei.value).lower()


class TestTransactionalDeltaSink:
    def test_txn_append_skips_replayed_batch(self, spark, tmp_path):
        """The delta-spark streaming-sink protocol: a micro-batch replayed
        after a crash between the Delta commit and the streaming
        checkpoint must be detected in the LOG (txn action) and skipped —
        exactly-once without relying on keyed-merge idempotence."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
            start_delta_append_stream,
        )

        src = str(tmp_path / "src")
        spark.range(0, 50).selectExpr("id", "id % 5 AS g").write.parquet(src)
        table_path = str(tmp_path / "delta_out")
        q = start_delta_append_stream(
            spark.readStream.schema("id long, g long").parquet(src),
            table_path=table_path,
            checkpoint=str(tmp_path / "ck"),
            app_id="sink-test",
        )
        q.awaitTermination(120)
        t = DeltaTable(table_path)
        assert t.read(spark).count() == 50
        # simulate the crash-replay: re-commit batch 0's data with the
        # same (app_id, batch_id) — the log-recorded txn makes it a no-op
        replay = spark.range(0, 50).selectExpr("id", "id % 5 AS g")
        v = t.write(replay, mode="append", txn=("sink-test", 0))
        assert t.read(spark).count() == 50
        assert v == t.latest_version()
        # a NEW batch id still commits
        t.write(
            spark.range(50, 60).selectExpr("id", "id % 5 AS g"),
            mode="append",
            txn=("sink-test", 1),
        )
        assert t.read(spark).count() == 60


def test_arb_pnl_chained_stream_has_two_stateful_operators(spark, tmp_path):
    """streaming_arb_executable_pnl_1m's claim is CHAINED windowed
    aggregations — the physical streaming plan must carry exactly two
    stateful aggregation saves (stage-1 last-quote selection, stage-2
    venue pivot), and the second must consume the first's window column."""
    import io
    from contextlib import redirect_stdout

    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.ticks import (
        events_as_quotes,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans.streaming import (
        arb_pnl_chained_stream,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
        load_table,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sources import (
        read_parquet_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    events.coalesce(1).write.parquet(src)
    out = arb_pnl_chained_stream(
        events_as_quotes(read_parquet_stream(spark, src, events.schema))
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert plan.count("StateStoreSave") == 2, plan


SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def test_scope_stack_restores_mixed_width_nesting(spark):
    """Nested scopes with different widths restore LIFO: each exit puts
    back the width its own entry displaced, not the outermost prior."""
    prior = spark.conf.get(SHUFFLE_KEY)
    with scoped_shuffle_partitions(spark, 16):
        assert spark.conf.get(SHUFFLE_KEY) == "16"
        with scoped_shuffle_partitions(spark, 4):
            assert spark.conf.get(SHUFFLE_KEY) == "4"
        assert spark.conf.get(SHUFFLE_KEY) == "16"
    assert spark.conf.get(SHUFFLE_KEY) == prior


def test_scope_restores_prior_width_on_error(spark):
    """A drain that raises inside the scope must not leave the session's
    batch work at the narrow streaming width."""
    prior = spark.conf.get(SHUFFLE_KEY)
    with pytest.raises(RuntimeError, match="drain failed"):
        with scoped_shuffle_partitions(spark, 4):
            assert spark.conf.get(SHUFFLE_KEY) == "4"
            raise RuntimeError("drain failed")
    assert spark.conf.get(SHUFFLE_KEY) == prior
