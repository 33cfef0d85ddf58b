"""Parquet-lakehouse fallback: append/read/time-travel/history/evolution
plus the exactly-once streaming sink (SURVEY.md S3/K1-K3/M2/M3 twins)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.lakehouse import (
    LakehouseTable,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
    read_parquet_stream,
)

from test_delta import listing_jobs


def make_df(spark, start, n, extra_col=False):
    df = spark.range(start, start + n).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    if extra_col:
        df = df.withColumn("note", F.lit("v2"))
    return df


class TestBatchLakehouse:
    def test_append_read_roundtrip(self, spark, tmp_path):
        t = LakehouseTable(str(tmp_path / "t"))
        assert t.append(make_df(spark, 0, 10)) == 0
        assert t.append(make_df(spark, 10, 5)) == 1
        got = t.read(spark)
        assert got.count() == 15
        assert {r.id for r in got.collect()} == set(range(15))

    def test_time_travel(self, spark, tmp_path):
        t = LakehouseTable(str(tmp_path / "t"))
        t.append(make_df(spark, 0, 10))
        t.append(make_df(spark, 10, 5))
        t.append(make_df(spark, 15, 3))
        assert t.read(spark, version=0).count() == 10
        assert t.read(spark, version=1).count() == 15
        assert t.read(spark, version=2).count() == 18
        assert t.latest_version() == 2

    def test_history_audit(self, spark, tmp_path):
        t = LakehouseTable(str(tmp_path / "t"))
        t.append(make_df(spark, 0, 10))
        t.append(make_df(spark, 10, 5), operation="BACKFILL")
        hist = t.history(spark).orderBy("version").collect()
        assert [(r.version, r.operation, r.num_output_rows) for r in hist] == [
            (0, "APPEND", 10),
            (1, "BACKFILL", 5),
        ]
        assert all(r.mode == "Append" for r in hist)
        assert all(r.timestamp_ms > 0 for r in hist)

    def test_schema_evolution_merge(self, spark, tmp_path):
        """M3 twin: a later commit may add columns; earlier rows read null."""
        t = LakehouseTable(str(tmp_path / "t"))
        t.append(make_df(spark, 0, 4))
        t.append(make_df(spark, 4, 2, extra_col=True))
        got = t.read(spark)
        assert "note" in got.columns
        by_note = {r.id: r.note for r in got.collect()}
        assert all(by_note[i] is None for i in range(4))
        assert all(by_note[i] == "v2" for i in (4, 5))

    def test_unwritten_version_rejected(self, spark, tmp_path):
        t = LakehouseTable(str(tmp_path / "t"))
        t.append(make_df(spark, 0, 4))
        try:
            t.read(spark, version=7)
            raise AssertionError("expected ValueError for missing version")
        except ValueError:
            pass

    def test_many_version_read_lists_on_driver(self, spark, tmp_path):
        """Past 32 version directories Spark would re-list them with a
        distributed job; the log already names them."""
        t = LakehouseTable(str(tmp_path / "t"))
        for v in range(36):
            t.append(make_df(spark, 2 * v, 2))
        for version in (None, 34):
            df, _, listing = listing_jobs(
                spark,
                f"lakehouse-read-{version}",
                lambda: t.read(spark, version=version),
            )
            assert listing == 0
            n = 2 * (35 if version is None else version) + 2
            assert sorted(r.id for r in df.collect()) == list(range(n))


class TestStreamingLakehouseSink:
    def test_stream_append_one_version_per_batch(self, spark, tmp_path):
        src = str(tmp_path / "src")
        make_df(spark, 0, 20).write.parquet(src)
        t = LakehouseTable(str(tmp_path / "t"))
        stream = read_parquet_stream(
            spark, src, spark.read.parquet(src).schema
        )
        q = t.start_stream_append(stream, checkpoint=str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)
        assert t.read(spark).count() == 20
        hist = t.history(spark).collect()
        assert all(r.txn_batch_id is not None for r in hist)

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        """Exactly-once: re-draining from the same checkpoint commits nothing;
        a manual replay of an already-committed batch id is a no-op."""
        src = str(tmp_path / "src")
        make_df(spark, 0, 20).write.parquet(src)
        t = LakehouseTable(str(tmp_path / "t"))
        schema = spark.read.parquet(src).schema
        q = t.start_stream_append(
            read_parquet_stream(spark, src, schema),
            checkpoint=str(tmp_path / "ckpt"),
        )
        assert q.awaitTermination(120)
        v_before = t.latest_version()

        # Restart from checkpoint: no new files -> no new commits.
        q = t.start_stream_append(
            read_parquet_stream(spark, src, schema),
            checkpoint=str(tmp_path / "ckpt"),
        )
        assert q.awaitTermination(120)
        assert t.latest_version() == v_before

        # Simulated foreachBatch re-delivery of an old batch id: skipped.
        last_batch = t.last_committed_batch_id()
        t.append(make_df(spark, 100, 5), txn_batch_id=last_batch)
        assert t.latest_version() == v_before
        assert t.read(spark).count() == 20
