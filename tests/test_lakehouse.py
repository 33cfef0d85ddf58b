"""Lakehouse streaming sink: exactly-once across a restart and across a
re-delivered micro-batch, on the txn-keyed Delta append sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
    DeltaTable,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
    drain,
    start_delta_append_stream,
)


def make_df(spark, start, n):
    return spark.range(start, start + n).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )


class TestStreamingLakehouseSink:
    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        """Exactly-once: re-draining from the same checkpoint commits nothing;
        a manual replay of an already-committed batch id is a no-op."""
        src = str(tmp_path / "src")
        make_df(spark, 0, 20).write.parquet(src)
        schema = spark.read.parquet(src).schema
        table_path = str(tmp_path / "t")

        def run():
            drain(
                start_delta_append_stream(
                    spark.readStream.schema(schema).parquet(src),
                    table_path=table_path,
                    checkpoint=str(tmp_path / "ckpt"),
                    app_id="lakehouse-sink",
                ),
                120,
            )

        run()
        t = DeltaTable(table_path)
        v_before = t.latest_version()
        assert t.read(spark).count() == 20

        # Restart from checkpoint: no new files -> no new commits.
        run()
        assert t.latest_version() == v_before

        # Simulated foreachBatch re-delivery of an old batch id: skipped.
        last_batch = t.last_txn_version("lakehouse-sink")
        assert last_batch is not None
        t.write(make_df(spark, 100, 5), mode="append", txn=("lakehouse-sink", last_batch))
        assert t.latest_version() == v_before
        assert t.read(spark).count() == 20
