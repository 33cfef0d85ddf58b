"""Medallion restart suite: re-running raw->bronze->silver->gold over the
same output root must replay nothing — the exactly-once contract (T5)
holding across all three hops, not just single queries.
"""

from __future__ import annotations

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
    run_medallion_available_now,
)

from test_streaming import make_raw_ticks


def read_sorted(spark, path):
    """A layer's rows as sorted string tuples, less bronze's wall-clock
    ``ingest_ts`` audit column."""
    df = spark.read.parquet(path)
    return sorted(
        tuple(str(v) for v in row) for row in df.drop("ingest_ts").collect()
    )


class TestConcurrentRestart:
    def test_rerun_on_same_root_is_idempotent(self, spark, tmp_path):
        """Every hop resumes from its checkpoint, finds no new files, and
        bronze, silver and gold are row-for-row what the first run wrote."""
        raw_dir = str(tmp_path / "raw")
        # 400 ticks span 20 event-minutes, so the 10-minute watermark
        # finalizes about half the gold windows
        make_raw_ticks(spark, n=400).write.parquet(raw_dir)
        root = str(tmp_path / "out")

        paths = run_medallion_available_now(spark, raw_dir=raw_dir, out_root=root)
        first = {layer: read_sorted(spark, p) for layer, p in paths.items()}
        assert len(first["gold"]) > 0

        paths = run_medallion_available_now(spark, raw_dir=raw_dir, out_root=root)
        assert {layer: read_sorted(spark, p) for layer, p in paths.items()} == first
