"""Single SparkSession factory.

The reference copy-pastes four separate session builders
(``src/jobs/ingestion_bronze.py:26-32``, ``src/jobs/process_silver.py:61-68``,
``src/jobs/gold_layer.py:31-38``, ``src/utils/check_bronze.py:18-30`` —
SURVEY.md M4). Here there is exactly one factory, scale-aware:

- ``spark.sql.shuffle.partitions`` defaults to the core count (the
  reference pins 4 for a laptop; on a 1000-executor cluster you would set
  this to ~2-3x total cores, or leave AQE coalescing to fix it at runtime).
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching — the knobs that keep plans healthy when
  the same code runs at 100 TB.
- Session timezone pinned to UTC (SURVEY.md section 7.4: ISO-8601 ``Z``
  event times must compare stably against the DuckDB oracle).
- No Delta Lake session extension: Delta tables are read and written by
  the engine's own log client (``sources/delta``) over plain parquet, so
  session start pulls no extra jars (SURVEY.md S2/K1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else all visible cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap when $SPARK_DRIVER_MEMORY is unset: three quarters of
    physical memory, capped at 16g, in whole MiB. A fixed 16g asked for
    more than a 15 GiB host has."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys_bytes * 3 // 4 >> 20, 16 << 10)}m"


def get_spark(
    app_name: str = "cryptopulse-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine-standard configuration."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Streaming-state defaults mirroring the reference's recorded
        # checkpoint conf (SURVEY.md section 4.2): strict distribution and
        # min multiple-watermark policy are engine defaults; kept explicit.
        .config("spark.sql.streaming.multipleWatermarkPolicy", "min")
        # Session-wide by design: parquet TIMESTAMP(NANOS) columns (the
        # testdata's events.ts) read as raw longs; loaders convert
        # ``nanos DIV 1000`` -> microsecond timestamps explicitly. Any raw
        # nanos-parquet read in this session yields longs, never a silent
        # mixed state (see sources/testdata.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
