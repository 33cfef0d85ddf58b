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
- Streaming checkpoints (offsets, commits, source/sink logs, state
  deltas) are written through Spark's ``FileSystemBasedCheckpointFileManager``
  instead of the default FileContext-based one. Without libhadoop,
  Hadoop's local FileContext starts a child ``chmod`` process per file
  create and four ``readlink`` processes per rename; the FileSystem path
  renames with no child process (its create still starts the ``chmod``).
  On a small micro-batch those processes cost more than the data work.
  What the checkpoint guarantees is kept: every file is still written
  to a temp file and renamed into place, the ``.crc`` sidecars move
  with it, and a file already committed is never replaced (the rename
  checks the destination first and fails if it exists).

The session also owns every scratch file a query makes: fixture tables,
streaming checkpoints and drained sinks (`scratch_dir`), and the
build-once tables queries share (`materialized`). Both live under the
application's driver temp dir, which Spark deletes on ``spark.stop()``
and, through its shutdown hook, at JVM exit.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark import SparkFiles
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
        # Without libhadoop the default FileContext manager starts a chmod
        # per create and four readlinks per rename of every checkpoint
        # file; the FileSystem one renames without a child process and
        # keeps temp+rename, .crc and no-overwrite.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
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


def _scratch_root(spark: SparkSession) -> str:
    """``.../spark-<uuid>/userFiles-<uuid>`` of ``spark``'s context
    (SparkFiles resolves against the process's one live SparkContext)."""
    return SparkFiles.getRootDirectory()


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh, empty directory that lives exactly as long as ``spark``:
    the place for one query's fixture tables, checkpoints and sinks."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root(spark))


def materialized(
    spark: SparkSession, key: tuple, build: Callable[[str], object]
) -> str:
    """Path of a table built once per ``key`` within ``spark``'s life.

    ``key`` (first item a readable kind) names every input the table is
    a pure function of; the path is derived from it, so a later call
    with an equal key finds the table and builds nothing. ``build(path)``
    writes the table at ``path`` inside a sibling scratch dir that is
    renamed into place only after it returns: a failed build leaves
    nothing that a later call would reuse.
    """
    digest = hashlib.sha1(repr(key).encode()).hexdigest()[:16]
    name = f"{key[0]}-{digest}"
    done = os.path.join(_scratch_root(spark), name)
    if not os.path.isdir(done):
        staging = scratch_dir(spark, f".{name}.")
        build(os.path.join(staging, "table"))
        os.rename(staging, done)
    return os.path.join(done, "table")
