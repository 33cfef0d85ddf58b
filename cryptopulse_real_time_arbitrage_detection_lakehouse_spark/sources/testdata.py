"""Loaders for the driver-generated testdata parquet (TESTDATA.md).

These are plain columnar scans — Catalyst pushes filters and prunes
columns into the parquet reader, so every query built on top of these
starts from an efficient scan (check ``PushedFilters`` / ``ReadSchema``
in ``df.explain("formatted")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: event-time columns normalized to the session-UTC TIMESTAMP type.
#: Generator versions have stored these as parquet TIMESTAMP(NANOS)
#: (which Spark 4 only reads as raw longs) or as TIMESTAMP(MICROS)
#: without UTC adjustment (which Spark reads as TIMESTAMP_NTZ); both are
#: converted to plain TIMESTAMP so windows/watermarks/lag behave
#: identically regardless of how the testdata was written.
_EVENT_TIME_COLUMNS = {"events": ("ts",)}

#: (abs path, mtime) -> on-disk schema. Driver-side plan-construction
#: cost: every ``spark.read.parquet`` call re-lists the path and re-reads
#: the footer to infer the schema (~0.11 s warm vs ~0.025 s with an
#: explicit schema, measured r12). Query fns call load_table hundreds of
#: times per bench/correctness pass, so schema inference was a
#: double-digit-seconds driver-side tax (guide §7.3: planning work is single-threaded driver
#: time). Caching the SCHEMA only — never the DataFrame object — keeps
#: every call's expression IDs fresh, so multi-load self-joins (tpch_q21
#: et al.) stay unambiguous, and nothing about execution changes: each
#: run still scans the parquet from disk. (mtime_ns, size) keys
#: invalidation when a probe regenerates testdata at the same path —
#: nanosecond mtime plus file size so a same-second rewrite on a
#: coarse-mtime filesystem cannot serve a stale schema (r12 ADVICE).
_SCHEMA_CACHE: dict = {}


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; have {TESTDATA_TABLES}")
    ts_cols = _EVENT_TIME_COLUMNS.get(name, ())
    if ts_cols:
        # Sessions built by `session.get_spark` set this at construction;
        # this runtime set covers foreign sessions (e.g. the driver's).
        # SESSION-WIDE AND STICKY on purpose: restoring it right after this
        # call could flip the conf before the lazy scan executes. A no-op
        # when the file stores micros.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (-1, -1)
    key = (os.path.abspath(path), stamp)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for c in ts_cols:
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # TIMESTAMP(NANOS) read as raw longs: integer-divide to micros
            # (a double roundtrip would lose precision above 2^53) — the
            # exact truncation DuckDB applies reading the same file.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
        elif isinstance(dt, TimestampNTZType):
            # Session tz is pinned to UTC, so this cast is value-preserving.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL API)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
