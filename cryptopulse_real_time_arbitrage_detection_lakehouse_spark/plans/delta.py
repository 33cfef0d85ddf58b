"""Delta Lake queries through the transaction-log client, oracle-checked.

The reference reads and streams real Delta tables with delta-spark
(``/root/reference/src/jobs/process_silver.py:87``, ``check_bronze.py:52-84``
— SURVEY.md S2/S3/S4/M2/P6). These queries exercise
``sources/delta.DeltaTable`` — the pure-PySpark log client — end to end:
each builds a genuine Delta table live (parquet data + ``_delta_log`` JSON
commits + a parquet checkpoint), then reads it back by snapshot, by
time-travel version, as a stream, and via its history. The DuckDB twin
recomputes the expected contents straight from ``events``, so a green row
certifies both the query AND the commit/replay machinery underneath it.

Each call builds its table in a fresh temp dir: the cost is one small
write per query (bounded by the events slice), and isolation means a
failed run can't poison the next via stale state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import dsum, sql_dsum
from ..sources.delta import DeltaTable
from ..sources.testdata import load_table
from ..streaming.sinks import drain, scoped_shuffle_partitions, start_parquet_stream
from .registry import register

#: deterministic commit order: one Delta commit per event_type batch.
_BATCH_TYPES = ("click", "error", "purchase", "signup", "view")

_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value")


def _build_delta_table(
    spark: SparkSession,
    sf_dir: str,
    *,
    checkpoint_after: int | None = None,
    fresh: bool = False,
) -> DeltaTable:
    """One Delta commit per event_type, optionally checkpointing mid-log.

    ``repartition(1)`` keeps numFiles deterministic; commit order is the
    sorted `_BATCH_TYPES`, so version assignment is reproducible and the
    oracle can reconstruct it with a window over event_type.

    Default path: the 5-commit base is built ONCE per (session, sf_dir)
    and each caller gets a `fork_with_history` — an identical 5-commit
    log whose adds point at the base's files, for the cost of rewriting
    ~5 KB of JSON instead of five Spark jobs (the round-9 `pyds_*_cdf`
    bench lines were ~60% fixture build; the CDF read under test was
    fine). ``fresh=True`` keeps the physical build for the callers that
    need data files UNDER the table root: the JVM file-source stream
    (gates out-of-root adds) and vacuum (GCs only its own root).
    ``checkpoint_after`` implies fresh (the mid-log checkpoint must be
    cut while the log is short; `checkpoint()` is latest-only).
    """
    if checkpoint_after is None and not fresh:
        return _base_delta_table(spark, sf_dir).fork_with_history(
            tempfile.mkdtemp(prefix="cphfork_") + "/events_delta"
        )
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpdelta_") + "/events_delta")
    for i, etype in enumerate(_BATCH_TYPES):
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .coalesce(1)
        )
        if checkpoint_after is not None and i == checkpoint_after:
            table.checkpoint(spark)
    return table


#: one shared base table per (session id, sf_dir); queries that only need
#: the current SNAPSHOT fork it with a zero-copy shallow clone instead of
#: re-running the 5 Spark writes — the clone primitive doing real work in
#: the engine's own harness. Queries that exercise the LOG ITSELF
#: (history, time travel, CDF, streaming tails) still build fresh: a
#: clone's collapsed history would change what they test.
_BASE_TABLES: dict[tuple[str, str], str] = {}


def _base_delta_table(spark: SparkSession, sf_dir: str) -> DeltaTable:
    key = (spark.sparkContext.applicationId, sf_dir)
    path = _BASE_TABLES.get(key)
    if path is not None and os.path.exists(os.path.join(path, "_delta_log")):
        return DeltaTable(path)
    base = _build_delta_table(spark, sf_dir, fresh=True)
    _BASE_TABLES[key] = base.path
    return base


def _forked_delta_table(spark: SparkSession, sf_dir: str, tag: str) -> DeltaTable:
    return _base_delta_table(spark, sf_dir).clone_to(
        tempfile.mkdtemp(prefix=f"cpfork_{tag}_") + "/events_delta"
    )


@register(
    "delta_history_audit",
    oracle=f"""
SELECT CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS version,
       'WRITE' AS operation,
       'Append' AS mode,
       count(*) AS num_output_rows
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="DESCRIBE HISTORY twin over a real _delta_log (check_bronze.py:76-84,"
    " M2/P6): one commit per event_type, then a NESTED projection of the "
    "history relation — operation_parameters.mode and "
    "operation_metrics.num_output_rows are struct fields, matching the "
    "reference's history-DataFrame access pattern. Timestamps excluded "
    "(non-deterministic).",
    tags=("delta", "metadata", "history"),
)
def delta_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_delta_table(spark, sf_dir)
    hist = table.history(spark)
    return hist.select(
        "version",
        "operation",
        F.col("operation_parameters.mode").alias("mode"),
        F.col("operation_metrics.num_output_rows").alias("num_output_rows"),
    )


@register(
    "delta_time_travel_counts",
    oracle=f"""
SELECT event_type, count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES[:2]!r}
GROUP BY event_type
""",
    doc="Time travel (VERSION AS OF 1) through the log client: the snapshot "
    "at version 1 is exactly the first two commits; the log replay stops at "
    "the target version so commits 2..4 are never even listed. The table "
    "carries a mid-log parquet checkpoint at version 2 which the v1 read "
    "must bypass (checkpoint version > target).",
    tags=("delta", "metadata", "time-travel"),
)
def delta_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_delta_table(spark, sf_dir, checkpoint_after=2)
    snapshot = table.read(spark, version=1)
    return snapshot.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "delta_merge_upsert",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")}
         AS total_value
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="MERGE upsert through the log client: table built WITHOUT the "
    "'view' batch, then one merge keyed on event_id whose source doubles "
    "every click's value (the UPDATE branch) and carries all view rows "
    "(the INSERT branch). Runs the two-phase FILE-PRUNED merge "
    "(DeltaMergeBuilder): only files containing fired rows rewrite. "
    "Oracle recomputes the post-merge state straight from events — "
    "green means both merge branches and the atomic commit behaved.",
    tags=("delta", "merge", "upsert"),
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpdeltamerge_") + "/events_delta")
    for etype in _BATCH_TYPES:
        if etype != "view":
            table.write(
                events.filter(F.col("event_type") == etype)
                .select(*_EVENT_COLS)
                .coalesce(1)
            )
    source = (
        events.filter(F.col("event_type").isin("click", "view"))
        .select(*_EVENT_COLS)
        .withColumn(
            "value",
            F.when(F.col("event_type") == "click", F.col("value") * 2).otherwise(
                F.col("value")
            ),
        )
    )
    table.merge(source, ["event_id"])
    merged = table.read(spark)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@register(
    "delta_stream_type_counts",
    oracle=f"""
SELECT event_type, count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="Delta streaming source (S2, process_silver.py:87): readStream over "
    "an append-only Delta table (file-stream over its data files; the log "
    "client refuses tables with removes), drained to a checkpointed "
    "append-mode parquet sink with trigger(availableNow=True), then "
    "aggregated. Oracle = the same counts straight from events: every row "
    "every commit, exactly once.",
    tags=("delta", "streaming", "source"),
)
def delta_stream_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fresh: the JVM file-source stream gates out-of-root (forked) adds
    table = _build_delta_table(spark, sf_dir, fresh=True)
    root = tempfile.mkdtemp(prefix="cpdeltastream_")
    out_path = os.path.join(root, "out")
    stream = table.read_stream(spark)
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                stream,
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="delta_stream_type_counts",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "delta_partitioned_stream_counts",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY 1
""",
    doc="Streaming read of a date-PARTITIONED Delta table (S2 extension, "
    "VERDICT r2 #3): the table is written partition_by=['event_date'] — one "
    "commit per event_type, each commit spanning every date, so partition "
    "values exist only in add.partitionValues, not the data files. "
    "read_stream tails the log per commit, validates each add's path "
    "hive-encodes its logged partition values, and streams with "
    "availableNow into a checkpointed parquet sink; the drained rows carry "
    "the partition column re-derived with its schema type. Oracle = per-day "
    "counts straight from events: every row of every commit and partition, "
    "exactly once.",
    tags=("delta", "streaming", "source", "partitioned"),
)
def delta_partitioned_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpdeltapart_") + "/events_delta")
    for etype in _BATCH_TYPES:
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .withColumn("event_date", F.to_date("ts"))
            .coalesce(1),
            partition_by=["event_date"],
        )
    root = tempfile.mkdtemp(prefix="cpdeltapartstream_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                table.read_stream(spark),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="delta_partitioned_stream_counts",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "pyds_delta_stream_counts",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY 1
""",
    doc="The pydelta LOG-TAILING streaming source end to end (S2 as "
    "delta-spark's DeltaSource shapes it, not the file-stream "
    "shortcut): offsets are log versions, each micro-batch reads "
    "exactly the commits in (start, end], and the drain goes through a "
    "checkpointed parquet sink with availableNow. The table is "
    "date-PARTITIONED with one commit per event_type — partition "
    "values ship typed from the log per file, so this streams a layout "
    "the hive-validating file stream also handles but via offsets that "
    "survive restarts exactly-once (pytest proves the incremental "
    "restart; this row proves every commit, partition, and row arrives "
    "exactly once).",
    tags=("delta", "streaming", "python-datasource", "partitioned"),
)
def pyds_delta_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cppydss_") + "/events_delta")
    for etype in _BATCH_TYPES:
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .withColumn("event_date", F.to_date("ts"))
            .coalesce(1),
            partition_by=["event_date"],
        )
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cppydss_out_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                spark.readStream.format("pydelta")
                .option("path", table.path)
                .load(),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="pyds_delta_stream_counts",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "pyds_stream_skip_change_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("value")} AS total_value
FROM events
WHERE event_type IN ('click', 'error', 'purchase')
GROUP BY event_type
""",
    doc="delta-spark's streaming-source change-commit policy on the "
    "pydelta log tail, end to end: the table takes a click append, an "
    "error append, an UPDATE rewriting every click (DV remove + new "
    "images), a whole-file DELETE of the errors (remove-only commit), "
    "an OPTIMIZE (dataChange=false), then a purchase append. Streamed "
    "with skipChangeCommits=true + ignoreDeletes=true: the two appends "
    "and the final append emit ORIGINAL rows exactly once, the rewrite "
    "commit is skipped ENTIRELY (its post-images never stream — the "
    "silent-duplicate bug of the deprecated ignoreChanges), the "
    "delete-only commit is skipped, and the layout commit emits "
    "nothing with no option at all. The oracle recomputes the three "
    "original event_type slices from events — green certifies the "
    "policy decided per commit from dataChange flags, not file "
    "listings.",
    tags=("delta", "streaming", "python-datasource", "deletion-vectors"),
)
def pyds_stream_skip_change_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import pyds

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cppydsk_") + "/events_delta")
    for etype in ("click", "error"):
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .coalesce(1)
        )
    # rewrite commit: every click gets a new image (remove + add)
    table.update(
        spark, "event_type = 'click'", {"value": "value + 1000.0"}
    )
    # delete-only commit: the error file is fully matched -> removed
    # outright, no re-add
    table.delete(spark, "event_type = 'error'")
    # layout commit: dataChange=false adds/removes
    table.compact(spark, target_files=1)
    table.write(
        events.filter(F.col("event_type") == "purchase")
        .select(*_EVENT_COLS)
        .coalesce(1)
    )
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cppydsk_out_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                spark.readStream.format("pydelta")
                .option("path", table.path)
                .option("skipChangeCommits", "true")
                .option("ignoreDeletes", "true")
                .load(),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="pyds_stream_skip_change_audit",
            )
        )
    return (
        spark.read.parquet(out_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "pyds_stream_where_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("value")} AS total_value
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND value >= 50.0 AND value < 200.0
GROUP BY event_type
""",
    doc="The `where` option on the pydelta STREAMING source (the last "
    "read-path option gap — through round 7 the stream refused it "
    "loudly): the table is written as value-DISJOINT commits per "
    "event_type (one file entirely below 50, one spanning the rest), "
    "then streamed with where='value >= 50.0 AND value < 200.0'. Data "
    "commits prune whole files by their logged footer stats (the "
    "below-50 files plan zero partitions — pytest pins the empty plan) "
    "and filter rows exactly executor-side; the predicate is "
    "STRICT-parsed so anything the conjunct prover cannot fully "
    "decompose refuses up front — on a stream, silent under-filtering "
    "would be wrong rows forever, the failure mode the old gate "
    "guarded. The oracle recomputes the filtered slice from raw "
    "events; green certifies pruning never dropped a matching row and "
    "filtering never leaked a non-matching one, through a checkpointed "
    "availableNow drain.",
    tags=("delta", "streaming", "python-datasource", "pushdown"),
)
def pyds_stream_where_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cppydsw_") + "/events_delta")
    for etype in _BATCH_TYPES:
        sl = events.filter(F.col("event_type") == etype).select(*_EVENT_COLS)
        # value-disjoint files: the first is provably below the
        # predicate (stats-pruned whole), the second does real filtering
        table.write(sl.filter(F.col("value") < 50.0).coalesce(1))
        table.write(sl.filter(F.col("value") >= 50.0).coalesce(1))
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cppydsw_out_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                spark.readStream.format("pydelta")
                .option("path", table.path)
                .option("where", "value >= 50.0 AND value < 200.0")
                .load(),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="pyds_stream_where_audit",
            )
        )
    return (
        spark.read.parquet(out_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "delta_generated_date_partition",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       count(*) AS n,
       count(DISTINCT event_type) AS n_types
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY 1
""",
    doc="GENERATED partition column end to end (writer feature "
    "`generatedColumns`, writer protocol v4 — the delta-spark pattern "
    "for date-partitioned silver/gold tables): the table declares "
    "event_date = CAST(ts AS DATE) and the writer OMITS the column "
    "entirely; the engine computes it, hive-partitions on it, fences "
    "the protocol so a non-enforcing writer cannot corrupt the "
    "invariant, and validates any explicitly-supplied values on later "
    "appends. The read groups by the generated column — whose values "
    "exist ONLY via the generation expression — and the oracle "
    "recomputes them straight from ts. Green means compute, layout, "
    "protocol, and read-back all agree.",
    tags=("delta", "generated-columns", "partitioned"),
)
def delta_generated_date_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_BATCH_TYPES)
    )
    table = DeltaTable(tempfile.mkdtemp(prefix="cpgencol_") + "/events_delta")
    table.write(
        events.select(*_EVENT_COLS).repartition(2),
        partition_by=["event_date"],
        generated_columns={"event_date": "CAST(ts AS DATE)"},
    )
    t = table.read(spark)
    return t.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "delta_cdc_update_images",
    oracle=f"""
WITH base AS (
  SELECT event_type, value FROM events
  WHERE event_type IN {_BATCH_TYPES!r}
), hit AS (
  SELECT value FROM base WHERE event_type = 'purchase' AND value > 50
)
SELECT 'insert' AS change_type, (SELECT count(*) FROM base) AS n,
       {sql_dsum("value")} AS total_value
FROM base
UNION ALL
SELECT 'update_preimage', (SELECT count(*) FROM hit),
       {sql_dsum("value")}
FROM hit
UNION ALL
SELECT 'update_postimage', (SELECT count(*) FROM hit),
       {sql_dsum("value * 0.5")}
FROM hit
""",
    doc="Spec CDC files end to end (delta.enableChangeDataFeed): after "
    "the property flips, an UPDATE stages its TRUE pre- and post-images "
    "under _change_data/ as `cdc` actions, and read_changes consumes "
    "them EXCLUSIVELY for that commit — update_preimage/update_postimage "
    "rows with exact old and new values, which remove+add synthesis can "
    "never produce (no row identity in the physical log). The audit "
    "groups the whole feed by change type with exact-decimal value "
    "sums; the oracle recomputes all three legs from events (post-image "
    "values are the halved correction). Green certifies CDC staging, "
    "the per-commit exclusivity rule, and value fidelity of both "
    "images.",
    tags=("delta", "cdf", "cdc", "update"),
)
def delta_cdc_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "cdc_img")
    table.enable_change_data_feed()
    table.update(
        spark, "event_type = 'purchase' AND value > 50", {"value": "value * 0.5"}
    )
    ch = table.read_changes(spark, starting_version=0)
    return ch.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
    )


@register(
    "pyds_cdf_stream_audit",
    oracle=f"""
WITH base AS (
  SELECT event_type, value FROM events
  WHERE event_type IN {_BATCH_TYPES!r}
), ins AS (
  SELECT event_type,
         count(*) + count(CASE WHEN event_type = 'purchase' AND value > 50
                               THEN 1 END) AS n
  FROM base GROUP BY event_type
), del AS (
  SELECT event_type,
         count(CASE WHEN (event_type = 'click' AND value < 50)
                      OR (event_type = 'purchase' AND value > 50)
                    THEN 1 END) AS n
  FROM base GROUP BY event_type
)
SELECT 'insert' AS change_type, event_type, n FROM ins
UNION ALL
SELECT 'delete' AS change_type, event_type, n FROM del WHERE n > 0
""",
    doc="STREAMING change data feed through the pydelta source "
    "(readChangeFeed=true): the table takes a load commit, a DV DELETE "
    "(cheap clicks), and a DV UPDATE (expensive purchases halved — "
    "delete+insert pairs), then the CDF stream drains through a "
    "checkpointed sink and the change rows are audited per "
    "(change_type, event_type). This is what makes DV'd and rewritten "
    "tables STREAMABLE: instead of refusing removes, the stream emits "
    "deletes as tagged rows with per-commit versions — the downstream "
    "materialized-view maintenance shape. Oracle reconstructs the "
    "exact change counts from events: inserts = the load plus the "
    "update's re-inserts; deletes = the erased clicks plus the "
    "updated purchases' old images.",
    tags=("delta", "streaming", "cdf", "python-datasource"),
)
def pyds_cdf_stream_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    table = _forked_delta_table(spark, sf_dir, "cdf")
    table.delete(spark, "event_type = 'click' AND value < 50")
    table.update(
        spark, "event_type = 'purchase' AND value > 50", {"value": "value * 0.5"}
    )
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cpcdfstream_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                spark.readStream.format("pydelta")
                .option("path", table.path)
                .option("readChangeFeed", "true")
                .load(),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="pyds_cdf_stream_audit",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy(
        F.col("_change_type").alias("change_type"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "delta_deletion_vector_survivors",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("value")} AS total_value
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'click' AND value < 50)
GROUP BY event_type
""",
    doc="DELETE via deletion vectors (reader protocol v3) through the log "
    "client: table built with one commit per event_type, then "
    "delete(\"event_type = 'click' AND value < 50\") — which rewrites NO "
    "data file, only commits per-file roaring-bitmap sidecars "
    "(sources/dv.py, the public DV wire format: z85 'u' storage, "
    "magic-prefixed portable RoaringBitmapArray, CRC-framed). The read "
    "drops flagged (file, row-index) positions with a BROADCAST anti-join "
    "against Spark's _metadata.row_index — no shuffle of surviving data. "
    "Oracle recomputes the survivors straight from events; green means "
    "bitmap serialization, sidecar framing, protocol upgrade, and the "
    "metadata-join read path all agree.",
    tags=("delta", "deletion-vectors", "delete"),
)
def delta_deletion_vector_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "dv")
    table.delete(spark, "event_type = 'click' AND value < 50")
    survivors = table.read(spark)
    return survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@register(
    "delta_change_feed_audit",
    oracle=f"""
WITH base AS (
  SELECT event_type, value FROM events
  WHERE event_type IN {_BATCH_TYPES!r}
)
SELECT event_type, 'insert' AS change_type, count(*) AS n FROM base
GROUP BY event_type
UNION ALL
SELECT event_type, 'delete' AS change_type, count(*) AS n FROM base
WHERE event_type = 'error' AND value >= 25
GROUP BY event_type
ORDER BY event_type, change_type
""",
    doc="Change data feed derived from the log (table_changes twin): one "
    "insert batch per event_type, then a deletion-vector DELETE of "
    "errors with value >= 25; read_changes() replays the window and "
    "emits every insert plus EXACTLY the newly-deleted rows (the DV "
    "delta against the prior file state — not a rewrite). Oracle "
    "recomputes both legs straight from events. Downstream consumers "
    "(incremental ETL, cache invalidation, reverse ETL) read this feed "
    "instead of diffing snapshots — the point of CDF at 100 TB.",
    tags=("delta", "cdf", "deletion-vectors"),
)
def delta_change_feed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_delta_table(spark, sf_dir)
    table.delete(spark, "event_type = 'error' AND value >= 25")
    cf = table.read_changes(spark, starting_version=0)
    return (
        cf.groupBy("event_type", F.col("_change_type").alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "change_type")
    )


@register(
    "delta_gdpr_delete_stream_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND user_id % 10 NOT IN (3, 7)
GROUP BY event_type
""",
    doc="Right-to-erasure pipeline end-to-end: the events table lands in "
    "Delta (one commit per event_type), then a STREAM of deletion "
    "requests (two micro-batches of user ids: ids ending in 3, then in "
    "7) drives foreachBatch DV deletes with txn idempotence — each "
    "request batch commits remove+re-add with roaring-bitmap sidecars "
    "and a (app, batch) txn action, so a replayed request batch is "
    "skipped in the log and NO data file is ever rewritten. The oracle "
    "recomputes the surviving rows straight from events. This is the "
    "GDPR/CCPA erasure shape at 100 TB: deletes touch KBs of bitmap per "
    "affected file instead of rewriting petabytes, and compliance "
    "audits read the change feed.",
    tags=("delta", "deletion-vectors", "streaming", "gdpr"),
)
def delta_gdpr_delete_stream_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "gdpr")

    # the deletion-request stream: two bounded micro-batches of user ids
    req_dir = tempfile.mkdtemp(prefix="cpgdpr_req_")
    for i, digit in enumerate((3, 7)):
        spark.createDataFrame([(digit,)], "last_digit long").write.parquet(
            os.path.join(req_dir, f"batch{i}")
        )

    def apply_deletes(batch_df, batch_id: int) -> None:
        digits = [r.last_digit for r in batch_df.collect()]
        if not digits:
            return
        preds = " OR ".join(f"user_id % 10 = {d}" for d in digits)
        # the txn rides the SAME commit as the DV delete, so idempotence
        # and erasure are atomic: a replayed request batch is a no-op
        table.delete(spark, preds, txn=("gdpr-eraser", batch_id))

    # process the two request batches deterministically (availableNow
    # over the request directory would interleave them into one batch;
    # erasure ordering must be the request order), then PROVE replay
    # safety by re-applying batch 0
    for i in range(2):
        batch = spark.read.parquet(os.path.join(req_dir, f"batch{i}"))
        apply_deletes(batch, i)
    apply_deletes(spark.read.parquet(os.path.join(req_dir, "batch0")), 0)

    survivors = table.read(spark)
    return survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "delta_tpch_refresh_audit",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderkey % 100 <> 1
GROUP BY o_orderstatus
""",
    doc="TPC-H refresh functions through the lakehouse write path: the "
    "orders table lands in Delta minus a 10% tail, RF1 (new sales) "
    "APPENDS that tail back as a second commit, RF2 (old sales purge) "
    "DELETES o_orderkey % 100 = 1 via deletion vectors — the "
    "insert/delete maintenance cycle every warehouse benchmark models, "
    "run here with ACID commits, per-file stats, and no file rewrites "
    "on the delete leg. Oracle recomputes the end state from orders "
    "with exact-decimal totals. At 100 TB: RF1 is a blind append "
    "(optimistic-retry safe), RF2 touches only the files whose key "
    "ranges contain purged orders (log stats prune the scan).",
    tags=("delta", "tpch", "refresh", "deletion-vectors"),
)
def delta_tpch_refresh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = DeltaTable(tempfile.mkdtemp(prefix="cptpchrf_") + "/orders_delta")
    table.write(orders.filter(F.col("o_orderkey") % 10 != 0).repartition(4))
    # RF1: new sales append
    table.write(orders.filter(F.col("o_orderkey") % 10 == 0).repartition(2))
    # RF2: old sales purge, deletion vectors (no rewrite)
    table.delete(spark, "o_orderkey % 100 = 1")
    from ..functions.determinism import dsum

    t = table.read(spark)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "delta_update_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("CASE WHEN event_type = 'purchase' AND value > 50 "
                 "THEN value * 0.5 ELSE value END")} AS total_value
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="UPDATE via deletion vectors + append, one atomic commit: a "
    "price correction halves every expensive purchase "
    "(value > 50). The old images are flagged in per-file roaring "
    "vectors built EXECUTOR-side (O(files) driver transfer) and the "
    "corrected rows append as new files from the same snapshot — no "
    "rewrite of the untouched rows sharing those files, which is the "
    "only shape that survives a 0.1%%-selectivity correction on 100 TB "
    "(contrast `delta_merge_upsert`'s copy-on-write). Oracle recomputes "
    "the corrected totals straight from events; green certifies DV "
    "flagging, image staging, and the single-commit atomicity agree.",
    tags=("delta", "update", "deletion-vectors"),
)
def delta_update_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "upd")
    table.update(
        spark,
        "event_type = 'purchase' AND value > 50",
        {"value": "value * 0.5"},
    )
    t = table.read(spark)
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@register(
    "delta_table_detail",
    oracle=f"""
SELECT 'delta' AS format,
       count(DISTINCT event_type) AS num_files,
       count(*) AS num_rows,
       count(DISTINCT CASE WHEN event_type = 'click' AND value < 50
                           THEN event_type END) AS num_deletion_vectors,
       3 AS min_reader_version,
       7 AS min_writer_version,
       'deletionVectors' AS reader_features
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
""",
    doc="DESCRIBE DETAIL behind a correctness row (round-4 verdict item "
    "8): the table lands with one single-file commit per event_type, a "
    "DV DELETE flags cheap clicks, and detail() then reports table "
    "facts FROM THE LOG ALONE (no data scan): active file count, "
    "physical row count from per-file stats (DV'd rows still live in "
    "the files — that is the point of deletion vectors), DV count, and "
    "the upgraded protocol. The oracle reconstructs every fact from "
    "events: files == distinct types (one file each), rows == all rows "
    "(no rewrite), DVs == types with at least one matching delete. "
    "Green certifies the stats/DV/protocol bookkeeping the log carries.",
    tags=("delta", "metadata", "detail"),
)
def delta_table_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "detail")
    table.delete(spark, "event_type = 'click' AND value < 50")
    d = table.detail(spark)
    return d.select(
        "format",
        "num_files",
        "num_rows",
        "num_deletion_vectors",
        "min_reader_version",
        "min_writer_version",
        F.array_join("reader_features", ",").alias("reader_features"),
    )


@register(
    "delta_shallow_clone_fork",
    oracle=f"""
SELECT 'source' AS tbl, event_type, count(*) AS n
FROM events WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
UNION ALL
SELECT 'fork' AS tbl, event_type, count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES!r} AND NOT (value < 30)
GROUP BY event_type
""",
    doc="SHALLOW CLONE as a dev/test fork: the source lands in Delta, "
    "clone_to() commits a ZERO-COPY metadata-only table referencing the "
    "source's files by absolute path (O(files) log write — at 100 TB a "
    "clone costs the same as at 100 MB), then the FORK deletes cheap "
    "events via deletion vectors. Both tables are read back: the "
    "source must be untouched by the fork's delete, the fork must see "
    "the survivors — independent evolution over shared data files, "
    "delta-spark's shallow-clone contract. Oracle recomputes both "
    "states straight from events.",
    tags=("delta", "clone", "deletion-vectors"),
)
def delta_shallow_clone_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _forked_delta_table(spark, sf_dir, "clone")
    fork = src.clone_to(src.path + "_fork")
    fork.delete(spark, "value < 30")
    source_counts = (
        src.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tbl", F.lit("source"))
    )
    fork_counts = (
        fork.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tbl", F.lit("fork"))
    )
    return source_counts.unionByName(fork_counts).select("tbl", "event_type", "n")


@register(
    "pyds_delta_survivors",
    oracle=f"""
SELECT event_type, count(*) AS n
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'view' AND value < 10)
  AND event_type >= 'p'
GROUP BY event_type
""",
    doc="The Delta client as a REGISTERED Spark data source (Spark 4 "
    "Python Data Source API, sources/pyds.py): the table lands in "
    "Delta, a DV DELETE drops cheap views, and the read goes through "
    "spark.read.format('pydelta') — schema discovery, one "
    "InputPartition per active file scheduled across executors, Arrow "
    "RecordBatch reads, DV application by row position, and the "
    "where-option's log-stats file pruning + exact row filtering "
    "(event_type >= 'p' keeps purchase/signup/view files only; the "
    "module documents why pushFilters is unsound on this Spark "
    "version). Green means the whole format integrates with Spark's "
    "planner as a first-class source, not just as library calls.",
    tags=("delta", "python-datasource", "deletion-vectors"),
)
def pyds_delta_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    table = _forked_delta_table(spark, sf_dir, "pyds")
    table.delete(spark, "event_type = 'view' AND value < 10")
    pyds.register(spark)
    out = (
        spark.read.format("pydelta")
        .option("path", table.path)
        .option("where", "event_type >= 'p'")
        .load()
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def _concurrent_commit(table: DeltaTable) -> int:
    """Simulate a CONCURRENT writer publishing the next log version
    first (the thing OCC defends against): write a raw commit file at
    latest+1 the way a second engine instance would. Single-process
    stand-in for a real race — the log cannot tell the difference."""
    import json as _json

    v = (table.latest_version() or 0) + 1
    with open(
        os.path.join(table.path, "_delta_log", f"{v:020d}.json"), "w"
    ) as fh:
        fh.write(
            _json.dumps(
                {
                    "commitInfo": {
                        "timestamp": 0,
                        "operation": "WRITE",
                        "operationParameters": {"mode": "Append"},
                    }
                }
            )
            + "\n"
        )
    return v


@register(
    "delta_mapped_rename_roundtrip",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_val
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type
""",
    doc="Column-mapping ROUND-TRIP as a driver-checkable row (round-5 "
    "verdict item 1): the table lands with a nested struct payload, "
    "column mapping is enabled, the outer column AND an inner struct "
    "field are renamed (metadata-only commits — zero data rewritten, "
    "the property that matters when the column lives in 100 TB of "
    "parquet), and a post-rename append stages files under the NEW "
    "logical names (physical names in the parquet). The read then "
    "reconciles BOTH generations of files through the mapping. The "
    "oracle recomputes the aggregate from raw events, blind to the "
    "renames: green certifies old-name files, new-name files, and the "
    "nested positional cast agree to the value level.",
    tags=("delta", "column-mapping", "schema-evolution"),
)
def delta_mapped_rename_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmap_") + "/events_delta")
    table.write(
        events.filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            "event_type",
            F.struct(
                F.col("user_id").alias("uid"), F.col("value").alias("amount")
            ).alias("payload"),
        )
        .coalesce(1)
    )
    table.enable_column_mapping()
    table.rename_column("payload", "data")
    table.rename_column("data.amount", "val")
    table.write(
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "event_type",
            F.struct(
                F.col("user_id").alias("uid"), F.col("value").alias("val")
            ).alias("data"),
        )
        .coalesce(1)
    )
    got = table.read(spark)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("data.val").alias("total_val")
    )


@register(
    "delta_occ_conflict_audit",
    oracle="""
SELECT event_type,
       count(*) * (CASE WHEN event_type IN ('purchase', 'view')
                        THEN 2 ELSE 1 END) AS n,
       1 AS append_auto_retried,
       1 AS disjoint_append_retried,
       1 AS matching_append_conflicts
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type
""",
    doc="Optimistic concurrency control behind a correctness row — the "
    "full WriteSerializable conflict-checker matrix: (a) a concurrent "
    "writer steals the next log version mid-append and the APPEND "
    "auto-retries past it (two appends compose); (b) a DELETE loses "
    "the race to a REAL concurrent append whose file stats REFUTE its "
    "predicate (view rows vs event_type='error') — the conflict "
    "checker proves disjointness from the log stats and retries from "
    "a fresh snapshot, both effects landing; (c) the same DELETE shape "
    "against an append that COULD hold matching rows (more signups vs "
    "event_type='signup') surfaces ConcurrentWriteError — retrying "
    "would delete rows the caller's snapshot never contained — and a "
    "clean fresh delete then removes all of them. Oracle recomputes "
    "final state (purchases and views doubled by the two retried "
    "races, errors and signups deleted) plus all three outcome flags; "
    "a wrong conflict decision in EITHER direction flips something.",
    tags=("delta", "occ", "conflict"),
)
def delta_occ_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta import ConcurrentWriteError

    events = load_table(spark, sf_dir, "events")
    table = _forked_delta_table(spark, sf_dir, "occ")
    # (a) append vs concurrent append: auto-retry composes both
    v_before = table.latest_version()
    stolen = _concurrent_commit(table)
    v_after = table.write(
        events.filter(F.col("event_type") == "purchase")
        .select(*_EVENT_COLS)
        .coalesce(1)
    )
    append_auto_retried = int(v_after == stolen + 1 and stolen == v_before + 1)

    def race_real_append(etype: str):
        """Hook the victim's snapshot: a REAL concurrent append of
        ``etype`` rows lands in the race window, once."""
        other = DeltaTable(table.path)
        orig = table._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                other.write(
                    events.filter(F.col("event_type") == etype)
                    .select(*_EVENT_COLS)
                    .coalesce(1)
                )
            return out

        table._snapshot_state_full = hooked
        return orig

    # (b) delete vs provably-DISJOINT concurrent append: retries, both
    # effects land (the view rows survive, the error rows die)
    orig = race_real_append("view")
    try:
        table.delete(spark, "event_type = 'error'")
        disjoint_retried = 1
    except ConcurrentWriteError:
        disjoint_retried = 0
    finally:
        table._snapshot_state_full = orig
    # (c) delete vs an append that COULD match: surfaces, never blind
    orig = race_real_append("signup")
    try:
        table.delete(spark, "event_type = 'signup'")
        matching_conflicts = 0
    except ConcurrentWriteError:
        matching_conflicts = 1
    finally:
        table._snapshot_state_full = orig
    table.delete(spark, "event_type = 'signup'")  # fresh snapshot: all go
    got = table.read(spark)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(append_auto_retried).alias("append_auto_retried"),
        F.lit(disjoint_retried).alias("disjoint_append_retried"),
        F.lit(matching_conflicts).alias("matching_append_conflicts"),
    )


@register(
    "delta_ict_travel_audit",
    oracle="""
WITH c AS (SELECT
    (SELECT count(*) FROM events WHERE event_type = 'click')    AS n_click,
    (SELECT count(*) FROM events WHERE event_type = 'error')    AS n_error,
    (SELECT count(*) FROM events WHERE event_type = 'purchase') AS n_purchase,
    (SELECT count(*) FROM events WHERE event_type = 'signup')   AS n_signup)
SELECT * FROM (
  SELECT CAST(2 AS BIGINT) AS version, n_click + n_error AS n_rows,
         CAST(2 AS BIGINT) AS enablement_version FROM c
  UNION ALL
  SELECT 3, n_click + n_error + n_purchase, 2 FROM c
  UNION ALL
  SELECT 4, n_click + n_error + n_purchase + n_signup, 2 FROM c)
""",
    doc="In-commit-timestamp TIMESTAMP AS OF behind a correctness row "
    "(round-5 verdict item 1): two plain commits, then ICT enablement "
    "(whose commit must stamp the spec's enablement-provenance "
    "properties — the reported enablement_version comes from table "
    "configuration, not from this query's knowledge), then two more "
    "writes. Every commit-file mtime is then DELIBERATELY scrambled to "
    "epoch+1s — the skew that makes mtime-ordered time travel lie — "
    "and the query travels to each post-enablement commit's OWN ict, "
    "counting rows. Green certifies monotonic stamping, provenance "
    "recording, and ICT-exclusive resolution survive total mtime loss.",
    tags=("delta", "time-travel", "in-commit-timestamps"),
)
def delta_ict_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpict_") + "/events_delta")
    for etype in ("click", "error"):
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .coalesce(1)
        )
    table.enable_in_commit_timestamps()  # version 2
    for etype in ("purchase", "signup"):
        table.write(
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .coalesce(1)
        )
    log = os.path.join(table.path, "_delta_log")
    icts: dict[int, int] = {}
    for v in (2, 3, 4):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for line in fh:
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts[v] = a["commitInfo"]["inCommitTimestamp"]
        os.utime(os.path.join(log, f"{v:020d}.json"), (1, 1))
    for v in (0, 1):  # pre-enablement mtimes scrambled too
        os.utime(os.path.join(log, f"{v:020d}.json"), (1, 1))
    meta, _ = table._snapshot_state(None)
    enab = int(
        (meta.get("configuration") or {})[
            "delta.inCommitTimestampEnablementVersion"
        ]
    )
    rows = [
        (v, table.read_at_timestamp(spark, icts[v]).count(), enab)
        for v in (2, 3, 4)
    ]
    return spark.createDataFrame(
        rows, "version long, n_rows long, enablement_version long"
    )


@register(
    "delta_check_constraint_audit",
    oracle=f"""
SELECT event_type,
       count(*) * (CASE WHEN event_type = 'click' THEN 2 ELSE 1 END) AS n,
       1 AS violating_batch_refused
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="CHECK-constraint enforcement behind a correctness row (round-5 "
    "verdict item 1): ALTER TABLE ADD CONSTRAINT records the predicate "
    "in table configuration (validating existing rows first), a batch "
    "violating it is REFUSED ATOMICALLY (nothing of the batch lands — "
    "the writer-side contract every checkConstraints engine must "
    "honor), and a conforming batch still appends. The oracle expects "
    "clicks doubled by the valid append, zero rows from the refused "
    "batch, and the refusal flag — an engine that half-applies or "
    "silently drops the constraint flips a count or the flag.",
    tags=("delta", "constraints",),
)
def delta_check_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = _forked_delta_table(spark, sf_dir, "chk")
    table.add_check_constraint("known_type", f"event_type IN {_BATCH_TYPES!r}")
    refused = 0
    try:
        table.write(
            events.filter(F.col("event_type") == "click")
            .select(
                "event_id",
                "ts",
                "user_id",
                F.lit("bogus").alias("event_type"),
                "value",
            )
            .coalesce(1)
        )
    except ValueError:
        refused = 1
    table.write(
        events.filter(F.col("event_type") == "click")
        .select(*_EVENT_COLS)
        .coalesce(1)
    )
    got = table.read(spark)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(refused).alias("violating_batch_refused"),
    )


@register(
    "delta_reorg_purge_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       0 AS dvs_after,
       1 AS untouched_files_preserved
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'click' AND value < 50)
GROUP BY event_type
""",
    doc="REORG TABLE ... APPLY (PURGE) behind a correctness row: a DV "
    "DELETE flags cheap clicks, then the purge rewrites ONLY the "
    "DV-carrying file — materializing its survivors, dropping the dead "
    "rows — in a dataChange=false commit, while every clean file stays "
    "the SAME physical file (asserted from the log and reported as a "
    "flag). This is the maintenance half of deletion vectors at "
    "100 TB: the delete stays O(bitmap) on the hot path and the "
    "tombstones are paid down off the query path at O(DV'd-file "
    "bytes), never a full-table rewrite. The oracle recomputes the "
    "post-delete contents from events plus both invariant flags; a "
    "purge that resurrected rows, lost survivors, or rewrote clean "
    "files flips a count or a flag.",
    tags=("delta", "reorg", "deletion-vectors"),
)
def delta_reorg_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "reorg")
    table.delete(spark, "event_type = 'click' AND value < 50")
    _m, adds = table._snapshot_state(None)
    dvd = {a["path"] for a in adds if a.get("deletionVector")}
    clean = {a["path"] for a in adds} - dvd
    table.reorg_purge(spark)
    _m2, adds2 = table._snapshot_state(None)
    paths_after = {a["path"] for a in adds2}
    dvs_after = sum(1 for a in adds2 if a.get("deletionVector"))
    untouched = int(clean <= paths_after and dvd.isdisjoint(paths_after))
    got = table.read(spark)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(dvs_after).alias("dvs_after"),
        F.lit(untouched).alias("untouched_files_preserved"),
    )


@register(
    "delta_idmode_roundtrip",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       1 AS footer_ids_complete
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
    doc="Id-mode column mapping END TO END behind a correctness row: "
    "the table is CREATED id-mapped (DeltaTable.create — the shape "
    "delta-spark can only produce at creation, Iceberg-compat), every "
    "append stages parquet whose column NAMES are fresh col-<uuid> "
    "synthetics but whose footers carry parquet.field.id on every "
    "field (verified file-by-file and reported as a flag), and the "
    "read goes through the REGISTERED pydelta source, whose executors "
    "resolve each file's arbitrary names through its own footer ids. "
    "A name-matching reader would return all NULLs here; the oracle "
    "recomputes the aggregate from raw events, so green certifies "
    "field-id staging and per-file id resolution agree to the value "
    "level.",
    tags=("delta", "column-mapping", "id-mode", "python-datasource"),
)
def delta_idmode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    from ..sources import pyds

    events = load_table(spark, sf_dir, "events")
    sel = events.select(*_EVENT_COLS)
    table = DeltaTable(tempfile.mkdtemp(prefix="cpidm_") + "/events_delta")
    table.create(sel.schema, mapping_mode="id")
    for etype in ("click", "purchase"):
        table.write(
            sel.filter(F.col("event_type") == etype).coalesce(1)
        )
    complete = 1
    for name in os.listdir(table.path):
        if not name.endswith(".parquet"):
            continue
        for fld in pq.read_schema(os.path.join(table.path, name)):
            if (fld.metadata or {}).get(b"PARQUET:field_id") is None:
                complete = 0
    pyds.register(spark)
    got = spark.read.format("pydelta").option("path", table.path).load()
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
        F.lit(complete).alias("footer_ids_complete"),
    )


@register(
    "delta_merge_clauses_audit",
    oracle=f"""
WITH tgt AS (
  SELECT event_id, user_id, value FROM events
  WHERE event_type IN ('click', 'view')
), src AS (
  SELECT event_id, user_id, value * 2 AS value FROM events
  WHERE event_type IN ('view', 'purchase')
), m AS (
  SELECT t.user_id, t.value AS tv, s.value AS sv,
         s.event_id IS NOT NULL AS matched
  FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
), kept AS (
  SELECT user_id,
         CASE WHEN matched AND sv > 1.0 THEN sv
              WHEN NOT matched AND tv < 0.5 THEN tv + 1000
              ELSE tv END AS value
  FROM m
  WHERE NOT (matched AND NOT coalesce(sv > 1.0, FALSE))
    AND NOT (NOT matched AND NOT coalesce(tv < 0.5, FALSE)
             AND coalesce(tv > 4.5, FALSE))
), ins AS (
  SELECT s.user_id, s.value FROM src s
  WHERE s.event_id NOT IN (SELECT event_id FROM tgt) AND s.value < 3.0
), merged AS (
  SELECT * FROM kept UNION ALL SELECT * FROM ins
)
SELECT user_id % 4 AS bucket, count(*) AS n,
       {sql_dsum("value")} AS total_value
FROM merged
GROUP BY user_id % 4
""",
    doc="Full MERGE INTO clause semantics (DeltaMergeBuilder, the "
    "delta-spark builder twin) behind one correctness row: target = "
    "click+view events, source = view+purchase with doubled values, and "
    "FIVE chained clauses — conditional WHEN MATCHED UPDATE, catch-all "
    "WHEN MATCHED DELETE (first-clause-wins ordering), conditional WHEN "
    "NOT MATCHED INSERT, and conditional NOT MATCHED BY SOURCE "
    "UPDATE + DELETE. Runs the two-phase file-pruned merge (only files "
    "where a clause fires rewrite; cardinality-checked). The oracle "
    "replays the exact clause lattice in SQL CASE/WHERE form, so green "
    "certifies clause ordering, NULL-condition semantics, and the "
    "simultaneous-assignment projection to the value level.",
    tags=("delta", "merge", "clauses"),
)
def delta_merge_clauses_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmrgcl_") + "/events_delta")
    table.write(
        events.filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "user_id", "value")
        .repartition(4)
    )
    source = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .select("event_id", "user_id", (F.col("value") * 2).alias("value"))
    )
    (
        table.merge_into(source, "target.event_id = source.event_id")
        .when_matched_update(
            set={"value": "source.value"}, condition="source.value > 1.0"
        )
        .when_matched_delete()
        .when_not_matched_insert(condition="source.value < 3.0")
        .when_not_matched_by_source_update(
            set={"value": "target.value + 1000"},
            condition="target.value < 0.5",
        )
        .when_not_matched_by_source_delete(condition="target.value > 4.5")
        .execute(spark)
    )
    return (
        table.read(spark)
        .groupBy((F.col("user_id") % 4).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "delta_replace_where_audit",
    oracle=f"""
WITH repl AS (
  SELECT event_id, user_id, event_type, value * 3 AS value FROM events
  WHERE event_type = 'click' AND user_id % 2 = 0
), keep AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE event_type IN ('view', 'purchase') AND event_type <> 'click'
), final AS (
  SELECT * FROM keep UNION ALL SELECT * FROM repl
)
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       1 AS untouched_files_preserved
FROM final
GROUP BY event_type
""",
    doc="replaceWhere selective overwrite (delta-spark's "
    "`.option('replaceWhere', pred)`): a table partitioned by "
    "event_type gets its 'click' slice atomically replaced with a "
    "thinner, tripled-value frame in ONE commit — matching rows are "
    "flagged with executor-built deletion vectors (fully-covered files "
    "drop outright) and the replacement appends; rows outside the "
    "predicate never restage. The flag pins the scale contract: every "
    "untouched partition's add entry survives the commit verbatim. "
    "Oracle recomputes the post-replace state from raw events.",
    tags=("delta", "replace-where", "deletion-vectors", "partitioned"),
)
def delta_replace_where_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cols = ("event_id", "user_id", "event_type", "value")
    table = DeltaTable(tempfile.mkdtemp(prefix="cprepw_") + "/events_delta")
    table.write(
        events.filter(F.col("event_type").isin("click", "view", "purchase"))
        .select(*cols)
        .repartition(2),
        partition_by=["event_type"],
    )
    _, adds_before = table._snapshot_state(None)
    replacement = (
        events.filter(
            (F.col("event_type") == "click") & (F.col("user_id") % 2 == 0)
        )
        .select(
            "event_id", "user_id", "event_type",
            (F.col("value") * 3).alias("value"),
        )
    )
    table.replace_where(replacement, "event_type = 'click'")
    _, adds_after = table._snapshot_state(None)
    untouched = {
        a["path"] for a in adds_before if "event_type=click" not in a["path"]
    }
    preserved = int(untouched <= {a["path"] for a in adds_after})
    return (
        table.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
            F.lit(preserved).alias("untouched_files_preserved"),
        )
    )


@register(
    "delta_row_tracking_audit",
    oracle="""
WITH c AS (
  SELECT event_id, user_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, user_id FROM events WHERE event_type = 'purchase'
),
ranked AS (
  SELECT event_id, user_id,
         CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS row_id,
         1 AS born
  FROM c
  UNION ALL
  SELECT event_id, user_id,
         CAST((SELECT count(*) FROM c)
              + row_number() OVER (ORDER BY event_id) - 1 AS BIGINT),
         2 AS born
  FROM p
)
SELECT event_id,
       row_id,
       CAST(CASE WHEN event_id % 7 = 0 THEN 3 ELSE born END AS BIGINT)
         AS row_commit_version,
       CAST(user_id + CASE WHEN event_id % 7 = 0 THEN 1000000 ELSE 0 END
            AS BIGINT) AS user_id
FROM ranked
""",
    doc="Row tracking end to end (spec: writer feature rowTracking + "
    "domainMetadata): clicks land in one ordered file, "
    "enable_row_tracking() BACKFILLS baseRowId ranges (a dataChange="
    "false metadata re-add per file — no data rewrite even at 100 TB), "
    "purchases append with fresh ranges above the high-water-mark "
    "domain, an UPDATE rewrites its matched rows while PRESERVING their "
    "ids (materialized carrier columns) and bumping their "
    "_row_commit_version, and OPTIMIZE compaction rewrites every byte "
    "without moving a single id. The oracle reconstructs each row's "
    "expected stable id from its position at birth and its commit "
    "version from whether the update touched it — a hash match proves "
    "id stability across append+update+compact. Reads derive ids as "
    "baseRowId + _metadata.row_index joined against an O(files) "
    "broadcast, so id reconstruction never shuffles data.",
    tags=("delta", "row-tracking", "update", "metadata"),
)
def delta_row_tracking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cols = ("event_id", "user_id")
    table = DeltaTable(tempfile.mkdtemp(prefix="cprowtrk_") + "/events_delta")
    # v0: clicks, one file in event_id order -> row ids = rank at birth
    table.write(
        events.filter(F.col("event_type") == "click")
        .select(*cols)
        .coalesce(1)
        .sortWithinPartitions("event_id")
    )
    table.enable_row_tracking()  # v1: backfill + hwm domain
    # v2: purchases append above the high-water mark
    table.write(
        events.filter(F.col("event_type") == "purchase")
        .select(*cols)
        .coalesce(1)
        .sortWithinPartitions("event_id")
    )
    # v3: UPDATE preserves ids, bumps versions on matched rows only
    table.update(spark, "event_id % 7 = 0", {"user_id": "user_id + 1000000"})
    # v4: OPTIMIZE must move bytes, never ids
    table.compact(spark, target_files=2)
    return table.read_with_row_ids(spark).select(
        "event_id",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
        "user_id",
    )


@register(
    "delta_liquid_clustering_audit",
    oracle=f"""
SELECT count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       {sql_dsum("value")} AS total_value,
       'user_id,event_id' AS cluster_cols,
       CAST(1 AS BIGINT) AS prunes_on_user,
       CAST(1 AS BIGINT) AS prunes_on_event
FROM events
""",
    doc="Liquid clustering end to end (spec: Clustered Table via the "
    "delta.clustering metadata domain): CLUSTER BY (user_id, event_id) "
    "is declared ONCE as domain metadata, events land hash-shuffled "
    "across 8 files (worst-case layout: every file spans both full key "
    "ranges), and a BARE compact() — no zorder_by argument — reads the "
    "domain and executes the declared layout as a Morton-code rewrite. "
    "The prune flags then assert the point of the feature against the "
    "real log: a min-key predicate on EITHER clustering column must "
    "rule out files via per-file min/max stats alone (the same "
    "_file_may_match path read(where=) uses), which only holds if the "
    "rewrite actually tiled the 2D key plane. Content (row count, "
    "distinct users, exact value sum) rides along so the hash compare "
    "pins the rewrite lost nothing. At 100 TB: the declaration is one "
    "domain action; OPTIMIZE cost is the rewrite itself, and every "
    "later scan with a clustering-key filter prunes at FILE "
    "granularity before Spark ever lists the scan.",
    tags=("delta", "clustering", "layout", "metadata"),
)
def delta_liquid_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from ..sources.delta import _file_may_match, _parse_conjuncts

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    table = DeltaTable(tempfile.mkdtemp(prefix="cpliquid_") + "/events_delta")
    table.write(events.repartition(8))
    table.set_cluster_by(["user_id", "event_id"])
    table.compact(spark, target_files=8)
    _meta, adds = table._snapshot_state(None)

    def candidates(pred: str) -> int:
        conj = _parse_conjuncts(pred)
        return sum(
            1 for a in adds if _file_may_match(a, conj, [], lambda c: c)
        )

    mins = {
        c: min(_json.loads(a["stats"])["minValues"][c] for a in adds)
        for c in ("user_id", "event_id")
    }
    prunes_user = int(candidates(f"user_id <= {mins['user_id']}") < len(adds))
    prunes_event = int(
        candidates(f"event_id <= {mins['event_id']}") < len(adds)
    )
    return table.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("total_value"),
        F.lit("user_id,event_id").alias("cluster_cols"),
        F.lit(prunes_user).cast("long").alias("prunes_on_user"),
        F.lit(prunes_event).cast("long").alias("prunes_on_event"),
    )


@register(
    "delta_restore_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS restore_is_one_commit,
       (SELECT count(*) FROM events
        WHERE event_type IN {_BATCH_TYPES!r}
          AND NOT (event_type = 'click' AND value < 50))
         AS rows_at_bad_version
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="RESTORE TABLE ... TO VERSION AS OF behind a correctness row "
    "(delta-spark's rollback): five clean commits, then a BAD deletion-"
    "vector DELETE erases cheap clicks, then restore(4) flips the "
    "snapshot back in ONE new commit — removes/re-adds only the "
    "differing adds (here: the DV'd click file swaps back to its clean "
    "add; the four untouched files need no action), never rewriting "
    "history. Both halves of the contract ride as flags: the restore "
    "landed as exactly one commit (v6), and time travel to the bad v5 "
    "STILL sees the deleted state — a restore that truncated or "
    "rewrote the log would flip rows_at_bad_version. At 100 TB this is "
    "the operational undo: O(changed files) log actions, zero data "
    "movement, and the forensic trail stays queryable. The oracle "
    "recomputes the restored contents and the bad-version count "
    "straight from events.",
    tags=("delta", "restore", "time-travel", "deletion-vectors"),
)
def delta_restore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_delta_table(spark, sf_dir)  # v0..v4
    table.delete(spark, "event_type = 'click' AND value < 50")  # v5: bad
    table.restore(4)  # v6: rollback
    one_commit = int(table.latest_version() == 6)
    rows_at_bad = table.read(spark, version=5).count()
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(one_commit).cast("long").alias("restore_is_one_commit"),
        F.lit(rows_at_bad).cast("long").alias("rows_at_bad_version"),
    )


@register(
    "delta_vacuum_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(5 AS BIGINT) AS n_vacuumed,
       CAST(1 AS BIGINT) AS refused_below_retention,
       CAST(1 AS BIGINT) AS expired_travel_fails
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="VACUUM behind a correctness row: five single-file commits, an "
    "OPTIMIZE compaction that strands all five originals as "
    "tombstoned (unreferenced) files, then the two-step contract — "
    "(a) vacuum at retention 0 WITHOUT force is REFUSED (delta-spark's "
    "retentionDurationCheck: a concurrent reader's in-flight snapshot "
    "may still reference the files), (b) vacuum(force=True) deletes "
    "EXACTLY the five originals — the compacted file and the "
    "transaction log are untouched — and time travel to v1 now fails "
    "at scan time because its data files are physically gone "
    "(delta-spark's documented trade-off). The current snapshot "
    "re-reads in full, proving vacuum only ever removes what no "
    "active version references. At 100 TB this is the storage-"
    "reclaim path: the walk is O(files), the deletes are O(stranded "
    "bytes), and the refusal gate is what stands between routine "
    "maintenance and corrupting a reader.",
    tags=("delta", "vacuum", "metadata", "layout"),
)
def delta_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fresh: vacuum GCs only files under its OWN root — the stranded
    # originals must physically live there for the audit to count them
    table = _build_delta_table(spark, sf_dir, fresh=True)  # v0..v4: 5 files
    table.compact(spark, target_files=1)  # v5: originals tombstoned
    try:
        table.vacuum(retention_ms=0)
        refused = 0
    except ValueError:
        refused = 1
    # the distributed form (executor-side listing + deletes) is the
    # driver-visible path; serial/distributed parity is pinned in pytest
    n_vacuumed = len(table.vacuum(retention_ms=0, force=True, spark=spark))
    try:
        table.read(spark, version=1).count()
        travel_fails = 0
    except Exception:
        travel_fails = 1
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(n_vacuumed).cast("long").alias("n_vacuumed"),
        F.lit(refused).cast("long").alias("refused_below_retention"),
        F.lit(travel_fails).cast("long").alias("expired_travel_fails"),
    )


@register(
    "delta_log_cleanup_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(3 AS BIGINT) AS checkpoint_parts,
       CAST(4 AS BIGINT) AS n_expired_commits,
       CAST(1 AS BIGINT) AS refused_below_retention,
       CAST(4 AS BIGINT) AS min_surviving_version,
       CAST(1 AS BIGINT) AS expired_travel_fails
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'error' AND value < 25)
GROUP BY event_type
""",
    doc="Log retention end to end (delta-spark's MetadataCleanup + the "
    "spec's multi-part checkpoint): five commits, a THREE-PART parquet "
    "checkpoint at v4 (rows round-robin across parts — the spec's "
    "scale path when the active-file list itself is too big for one "
    "file), a post-checkpoint DV DELETE at v5, then cleanup_metadata "
    "— refused at retention 0 without force (an incremental consumer "
    "may still need the commits), then force-expiring EXACTLY commits "
    "0..3 (v4 is the checkpoint floor and survives). The re-read must "
    "now reconstruct state from checkpoint parts + the JSON tail "
    "alone; time travel to expired v1 fails loudly instead of lying. "
    "This is what keeps a years-old table's planning O(recent "
    "commits): a 10M-commit log collapses to one parquet state plus "
    "days of tail, and the audit proves the collapsed read path "
    "agrees with raw events to the value level.",
    tags=("delta", "metadata", "checkpoint", "log-retention",
          "deletion-vectors"),
)
def delta_log_cleanup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_delta_table(spark, sf_dir)  # v0..v4
    table.checkpoint(spark, parts=3)
    table.delete(spark, "event_type = 'error' AND value < 25")  # v5
    try:
        table.cleanup_metadata(retention_ms=0)
        refused = 0
    except ValueError:
        refused = 1
    expired = table.cleanup_metadata(retention_ms=0, force=True)
    n_expired = sum(1 for name in expired if name.endswith(".json"))
    min_v = table._commit_versions()[0]
    try:
        table.read(spark, version=1).count()
        travel_fails = 0
    except ValueError:
        travel_fails = 1
    parts = (table._last_checkpoint() or {}).get("parts") or 0
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(parts).cast("long").alias("checkpoint_parts"),
        F.lit(n_expired).cast("long").alias("n_expired_commits"),
        F.lit(refused).cast("long").alias("refused_below_retention"),
        F.lit(min_v).cast("long").alias("min_surviving_version"),
        F.lit(travel_fails).cast("long").alias("expired_travel_fails"),
    )


@register(
    "delta_append_only_audit",
    oracle=f"""
SELECT event_type,
       count(*) * CASE WHEN event_type = 'view' THEN 2 ELSE 1 END AS n,
       CAST(1 AS BIGINT) AS delete_refused,
       CAST(1 AS BIGINT) AS update_refused,
       CAST(1 AS BIGINT) AS overwrite_refused
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="delta.appendOnly enforcement behind a correctness row (writer "
    "protocol v2's appendOnly feature): the property lands as one "
    "metadata commit, then DELETE, UPDATE, and overwrite-WRITE are "
    "each REFUSED LOUDLY — the delta-spark gate protecting immutable "
    "audit/compliance tables — while a plain append (the view slice "
    "re-landed) stays legal and doubles its count. The oracle "
    "recomputes the doubled contents plus all three refusal flags: an "
    "engine that half-enforces (refuses the API but rewrites rows, or "
    "blocks appends too) flips a count or a flag. At 100 TB append-"
    "only is what makes a regulatory bronze layer trustworthy: the "
    "gate is one configuration check at commit time, not a scan.",
    tags=("delta", "append-only", "constraints", "metadata"),
)
def delta_append_only_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = _forked_delta_table(spark, sf_dir, "apponly")
    table.set_table_properties({"delta.appendOnly": "true"})

    def refused(fn) -> int:
        try:
            fn()
            return 0
        except ValueError as e:
            return int("append-only" in str(e))

    view_again = (
        events.filter(F.col("event_type") == "view")
        .select(*_EVENT_COLS)
        .coalesce(1)
    )
    flags = (
        refused(lambda: table.delete(spark, "value < 10")),
        refused(
            lambda: table.update(spark, "value < 10", {"value": "value + 1"})
        ),
        refused(lambda: table.write(view_again, mode="overwrite")),
    )
    table.write(view_again)  # appends stay legal
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(flags[0]).cast("long").alias("delete_refused"),
        F.lit(flags[1]).cast("long").alias("update_refused"),
        F.lit(flags[2]).cast("long").alias("overwrite_refused"),
    )


@register(
    "pyds_batch_cdf_audit",
    oracle=f"""
WITH versions AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
           AS version,
         count(*) AS n
  FROM events
  WHERE event_type IN {_BATCH_TYPES!r}
  GROUP BY event_type
)
SELECT 'insert' AS change_type, version AS commit_version, event_type, n
FROM versions WHERE version >= 1
UNION ALL
SELECT 'delete' AS change_type, CAST(5 AS BIGINT) AS commit_version,
       'click' AS event_type, count(*) AS n
FROM events WHERE event_type = 'click' AND value < 50
""",
    doc="BATCH change-data-feed through the registered pydelta source "
    "(delta-spark's .option('readChangeFeed', true)"
    ".option('startingVersion', 1) — X150 made driver-checkable): five "
    "insert commits, then a deletion-vector DELETE of cheap clicks, "
    "read back as one bounded version range [1, latest] through "
    "spark.read.format('pydelta'). The start bound EXCLUDES v0's click "
    "inserts (inclusive-start semantics pinned by the oracle's "
    "version >= 1), each insert carries its own _commit_version, and "
    "the DV commit surfaces as delete rows for exactly the erased "
    "positions — the executor-side diff planner recomputes the DV "
    "delta against the prior file state, never a rewrite. The oracle "
    "reconstructs the full expected feed from raw events. This is the "
    "incremental-consumer contract at 100 TB: a downstream job asks "
    "for 'everything since my last sync version' and gets changes, "
    "not snapshots.",
    tags=("delta", "cdf", "python-datasource", "deletion-vectors",
          "batch"),
)
def pyds_batch_cdf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    table = _build_delta_table(spark, sf_dir)  # v0..v4
    table.delete(spark, "event_type = 'click' AND value < 50")  # v5: DV
    pyds.register(spark)
    feed = (
        spark.read.format("pydelta")
        .option("path", table.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
    )
    return feed.groupBy(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "delta_type_widening_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       max(user_id) AS max_user,
       {sql_dsum("CAST(CAST(value AS REAL) AS DOUBLE)")} AS total_value,
       CAST(1 AS BIGINT) AS files_untouched,
       CAST(1 AS BIGINT) AS reader_feature_fenced
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
UNION ALL
SELECT 'view_wide' AS event_type, count(*) AS n,
       max(user_id + 5000000000) AS max_user,
       {sql_dsum("CAST(CAST(value AS REAL) AS DOUBLE) * 2")} AS total_value,
       CAST(1 AS BIGINT) AS files_untouched,
       CAST(1 AS BIGINT) AS reader_feature_fenced
FROM events WHERE event_type = 'view'
""",
    doc="Type widening end to end (spec reader-writer feature "
    "typeWidening): events land with user_id declared INT and value "
    "declared FLOAT (one commit per event_type), then ALTER COLUMN "
    "widens user_id -> LONG and value -> DOUBLE in metadata-only "
    "commits — the flag pins that every pre-widen physical file is "
    "STILL the same untouched file — and a post-widen append lands "
    "values only the wide types can hold (user ids past 2^31). The "
    "read reconciles both generations: Spark's parquet reader upcasts "
    "the narrow files at scan time, so int32 and int64 files serve "
    "one BIGINT column. Protocol is fenced on BOTH sides (reader v3 + "
    "typeWidening, flag-checked) because a reader matching physical "
    "types blindly would crash or misread the mixed-width table. The "
    "oracle recomputes everything from raw events with the same "
    "float32 rounding (value::REAL::DOUBLE) — green certifies the "
    "widened reads agree to the last bit. At 100 TB this is an int "
    "column outgrowing 2^31 costing ONE log commit, not a rewrite of "
    "every file that carries it.",
    tags=("delta", "type-widening", "schema-evolution", "metadata"),
)
def delta_type_widening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    narrow = events.select(
        "event_id",
        F.col("user_id").cast("int").alias("user_id"),
        "event_type",
        F.col("value").cast("float").alias("value"),
    )
    table = DeltaTable(tempfile.mkdtemp(prefix="cpwiden_") + "/events_delta")
    for etype in _BATCH_TYPES:
        table.write(
            narrow.filter(F.col("event_type") == etype).coalesce(1)
        )
    _m, adds_before = table._snapshot_state(None)
    table.widen_column_type("user_id", "long")
    table.widen_column_type("value", "double")
    meta, adds_after, proto = table._snapshot_state_full(None)
    untouched = int(
        {a["path"] for a in adds_before} == {a["path"] for a in adds_after}
    )
    fenced = int(
        proto["minReaderVersion"] == 3
        and "typeWidening" in (proto.get("readerFeatures") or [])
        and "typeWidening" in (proto.get("writerFeatures") or [])
    )
    table.write(
        narrow.filter(F.col("event_type") == "view")
        .select(
            "event_id",
            (F.col("user_id").cast("long") + 5000000000).alias("user_id"),
            F.lit("view_wide").alias("event_type"),
            (F.col("value").cast("double") * 2).alias("value"),
        )
        .coalesce(1)
    )
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("user_id").alias("max_user"),
        dsum("value").alias("total_value"),
        F.lit(untouched).cast("long").alias("files_untouched"),
        F.lit(fenced).cast("long").alias("reader_feature_fenced"),
    )


@register(
    "delta_merge_schema_evolution_audit",
    oracle=f"""
WITH merged AS (
  SELECT event_type,
         CASE WHEN event_type = 'view'
              THEN 'ch' || CAST(user_id % 3 AS VARCHAR) END AS channel,
         CASE WHEN event_type = 'view' THEN value * 2 ELSE value END AS value
  FROM events WHERE event_type IN {_BATCH_TYPES!r}
  UNION ALL
  SELECT 'purchase_new' AS event_type,
         'ch' || CAST(user_id % 3 AS VARCHAR) AS channel,
         value * 3 AS value
  FROM events WHERE event_type = 'purchase'
)
SELECT event_type, channel, count(*) AS n,
       {sql_dsum("value")} AS total_value
FROM merged GROUP BY event_type, channel
""",
    doc="MERGE with schema evolution behind a correctness row "
    "(delta-spark's withSchemaEvolution): the source carries a column "
    "the target never had ('channel'), and ONE merge commit both "
    "evolves the schema (a metaData action riding the MERGE itself — "
    "no separate ALTER) and runs the clause lattice: WHEN MATCHED "
    "UPDATE * doubles every view's value and lands its channel, WHEN "
    "NOT MATCHED INSERT * adds purchase-derived rows under fresh ids "
    "with tripled values. Every pre-evolution row — untouched files "
    "AND copied rows inside rewritten files — reads NULL for the new "
    "column (the files predate it; the schema-directed scan "
    "null-fills, nothing rewrites beyond the merge's own touch set). "
    "The oracle replays the exact lattice from raw events; the NULL "
    "channel groups pin the null-fill to the value level. At 100 TB "
    "this is how a pipeline absorbs an upstream schema change "
    "mid-merge: one commit, O(touched files) data movement, zero "
    "backfill.",
    tags=("delta", "merge", "schema-evolution", "clauses"),
)
def delta_merge_schema_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _forked_delta_table(spark, sf_dir, "mergevo")
    events = load_table(spark, sf_dir, "events")
    channel = F.concat(
        F.lit("ch"), (F.col("user_id") % 3).cast("string")
    ).alias("channel")
    view = events.filter(F.col("event_type") == "view").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
        channel,
    )
    fresh = events.filter(F.col("event_type") == "purchase").select(
        (F.col("event_id") + 10**9).alias("event_id"),
        "ts",
        "user_id",
        F.lit("purchase_new").alias("event_type"),
        (F.col("value") * 3).alias("value"),
        channel,
    )
    (
        table.merge_into(
            view.unionByName(fresh), "target.event_id = source.event_id"
        )
        .when_matched_update()
        .when_not_matched_insert()
        .with_schema_evolution()
        .execute(spark)
    )
    return table.read(spark).groupBy("event_type", "channel").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
    )


@register(
    "delta_variant_events_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS total_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(1 AS BIGINT) AS reader_fenced
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'click'
           AND CAST(json_extract_string(props, '$.k') AS BIGINT) < 10)
GROUP BY event_type
""",
    doc="VARIANT columns end to end (spec reader-writer feature "
    "variantType; Spark 4's open-ended semi-structured type): the raw "
    "Kafka-style JSON payload (events.props) lands as a real VARIANT "
    "column via parse_json — no schema declared up front, unlike the "
    "silver layer's from_json struct — and the commit fences BOTH "
    "protocol sides (reader v3 + variantType, flag-checked) because "
    "the parquet VARIANT logical type is unreadable to a plain-column "
    "client; this engine's own pyarrow surfaces (to_pandas, pydelta) "
    "refuse it loudly and per-file stats honestly degrade to "
    "numRecords-only (pyarrow cannot even open such footers — counted "
    "Spark-side instead, so metrics stay exact). A deletion-vector "
    "DELETE then filters ON the variant payload "
    "(variant_get(v,'$.k') < 10), and the read aggregates extracted "
    "fields per type. The oracle replays everything from the raw JSON "
    "strings with DuckDB's json functions — green certifies encode, "
    "fence, DV-on-variant, and typed extraction agree to the value "
    "level. At 100 TB variant is the bronze-layer shape for payloads "
    "whose schema drifts weekly: ingest never breaks, extraction is "
    "typed per query, and shredding stays an optimization, not a "
    "prerequisite.",
    tags=("delta", "variant", "semi-structured", "deletion-vectors",
          "parse"),
)
def delta_variant_events_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpvariant_") + "/events_delta")
    table.write(
        events.select(
            "event_id",
            "event_type",
            F.parse_json(F.col("props")).alias("payload"),
        ).repartition(2)
    )
    table.delete(
        spark,
        "event_type = 'click' AND "
        "variant_get(payload, '$.k', 'long') < 10",
    )
    _m, _a, proto = table._snapshot_state_full(None)
    fenced = int(
        proto["minReaderVersion"] == 3
        and "variantType" in (proto.get("readerFeatures") or [])
        and "variantType" in (proto.get("writerFeatures") or [])
    )
    k = F.try_variant_get(F.col("payload"), "$.k", "long")
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("total_k"),
        F.max(k).alias("max_k"),
        F.lit(fenced).cast("long").alias("reader_fenced"),
    )


@register(
    "pyds_variant_shredded_audit",
    oracle=f"""
SELECT event_type AS t, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS total_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(sum(user_id * 2) AS BIGINT) AS total_u2
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="SHREDDED variant read through the pydelta source (spec "
    "reader-writer feature variantShredding, parquet-format "
    "VariantShredding.md): the enriched JSON payload lands as a VARIANT "
    "column stored in the shredded physical layout — group "
    "{metadata, value, typed_value{k, t, u2}} with the binary value "
    "slots null and the typed leaves carrying the data — behind a "
    "protocol fenced on both sides (reader v3, variantType + "
    "variantShredding). The pydelta read declares "
    ".schema('... payload struct<k: long, t: string, u2: long>') and "
    "the executors serve the typed paths STRAIGHT from the typed_value "
    "columns: column-pruned ordinary parquet reads, no variant binary "
    "ever decoded (residual binaries refuse loudly — "
    "sources/shredding.py). The oracle replays the same aggregates "
    "from the raw JSON strings. At 100 TB this is what makes variant "
    "columns queryable OUTSIDE the JVM: the hot typed paths cost what "
    "struct columns cost, and non-Spark consumers (this engine's "
    "pyarrow surfaces, Python ML pipelines) read them directly.",
    tags=("delta", "variant", "shredding", "python-datasource"),
)
def pyds_variant_shredded_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds
    from ..sources.shredding import write_shredded_variant_table_dist

    events = load_table(spark, sf_dir, "events")
    enriched = events.filter(F.col("event_type").isin(*_BATCH_TYPES)).select(
        "event_id",
        F.to_json(
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k"),
                F.col("event_type").alias("t"),
                (F.col("user_id") * 2).alias("u2"),
            )
        ).alias("payload"),
    )
    # staged EXECUTOR-SIDE (mapInArrow, one staged file per partition;
    # the driver sees one metadata row per file). File count scales
    # with the input's scan partitioning (floor 4 so the read path
    # always exercises multi-file planning) — a fixed count would cap
    # both the staging write and the audited read at that parallelism
    n_files = max(4, enriched.rdd.getNumPartitions())
    dt = write_shredded_variant_table_dist(
        tempfile.mkdtemp(prefix="cpshred_") + "/ev_shred",
        enriched.repartition(n_files),
        "payload",
        {"k": "long", "t": "string", "u2": "long"},
    )
    pyds.register(spark)
    read = (
        spark.read.format("pydelta")
        .option("path", dt.path)
        .schema("event_id long, payload struct<k: long, t: string, u2: long>")
        .load()
    )
    return read.groupBy(F.col("payload.t").alias("t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("payload.k").alias("total_k"),
        F.max("payload.k").alias("max_k"),
        F.sum("payload.u2").alias("total_u2"),
    )


@register(
    "delta_convert_parquet_audit",
    oracle=f"""
SELECT o_orderpriority, count(*) AS n,
       {sql_dsum("o_totalprice")} AS total_price,
       CAST(1 AS BIGINT) AS converted_in_place,
       CAST(1 AS BIGINT) AS convert_is_v0
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
GROUP BY o_orderpriority
""",
    doc="CONVERT TO DELTA behind a correctness row (delta-spark's "
    "in-place conversion of a legacy parquet lake): the orders table's "
    "raw parquet is copied into a plain directory, convert_from_parquet "
    "writes a _delta_log whose v0 commit REFERENCES those exact files "
    "with footer-derived per-file stats — the flag pins that every "
    "original file is still there under its original name, zero bytes "
    "moved — and the converted table immediately lives a native "
    "afterlife: a deletion-vector DELETE of cheap finished orders "
    "commits roaring bitmaps against the never-rewritten originals. "
    "The oracle recomputes the post-delete contents from raw orders. "
    "At 100 TB this is the migration path: a legacy lake joins ACID "
    "for one footer read per file, and day-two operations (DELETE, "
    "OPTIMIZE, time travel) need no rewrite of history.",
    tags=("delta", "convert", "metadata", "deletion-vectors",
          "lakehouse"),
)
def delta_convert_parquet_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    lake = tempfile.mkdtemp(prefix="cpconvert_") + "/orders_lake"
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "orders.parquet"),
        os.path.join(lake, "orders.parquet"),
    )
    table = DeltaTable.convert_from_parquet(lake, spark=spark)
    _m, adds = table._snapshot_state(None)
    in_place = int(
        {a["path"] for a in adds} == {"orders.parquet"}
        and os.path.exists(os.path.join(lake, "orders.parquet"))
    )
    is_v0 = int(table.latest_version() == 0)
    table.delete(spark, "o_orderstatus = 'F' AND o_totalprice < 50000")
    return table.read(spark).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total_price"),
        F.lit(in_place).cast("long").alias("converted_in_place"),
        F.lit(is_v0).cast("long").alias("convert_is_v0"),
    )


@register(
    "delta_v2_checkpoint_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS one_manifest,
       CAST(3 AS BIGINT) AS n_sidecars,
       CAST(1 AS BIGINT) AS reader_fenced,
       CAST(1 AS BIGINT) AS expired_travel_fails
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'error' AND value < 25)
GROUP BY event_type
""",
    doc="V2 checkpoints end to end (spec reader-writer feature "
    "v2Checkpoints — the scale successor to classic multi-part): five "
    "commits, then checkpoint(v2=True) auto-fences the protocol "
    "(flag-checked: a sidecar-unaware reader would see a checkpoint "
    "with no add rows and silently report an EMPTY table — the exact "
    "misread the fence exists to prevent) and writes one UUID-named "
    "MANIFEST carrying checkpointMetadata + protocol/metaData/txn/"
    "domain state plus sidecar pointers, with the add/remove file "
    "state sharded round-robin across three _sidecars/ parquet files. "
    "A post-checkpoint DV DELETE lands in the JSON tail, "
    "cleanup_metadata expires the pre-checkpoint prefix, and the "
    "re-read must reconstruct state from manifest + sidecars + tail "
    "alone; travel to an expired version fails loudly. The oracle "
    "recomputes the surviving rows from raw events. At 100 TB the "
    "manifest stays KBs no matter how many million files the table "
    "holds, sidecars fetch in parallel and are REUSED across "
    "checkpoints (reference-based GC, test-pinned), and planning cost "
    "stays O(recent commits).",
    tags=("delta", "checkpoint", "v2-checkpoints", "metadata",
          "deletion-vectors"),
)
def delta_v2_checkpoint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    table = _build_delta_table(spark, sf_dir)  # v0..v4
    table.checkpoint(spark, v2=True, sidecar_files=3)  # fence v5, cp@5
    table.delete(spark, "event_type = 'error' AND value < 25")  # v6
    table.cleanup_metadata(retention_ms=0, force=True)
    log = os.path.join(table.path, "_delta_log")
    manifests = _glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    sidecars = [
        n
        for n in os.listdir(os.path.join(log, "_sidecars"))
        if n.endswith(".parquet")
    ]
    _m, _a, proto = table._snapshot_state_full(None)
    fenced = int("v2Checkpoints" in (proto.get("readerFeatures") or []))
    try:
        table.read(spark, version=1)
        travel_fails = 0
    except ValueError:
        travel_fails = 1
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(len(manifests)).cast("long").alias("one_manifest"),
        F.lit(len(sidecars)).cast("long").alias("n_sidecars"),
        F.lit(fenced).cast("long").alias("reader_fenced"),
        F.lit(travel_fails).cast("long").alias("expired_travel_fails"),
    )


@register(
    "delta_identity_column_audit",
    oracle=f"""
WITH c AS (SELECT count(*) AS n FROM events WHERE event_type = 'click'),
     p AS (SELECT count(*) AS n FROM events WHERE event_type = 'purchase')
SELECT 'click' AS event_type, c.n AS n,
       CAST(1000 AS BIGINT) AS min_rid,
       990 + 10 * c.n AS max_rid,
       CAST(1 AS BIGINT) AS ids_unique,
       CAST(1 AS BIGINT) AS explicit_refused
FROM c
UNION ALL
SELECT 'purchase' AS event_type, p.n AS n,
       1000 + 10 * c.n AS min_rid,
       990 + 10 * (c.n + p.n) AS max_rid,
       CAST(1 AS BIGINT) AS ids_unique,
       CAST(1 AS BIGINT) AS explicit_refused
FROM c, p
""",
    doc="Identity columns end to end (spec writer feature "
    "identityColumns; delta-spark's GENERATED ALWAYS AS IDENTITY): the "
    "table is created with row_id = IDENTITY(start 1000, step 10) as "
    "field metadata, two appends OMIT the column entirely and the "
    "writer allocates values on the hwm + k*step lattice with ZERO "
    "coordination (monotonic row ids within the job; the new "
    "highWaterMark is read back from the staged files' own footer "
    "stats and committed in the SAME metaData action — which also "
    "makes concurrent identity writes surface ConcurrentWriteError "
    "instead of blind-retrying into collisions). An explicit insert "
    "of the column is REFUSED (flag), ids are globally unique (flag), "
    "and the per-batch min/max land exactly where start/step/counts "
    "predict — the oracle derives them from raw event counts alone. "
    "At 100 TB allocation is per-row arithmetic on data already in "
    "flight: no sequence service, no global ordering, no extra scan.",
    tags=("delta", "identity", "metadata", "write"),
)
def delta_identity_column_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpident_") + "/events_delta")
    table.create(
        T.StructType(
            [
                T.StructField("row_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        identity_columns={"row_id": (1000, 10)},
    )
    for etype in ("click", "purchase"):
        table.write(
            events.filter(F.col("event_type") == etype)
            .select("event_id", "event_type", "value")
            .coalesce(1)
        )
    try:
        table.write(
            events.limit(1).select(
                F.lit(1).cast("long").alias("row_id"),
                "event_id",
                "event_type",
                "value",
            )
        )
        refused = 0
    except ValueError:
        refused = 1
    got = table.read(spark)
    n_tot = got.count()
    n_distinct = got.select("row_id").distinct().count()
    unique = int(n_tot == n_distinct)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("row_id").alias("min_rid"),
        F.max("row_id").alias("max_rid"),
        F.lit(unique).cast("long").alias("ids_unique"),
        F.lit(refused).cast("long").alias("explicit_refused"),
    )


@register(
    "delta_nested_skipping_audit",
    oracle="""
WITH v AS (SELECT value FROM events WHERE event_type = 'view'),
     q AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM v),
     hi AS (SELECT CAST(max(cents) AS DOUBLE) * 0.9 AS cut FROM q)
SELECT count(*) AS n_rows,
       CAST(3 AS BIGINT) AS files_total,
       CAST(1 AS BIGINT) AS files_scanned,
       CAST(1 AS BIGINT) AS stats_nested
FROM q, hi WHERE q.cents >= hi.cut
""",
    doc="Nested data skipping behind a correctness row: view events land "
    "as struct<cents,label> rows RANGE-SORTED into 3 files on the "
    "nested field (repartitionByRange — each file carries a narrow "
    "s.cents span in its NESTED stats, the spec's {\"s\":{\"cents\":..}} "
    "shape), then read(where='s.cents >= cut') must list EXACTLY the "
    "one file whose span reaches the top decile — proved via "
    "inputFiles(), the log-level prune, not parquet row-group "
    "pruning — and return the exact row count the oracle recomputes "
    "from raw events. At 100 TB this is why clustering on a nested "
    "key is worth anything: the stats and the prune follow the key "
    "into the struct.",
    tags=("delta", "pushdown", "statistics", "metadata"),
)
def delta_nested_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpnest_") + "/events_delta")
    views = events.filter(F.col("event_type") == "view").select(
        F.struct(
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            F.col("event_type").alias("label"),
        ).alias("s"),
        "event_id",
    )
    table.write(
        views.repartitionByRange(3, F.col("s.cents")).sortWithinPartitions(
            F.col("s.cents")
        )
    )
    _m, adds = table._snapshot_state(None)
    import json as _json

    stats_nested = int(
        all(
            isinstance(
                _json.loads(a["stats"])["minValues"].get("s"), dict
            )
            for a in adds
        )
    )
    cut = float(
        table.read(spark).agg(F.max("s.cents")).first()[0]
    ) * 0.9
    pruned = table.read(spark, where=f"s.cents >= {cut}")
    files_scanned = len(pruned.inputFiles())
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(adds)).cast("long").alias("files_total"),
        F.lit(files_scanned).cast("long").alias("files_scanned"),
        F.lit(stats_nested).cast("long").alias("stats_nested"),
    )


@register(
    "delta_maintenance_lifecycle_audit",
    oracle="""
WITH c AS (SELECT count(*) AS n FROM events WHERE event_type = 'click'),
     e AS (SELECT count(*) AS n FROM events WHERE event_type = 'error'),
     p AS (SELECT count(*) AS n FROM events WHERE event_type = 'purchase')
SELECT 'rows_after_fsck' AS check_name, e.n + p.n AS value FROM e, p
UNION ALL
SELECT 'auto_checkpoints', CAST(2 AS BIGINT)
UNION ALL
SELECT 'fsck_dropped_files', CAST(1 AS BIGINT)
UNION ALL
SELECT 'identity_hwm_synced', CAST(1 AS BIGINT)
UNION ALL
SELECT 'scan_failed_before_fsck', CAST(1 AS BIGINT)
""",
    doc="The table-maintenance lifecycle as ONE driver-checked row set: "
    "(1) delta.checkpointInterval=2 auto-writes classic checkpoints on "
    "every second commit — the audit counts the checkpoint files the "
    "policy produced (2 across 5 commits, no explicit checkpoint() "
    "call anywhere); (2) a data file is deleted OUTSIDE the log "
    "(simulated external loss), the scan fails loudly, and FSCK REPAIR "
    "drops exactly the one missing entry so the table reads again with "
    "the surviving rows; (3) SYNC IDENTITY recomputes the identity "
    "high-water mark from the post-fsck data and the recorded mark "
    "equals max(row_id). Oracle pins the surviving row count from raw "
    "events plus the exact policy/repair counts. This is the "
    "operational arc a real table owner runs — policy, corruption, "
    "repair — compressed into one deterministic audit.",
    tags=("delta", "metadata", "vacuum", "identity", "checkpoint"),
)
def delta_maintenance_lifecycle_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmaint_") + "/events_delta")
    table.create(
        T.StructType(
            [
                T.StructField("row_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        ),
        identity_columns={"row_id": (1, 1)},
    )  # v0
    table.set_table_properties({"delta.checkpointInterval": "2"})  # v1
    for etype in ("click", "error", "purchase"):  # v2, v3, v4
        table.write(
            events.filter(F.col("event_type") == etype)
            .select("event_id", "event_type")
            .coalesce(1)
        )
    n_ckpts = len(
        [
            n
            for n in os.listdir(os.path.join(table.path, "_delta_log"))
            if n.endswith(".checkpoint.parquet")
        ]
    )  # v2 and v4 -> 2
    # external loss: the click file vanishes outside the log
    # (deterministic victim — staged names embed the version, so the
    # lexicographically-first path is commit v2's = the click batch)
    _m, adds = table._snapshot_state(None)
    victim = sorted(a["path"] for a in adds)[0]
    os.remove(os.path.join(table.path, victim))
    try:
        table.read(spark).count()
        scan_failed = 0
    except Exception:
        scan_failed = 1
    _v, missing = table.fsck_repair(spark=spark)
    table.sync_identity(spark)
    got = table.read(spark)
    n_rows = got.count()
    hwm = table._identity_columns(table._snapshot_state(None)[0])[
        "row_id"
    ]["highWaterMark"]
    max_id = got.agg(F.max("row_id")).first()[0]
    rows = [
        ("rows_after_fsck", n_rows),
        ("auto_checkpoints", n_ckpts),
        ("fsck_dropped_files", len(missing)),
        ("identity_hwm_synced", int(hwm == max_id)),
        ("scan_failed_before_fsck", scan_failed),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


@register(
    "delta_optimize_where_audit",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(CASE WHEN event_type IN ('click', 'view')
            THEN 1 ELSE 3 END AS BIGINT) AS n_files,
       CAST(1 AS BIGINT) AS untouched_preserved
FROM events
WHERE event_type IN ('click', 'error', 'view')
GROUP BY event_type
""",
    doc="OPTIMIZE ... WHERE (delta-spark's partition-scoped compaction "
    "— the shape a petabyte table is maintained in: compact "
    "yesterday's partition, never the archive): each of three "
    "event_type partitions lands as 3 small files; the predicate "
    "event_type IN ('click','view') compacts exactly those two to one "
    "file each, evaluated with FULL SQL semantics over the typed "
    "distinct partition tuples (never file stats, never a scan of "
    "non-matching partitions). The audit reports per-partition row "
    "counts (unchanged — dataChange=false rewrite), the post-OPTIMIZE "
    "file count per partition (1 for matched, 3 for unmatched), and a "
    "flag that the unmatched partition's ORIGINAL add entries survived "
    "byte-identical — untouched partitions are not read, rewritten, or "
    "even listed in the commit.",
    tags=("delta", "layout", "partitioned", "metadata"),
)
def delta_optimize_where_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpoptw_") + "/events_delta")
    types = ("click", "error", "view")
    for etype in types:
        df = (
            events.filter(F.col("event_type") == etype)
            .select(*_EVENT_COLS)
            .repartition(3)
        )
        table.write(df, partition_by=["event_type"])
    _m, before = table._snapshot_state(None)
    error_adds_before = {
        a["path"] for a in before if "event_type=error" in a["path"]
    }
    table.compact(
        spark, where="event_type IN ('click', 'view')", target_files=1
    )
    _m, after = table._snapshot_state(None)
    files_per = {t: 0 for t in types}
    for a in after:
        for t in types:
            if f"event_type={t}" in a["path"]:
                files_per[t] += 1
    error_adds_after = {
        a["path"] for a in after if "event_type=error" in a["path"]
    }
    preserved = int(error_adds_before == error_adds_after)
    files_col = F.create_map(
        *[x for t in types for x in (F.lit(t), F.lit(files_per[t]))]
    )
    return (
        table.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "n",
            F.element_at(files_col, F.col("event_type"))
            .cast("long")
            .alias("n_files"),
            F.lit(preserved).cast("long").alias("untouched_preserved"),
        )
    )


@register(
    "delta_merge_identity_audit",
    oracle="""
WITH c AS (SELECT count(*) AS n FROM events WHERE event_type = 'click'),
     e AS (SELECT count(*) AS n FROM events WHERE event_type = 'error')
SELECT 'append' AS batch, c.n AS n,
       CAST(1 AS BIGINT) AS on_lattice,
       CAST(1 AS BIGINT) AS unique_ids,
       CAST(1 AS BIGINT) AS above_floor,
       CAST(1 AS BIGINT) AS hwm_synced,
       CAST(1 AS BIGINT) AS explicit_refused
FROM c
UNION ALL
SELECT 'merge_insert', e.n, 1, 1, 1, 1, 1 FROM e
""",
    doc="MERGE INSERT into a GENERATED ALWAYS AS IDENTITY table: rows "
    "arriving through WHEN NOT MATCHED INSERT (which omits the identity "
    "column) get values allocated on the hwm + k*step lattice with the "
    "same zero-coordination arithmetic as write(), and the merge "
    "commit's OWN metaData records the advanced highWaterMark — a "
    "subsequent writer (or an OCC retry) resumes above it, never into "
    "a collision. The audit appends clicks, merge-inserts every error "
    "row (none match on event_id), then checks per batch: counts, "
    "lattice membership of every id, global uniqueness, inserted ids "
    "strictly above the pre-merge hwm, post-merge hwm == max id in the "
    "table, and an insert clause that names the identity column is "
    "REFUSED. Exact id values are deliberately NOT pinned: allocation "
    "is per-partition arithmetic (gaps are spec-legal), which is "
    "precisely what makes it coordination-free at 1000 executors.",
    tags=("delta", "identity", "merge", "upsert"),
)
def delta_merge_identity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmident_") + "/events_delta")
    table.create(
        T.StructType(
            [
                T.StructField("row_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        ),
        identity_columns={"row_id": (1000, 10)},
    )
    table.write(
        events.filter(F.col("event_type") == 'click')
        .select("event_id", "event_type")
        .coalesce(1)
    )
    hwm0 = table._identity_columns(table._snapshot_state(None)[0])[
        "row_id"
    ]["highWaterMark"]
    errors = events.filter(F.col("event_type") == 'error').select(
        "event_id", "event_type"
    )
    try:
        table.merge_into(errors, "target.event_id = source.event_id") \
            .when_not_matched_insert(
                values={"row_id": "1", "event_id": "source.event_id",
                        "event_type": "source.event_type"}
            ).execute(spark)
        refused = 0
    except ValueError:
        refused = 1
    table.merge_into(errors, "target.event_id = source.event_id") \
        .when_not_matched_insert(
            values={"event_id": "source.event_id",
                    "event_type": "source.event_type"}
        ).execute(spark)
    got = table.read(spark)
    hwm1 = table._identity_columns(table._snapshot_state(None)[0])[
        "row_id"
    ]["highWaterMark"]
    max_id = got.agg(F.max("row_id")).first()[0]
    return (
        got.groupBy(
            F.when(F.col("row_id") <= hwm0, "append")
            .otherwise("merge_insert")
            .alias("batch")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("row_id").alias("mn"),
            F.min(
                ((F.col("row_id") - 1000) % 10 == 0).cast("long")
            ).alias("on_lattice"),
            F.countDistinct("row_id").alias("nd"),
        )
        .select(
            "batch",
            "n",
            "on_lattice",
            (F.col("nd") == F.col("n")).cast("long").alias("unique_ids"),
            F.when(
                F.col("batch") == "append",
                (F.col("mn") >= 1000).cast("long"),
            )
            .otherwise((F.col("mn") > hwm0).cast("long"))
            .alias("above_floor"),
            F.lit(1 if hwm1 == max_id else 0).cast("long").alias(
                "hwm_synced"
            ),
            F.lit(refused).cast("long").alias("explicit_refused"),
        )
    )


@register(
    "delta_default_columns_audit",
    oracle="""
WITH c AS (SELECT count(*) AS n FROM events WHERE event_type = 'click'),
     p AS (SELECT count(*) AS n FROM events WHERE event_type = 'purchase'),
     v AS (SELECT count(*) AS n FROM events WHERE event_type = 'view'),
     s AS (SELECT count(*) AS n FROM events WHERE event_type = 'signup')
SELECT * FROM (
  SELECT 'pending' AS status, CAST(5 AS BIGINT) AS priority, c.n AS n,
         CAST(1 AS BIGINT) AS refused_new_col FROM c
  UNION ALL
  SELECT 'settled', 1, p.n, 1 FROM p
  UNION ALL
  SELECT 'queued', 5, v.n, 1 FROM v
  UNION ALL
  SELECT 'queued', -1, s.n, 1 FROM s
) ORDER BY status, priority
""",
    doc="Column DEFAULT values end to end (spec writer feature "
    "allowColumnDefaults; delta-spark's `col TYPE DEFAULT expr`): the "
    "table is created with status DEFAULT 'pending' and priority "
    "DEFAULT 5 as CURRENT_DEFAULT field metadata behind a v7 writer "
    "fence (a defaults-unaware writer must refuse, not null-fill). An "
    "insert omitting both columns materializes the defaults into the "
    "staged files BEFORE constraint checks; an explicit insert wins "
    "over the default; ALTER COLUMN SET DEFAULT re-points future "
    "omissions without touching history ('queued' batch); DROP DEFAULT "
    "reverts omissions to NULL (the -1 coalesce group); and attaching "
    "a default to a column that does not exist is REFUSED (flag) — "
    "ADD COLUMN ... DEFAULT would imply backfilling history, which no "
    "spec writer does. The oracle rebuilds every (status, priority) "
    "cohort from raw event counts alone. At 100 TB the default is a "
    "row-local expression evaluated on data already in flight: zero "
    "extra scans, zero backfill, history immutable.",
    tags=("delta", "default-columns", "metadata", "write"),
)
def delta_default_columns_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpdflt_") + "/events_delta")
    table.create(
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("status", T.StringType()),
                T.StructField("priority", T.LongType()),
            ]
        ),
        column_defaults={"status": "'pending'", "priority": "5"},
    )
    def batch(etype):
        return events.filter(F.col("event_type") == etype).select("event_id")

    table.write(batch("click"))  # omits both -> 'pending', 5
    table.write(
        batch("purchase").select(
            "event_id",
            F.lit("settled").alias("status"),
            F.lit(1).cast("long").alias("priority"),
        )
    )  # explicit values win over the default
    table.set_column_default("status", "'queued'")
    table.write(batch("view"))  # omits both -> 'queued', 5
    table.set_column_default("priority", None)
    table.write(batch("signup"))  # -> 'queued', NULL priority
    try:
        table.set_column_default("severity", "'low'")
        refused = 0
    except ValueError:
        refused = 1
    return (
        table.read(spark)
        .groupBy(
            "status", F.coalesce("priority", F.lit(-1)).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(refused).cast("long").alias("refused_new_col"),
        )
        .orderBy("status", "priority")
    )


@register(
    "delta_drop_feature_audit",
    oracle="""
SELECT event_type,
       CASE WHEN event_type = 'purchase' THEN 2 * count(*)
            ELSE count(*) END AS n,
       CAST(1 AS BIGINT) AS snapshot_refused,
       CAST(1 AS BIGINT) AS history_refused,
       CAST(1 AS BIGINT) AS feature_gone,
       CAST(1 AS BIGINT) AS reader_demoted,
       CAST(1 AS BIGINT) AS travel_expired
FROM events WHERE event_type <> 'error'
GROUP BY event_type ORDER BY event_type
""",
    doc="ALTER TABLE DROP FEATURE end to end (the spec's feature-removal "
    "contract; delta-spark's two-phase DROP FEATURE ... TRUNCATE "
    "HISTORY): a DV DELETE of every 'error' event leaves deletion "
    "vectors in the snapshot, so the drop is REFUSED (flag 1 — a "
    "feature-unaware writer would resurrect the deleted rows); REORG "
    "APPLY (PURGE) materializes survivors but HISTORY still holds DV "
    "commits, so the drop is refused again without truncation (flag 2 — "
    "a legacy reader replaying the log would misread them); "
    "truncate_history=True checkpoints the clean snapshot, expires the "
    "entire log prefix, and commits the downgrade: deletionVectors "
    "leaves both feature lists (flag 3), minReaderVersion demotes to 1 "
    "because the last reader feature is gone — legacy readers regain "
    "the table, the whole point of dropping (flag 4) — and time travel "
    "to the pre-drop version now fails loudly (flag 5, the price "
    "TRUNCATE HISTORY charges). A post-drop append (purchases doubled) "
    "proves the demoted table still lives. The oracle rebuilds the "
    "final counts from raw events. At 100 TB the drop costs one "
    "checkpoint write + O(log) JSON deletes — the data files never "
    "move; only the purge pass touched (and only DV-carrying) files.",
    tags=("delta", "drop-feature", "deletion-vectors", "metadata",
          "lakehouse"),
)
def delta_drop_feature_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpdropf_") + "/events_delta")
    table.write(events.select("event_id", "event_type", "value"))
    table.delete(spark, "event_type = 'error'")
    try:
        table.drop_feature("deletionVectors", spark)
        snap_refused = 0
    except ValueError:
        snap_refused = 1
    table.reorg_purge(spark)
    try:
        table.drop_feature("deletionVectors", spark)
        hist_refused = 0
    except ValueError:
        hist_refused = 1
    table.drop_feature("deletionVectors", spark, truncate_history=True)
    _m, _a, proto = table._snapshot_state_full(None)
    feature_gone = int(
        "deletionVectors" not in (proto.get("writerFeatures") or [])
        and "deletionVectors" not in (proto.get("readerFeatures") or [])
    )
    reader_demoted = int(proto.get("minReaderVersion") == 1)
    try:
        table.read(spark, version=1)
        travel_expired = 0
    except ValueError:
        travel_expired = 1
    table.write(
        events.filter(F.col("event_type") == "purchase").select(
            "event_id", "event_type", "value"
        )
    )
    return (
        table.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(snap_refused).cast("long").alias("snapshot_refused"),
            F.lit(hist_refused).cast("long").alias("history_refused"),
            F.lit(feature_gone).cast("long").alias("feature_gone"),
            F.lit(reader_demoted).cast("long").alias("reader_demoted"),
            F.lit(travel_expired).cast("long").alias("travel_expired"),
        )
        .orderBy("event_type")
    )


@register(
    "delta_mapped_stream_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_amount
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type
""",
    doc="STREAMING read of a column-mapped, renamed table as a "
    "driver-checkable row (round-6 verdict item 3 — X139 was "
    "tests-only): click+view land, column mapping is enabled, 'value' "
    "is renamed to 'amount' (metadata-only — zero bytes rewritten, the "
    "property that matters when the column lives in 100 TB of "
    "parquet), and a purchase append stages files under the NEW "
    "logical name. The table is then drained as a checkpointed STREAM "
    "(S2): the stream schema must surface logical names and reconcile "
    "BOTH file generations through the mapping, per micro-batch, the "
    "same cast path the batch reader uses. The oracle recomputes the "
    "aggregate from raw events, blind to the rename — green certifies "
    "pre-rename files, post-rename files, and the streaming projection "
    "agree to the value level.",
    tags=("delta", "streaming", "column-mapping", "schema-evolution"),
)
def delta_mapped_stream_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmaps_") + "/events_delta")
    table.write(
        events.filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "event_type", "value")
        .coalesce(1)
    )
    table.enable_column_mapping()
    table.rename_column("value", "amount")
    table.write(
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "event_type", F.col("value").alias("amount")
        )
        .coalesce(1)
    )
    root = tempfile.mkdtemp(prefix="cpmaps_out_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                table.read_stream(spark),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="delta_mapped_stream_audit",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("amount").alias("total_amount")
    )


@register(
    "pyds_mapped_stream_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_amount
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type
""",
    doc="ID-MODE column mapping through the pydelta LOG-TAILING stream "
    "source (round-6 verdict item 3 — X140 was tests-only): the table "
    "is CREATED in id mode (columns resolve by parquet field id, the "
    "layout Iceberg-compat converts produce — a name-matching reader "
    "would misread it), takes click+view, renames 'value' to 'amount' "
    "(field ids are what make this metadata-only), then appends "
    "purchases under the new logical name. The pydelta stream tails "
    "the log commit-by-commit; every executor resolves its file's "
    "columns through the FOOTER field ids, both file generations "
    "reconciling to logical names per micro-batch. The oracle "
    "recomputes from raw events, blind to mapping and rename.",
    tags=("delta", "streaming", "python-datasource", "column-mapping"),
)
def pyds_mapped_stream_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources import pyds

    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cppydsm_") + "/events_delta")
    table.create(
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        mapping_mode="id",
    )
    table.write(
        events.filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "event_type", "value")
        .coalesce(1)
    )
    table.rename_column("value", "amount")
    table.write(
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "event_type", F.col("value").alias("amount"))
        .coalesce(1)
    )
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cppydsm_out_")
    out_path = os.path.join(root, "out")
    with scoped_shuffle_partitions(spark):
        drain(
            start_parquet_stream(
                spark.readStream.format("pydelta")
                .option("path", table.path)
                .load(),
                path=out_path,
                checkpoint=os.path.join(root, "ckpt"),
                query_name="pyds_mapped_stream_audit",
            )
        )
    drained = spark.read.parquet(out_path)
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("amount").alias("total_amount")
    )


@register(
    "delta_vacuum_protocol_audit",
    oracle="""
SELECT event_type, count(*) AS n,
       1 AS feature_fenced_mid, 1 AS vacuum_reclaimed,
       1 AS feature_gone_after_drop, 1 AS reader_demoted
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type
""",
    doc="vacuumProtocolCheck LIFECYCLE as a driver-checkable row "
    "(round-6 verdict item 3 — X181 was tests-only): click lands, the "
    "reader-writer feature is enabled (reader v3 + both feature "
    "lists), view appends and an OPTIMIZE compaction run UNDER the "
    "fence, VACUUM(0) — which per the feature must consult the WRITER "
    "protocol before deleting — reclaims the superseded pre-compaction "
    "files, the behavioral feature is DROPPED (no history truncation "
    "needed: it leaves no log traces), the protocol demotes to reader "
    "v1, and purchases append post-drop. Flags assert each lifecycle "
    "stage; row counts prove no data was harmed at any stage. The "
    "vacuum-refuses-unknown-writer-feature half of the contract is "
    "pytest-pinned (a registered query can't commit a foreign "
    "protocol).",
    tags=("delta", "protocol-features", "vacuum", "maintenance"),
)
def delta_vacuum_protocol_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpvpc_") + "/events_delta")
    table.write(
        events.filter(F.col("event_type") == "click")
        .select("event_id", "event_type", "value")
        .repartition(2)
    )
    table.enable_vacuum_protocol_check()
    _m, _a, proto = table._snapshot_state_full(None)
    feature_fenced_mid = int(
        "vacuumProtocolCheck" in (proto.get("readerFeatures") or [])
        and "vacuumProtocolCheck" in (proto.get("writerFeatures") or [])
        and proto.get("minReaderVersion") == 3
    )
    table.write(
        events.filter(F.col("event_type") == "view")
        .select("event_id", "event_type", "value")
        .repartition(2)
    )
    table.compact(spark)
    vacuum_reclaimed = int(len(table.vacuum(retention_ms=0, force=True)) > 0)
    table.drop_feature("vacuumProtocolCheck")
    _m, _a, proto = table._snapshot_state_full(None)
    feature_gone = int(
        "vacuumProtocolCheck" not in (proto.get("writerFeatures") or [])
        and "vacuumProtocolCheck" not in (proto.get("readerFeatures") or [])
    )
    reader_demoted = int(proto.get("minReaderVersion") == 1)
    table.write(
        events.filter(F.col("event_type") == "purchase").select(
            "event_id", "event_type", "value"
        )
    )
    return (
        table.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(feature_fenced_mid).alias("feature_fenced_mid"),
            F.lit(vacuum_reclaimed).alias("vacuum_reclaimed"),
            F.lit(feature_gone).alias("feature_gone_after_drop"),
            F.lit(reader_demoted).alias("reader_demoted"),
        )
    )


@register(
    "pyds_rate_limit_audit",
    oracle="""
SELECT event_type, count(*) AS n,
       1 AS bounded_batches, 1 AS multiple_batches
FROM events
WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
  AND event_id % 4 = 0
GROUP BY event_type
""",
    doc="maxFilesPerTrigger admission control on the pydelta stream "
    "source, end to end (round-6 verdict item 3 — X163 was "
    "tests-only): click lands as v0, a continuous stream with "
    "maxFilesPerTrigger=2 starts and drains it (the FIRST batch of a "
    "run is unbounded — the Python DS API calls latestOffset before "
    "initialOffset, documented in the reader), then four more "
    "single-file commits land. Every later micro-batch may admit at "
    "most 2 files' worth of whole commits, so the four commits need "
    ">=2 further batches, and no post-first batch exceeds the two "
    "largest commits' combined rows — both observed from the live "
    "query's progress log, not assumed. This is the admission control "
    "that keeps steady-state tailing from ballooning at 100 TB: a "
    "burst of commits drains as several bounded batches instead of "
    "one huge one whose shuffle must fit in memory at once. Row "
    "counts per type prove exactly-once was never traded for "
    "admission (event_id % 4 thins the slices so the audit stays "
    "cheap at every SF).",
    tags=("delta", "streaming", "python-datasource", "rate-limiting"),
)
def pyds_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    from ..sources import pyds

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 4 == 0
    )

    def slice_of(etype: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .select("event_id", "event_type", "value")
            .coalesce(1)
        )

    counts = {
        e: slice_of(e).count()
        for e in ("click", "error", "purchase", "signup", "view")
    }
    table = DeltaTable(tempfile.mkdtemp(prefix="cprate_") + "/events_delta")
    table.write(slice_of("click"))  # v0: consumed by the unbounded batch
    pyds.register(spark)
    root = tempfile.mkdtemp(prefix="cprate_out_")
    out_path = os.path.join(root, "out")

    def rows_in_sink() -> int:
        try:
            return spark.read.parquet(out_path).count()
        except Exception:
            return 0

    def wait_rows(target: int, timeout: float = 120.0) -> None:
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            if rows_in_sink() >= target:
                return
            _time.sleep(0.25)
        raise TimeoutError(
            f"pydelta sink never reached {target} rows "
            f"(has {rows_in_sink()})"
        )

    with scoped_shuffle_partitions(spark):
        q = (
            spark.readStream.format("pydelta")
            .option("path", table.path)
            .option("maxFilesPerTrigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(processingTime="250 milliseconds")
            .queryName("pyds_rate_limit_audit")
            .start()
        )
        try:
            # v0 fully consumed -> the admission cursor is learned;
            # every batch from here on is budget-bounded
            wait_rows(counts["click"])
            for etype in ("error", "purchase", "signup", "view"):
                table.write(slice_of(etype))  # v1..v4, one file each
            wait_rows(sum(counts.values()))
            batch_rows = [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
        finally:
            q.stop()
    # 4 single-file commits / 2-file budget -> >= 2 bounded batches, and
    # none may exceed the two largest commits' combined rows
    post_first = batch_rows[1:]
    two_largest = sum(
        sorted((counts[e] for e in ("error", "purchase", "signup", "view")),
               reverse=True)[:2]
    )
    bounded = int(
        len(post_first) >= 1 and all(n <= two_largest for n in post_first)
    )
    multiple = int(len(post_first) >= 2)
    drained = spark.read.parquet(out_path)
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(bounded).alias("bounded_batches"),
        F.lit(multiple).alias("multiple_batches"),
    )


@register(
    "delta_copy_into_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum("value")} AS total_value,
       CAST(2 AS BIGINT) AS first_ingested,
       CAST(1 AS BIGINT) AS second_ingested,
       CAST(2 AS BIGINT) AS second_skipped,
       CAST(1 AS BIGINT) AS replay_noop,
       CAST(1 AS BIGINT) AS modified_refused
FROM events
GROUP BY event_type
""",
    doc="COPY INTO — file-granularity idempotent ingest "
    "(`DeltaTable.copy_into`): the events table is split into three "
    "landing files; batch 1 loads two of them, batch 2 lists all three "
    "and ingests ONLY the new one (flags pin ingested/skipped counts), "
    "batch 3 is byte-identical and commits NOTHING (the table version "
    "is pinned unchanged — replay safety without even a no-op commit), "
    "and a landing file rewritten after load is REFUSED loudly "
    "(re-ingesting would duplicate its unchanged rows; silently "
    "skipping would drop the changed ones). The loaded-file ledger "
    "(path -> size:mtime fingerprint) lives in the "
    "copyInto.loadedFiles user domain and is committed ATOMICALLY "
    "with the appended data, so there is no crash window between "
    "'rows landed' and 'file marked loaded'; racing COPY INTOs "
    "serialize on a domain-conflict check instead of admitting a file "
    "twice. The oracle recomputes the final contents from raw events — "
    "green means exactly-once held through all four batches. At "
    "100 TB this is the auto-loader contract: ingest cost tracks NEW "
    "files only, and the ledger is one metadata document, not a "
    "per-file log scan.",
    tags=("delta", "copy-into", "ingest", "idempotence", "metadata"),
)
def delta_copy_into_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    land = tempfile.mkdtemp(prefix="cpcopy_") + "/landing"
    os.makedirs(land)
    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = src.num_rows
    cut1, cut2 = n // 3, (2 * n) // 3
    slices = [(0, cut1), (cut1, cut2 - cut1), (cut2, n - cut2)]
    files = []
    for i, (off, ln) in enumerate(slices):
        p = os.path.join(land, f"batch_{i}.parquet")
        pq.write_table(src.slice(off, ln), p)
        files.append(p)

    table = DeltaTable(tempfile.mkdtemp(prefix="cpcopy_") + "/events_delta")
    table.create(spark.read.parquet(files[0]).schema)
    r1 = table.copy_into(spark, files[:2])
    r2 = table.copy_into(spark, files)
    v_settled = table.latest_version()
    r3 = table.copy_into(spark, files)
    replay_noop = int(
        r3["ingested_files"] == 0
        and r3["version"] == v_settled
        and table.latest_version() == v_settled
    )
    # rewrite an already-loaded landing file: the fingerprint changes
    # and the next batch must refuse it loudly, leaving the table as-is
    pq.write_table(src.slice(cut1, 1), files[1])
    try:
        table.copy_into(spark, files)
        modified_refused = 0
    except ValueError:
        modified_refused = int(table.latest_version() == v_settled)
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total_value"),
        F.lit(r1["ingested_files"]).cast("long").alias("first_ingested"),
        F.lit(r2["ingested_files"]).cast("long").alias("second_ingested"),
        F.lit(r2["skipped_files"]).cast("long").alias("second_skipped"),
        F.lit(replay_noop).cast("long").alias("replay_noop"),
        F.lit(modified_refused).cast("long").alias("modified_refused"),
    )


@register(
    "delta_generated_partition_pruning_audit",
    oracle="""
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events
           WHERE ts IS NOT NULL),
r AS (SELECT dt, row_number() OVER (ORDER BY dt) AS rn,
             count(*) OVER () AS n FROM d),
cut AS (SELECT dt FROM r WHERE rn = n // 2 + 1)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, count(*) AS n_rows,
       CAST(1 AS BIGINT) AS derived_ok,
       CAST(1 AS BIGINT) AS partition_pruned,
       CAST(1 AS BIGINT) AS files_skipped
FROM events, cut
WHERE CAST(ts AS DATE) >= cut.dt
GROUP BY 1
""",
    doc="Partition pruning THROUGH a generation expression (delta-spark's "
    "GeneratedColumn partition-filter optimization): the table is "
    "partitioned by event_date GENERATED ALWAYS AS CAST(ts AS DATE), and "
    "a predicate on the SOURCE column — ts >= midnight of the corpus's "
    "median date — derives the prunable event_date >= that date, sound "
    "because every supported transform is monotone non-decreasing "
    "(MONTH alone, which wraps across years, is deliberately not "
    "derivable). The audit pins three facts as flags: the derivation "
    "produced exactly the expected conjunct; partition-values-only "
    "matching (file stats never consulted) keeps exactly the partitions "
    ">= the cut; and at least one file was actually skipped. Row counts "
    "per surviving date are hash-checked against raw events. At 100 TB "
    "this is the difference between listing one day's files and listing "
    "the archive when the user filters on the raw timestamp — the whole "
    "point of generated partition columns.",
    tags=("delta", "generated-columns", "pushdown", "partitioned", "metadata"),
)
def delta_generated_partition_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.delta import (
        _file_may_match,
        _generated_partition_conjuncts,
        _parse_conjuncts,
        _phys_path_fn,
    )

    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    table = DeltaTable(tempfile.mkdtemp(prefix="cpgenpp_") + "/events_delta")
    table.write(
        events,
        partition_by=["event_date"],
        generated_columns={"event_date": "CAST(ts AS DATE)"},
    )
    dates = sorted(
        r[0]
        for r in table.read(spark)
        .select(F.col("event_date").cast("string"))
        .distinct()
        .collect()
    )
    cut = dates[len(dates) // 2]
    where = f"ts >= '{cut} 00:00:00'"

    meta, adds = table._snapshot_state(None)
    part_cols = meta.get("partitionColumns") or []
    conj = _parse_conjuncts(where)
    derived = _generated_partition_conjuncts(conj, meta, part_cols)
    derived_ok = int(derived == [("event_date", ">=", cut)])
    # match on the DERIVED conjunct alone: partition values decide, file
    # stats are never consulted for a partition column
    phys = _phys_path_fn(meta)
    survivors = {
        a["path"] for a in adds if _file_may_match(a, derived, part_cols, phys)
    }
    expected = {
        a["path"]
        for a in adds
        if ((a.get("partitionValues") or {}).get("event_date") or "") >= cut
    }
    partition_pruned = int(survivors == expected)
    files_skipped = int(len(survivors) < len(adds))

    return (
        table.read(spark, where=where)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "event_date",
            "n_rows",
            F.lit(derived_ok).cast("long").alias("derived_ok"),
            F.lit(partition_pruned).cast("long").alias("partition_pruned"),
            F.lit(files_skipped).cast("long").alias("files_skipped"),
        )
    )


@register(
    "delta_scd2_merge_audit",
    oracle="""
WITH ck AS (SELECT c_custkey AS k FROM customer),
cohorts AS (
  SELECT k, CASE WHEN k % 7 = 0 THEN 'updated'
                 WHEN k % 7 = 1 THEN 'touched' ELSE 'rest' END AS cohort
  FROM ck
  UNION ALL
  SELECT k + 10000000, 'new' FROM ck WHERE k % 13 = 0
)
SELECT cohort,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN cohort = 'updated' THEN 2 ELSE 1 END) AS BIGINT)
         AS history_rows,
       count(*) AS current_rows,
       CAST(sum(CASE WHEN cohort = 'updated' THEN 1 ELSE 0 END) AS BIGINT)
         AS closed_rows,
       CAST(1 AS BIGINT) AS one_current_per_key
FROM cohorts GROUP BY cohort
""",
    doc="Slowly-changing-dimension TYPE 2 maintenance through one MERGE — "
    "the canonical lakehouse dimension pattern (Kimball SCD2 as "
    "delta-spark's documented single-merge recipe): the customer "
    "dimension loads with (eff_from, eff_to, is_current) housekeeping, "
    "then a change batch applies as a source UNION of (a) every change "
    "keyed by merge_key = business key — matching CURRENT rows whose "
    "attributes differ get CLOSED (is_current=false, eff_to stamped), "
    "brand-new keys insert — and (b) the changed rows again with "
    "merge_key = NULL, which can never match and therefore inserts the "
    "NEW VERSION; both the close and the open land in the SAME atomic "
    "commit, so no reader ever sees a key with zero or two current "
    "rows. The 'touched' cohort (rows re-sent with UNCHANGED "
    "attributes) pins the no-op discipline: the matched clause's "
    "attribute-differs condition leaves them alone — no spurious "
    "versions, the failure mode naive SCD2 loads suffer. Cohort "
    "expectations (updated: 2 history/1 closed; touched/rest/new: 1/0) "
    "are recomputed from raw customer by the oracle; "
    "one_current_per_key aggregates a per-key current-row count. At "
    "100 TB the merge restages only files holding matched keys "
    "(two-phase file-pruned rewrite) and the change batch is "
    "key-local — the archive of closed versions is never rewritten.",
    tags=("delta", "merge", "upsert", "lakehouse", "metadata"),
)
def delta_scd2_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    table = DeltaTable(tempfile.mkdtemp(prefix="cpscd2_") + "/dim_customer")
    table.write(
        cust.select(
            "c_custkey",
            "c_acctbal",
            F.lit(1).cast("long").alias("eff_from"),
            F.lit(None).cast("long").alias("eff_to"),
            F.lit(True).alias("is_current"),
        )
    )
    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    touch = cust.filter(F.col("c_custkey") % 7 == 1)
    new = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"), "c_acctbal"
    )
    changes = upd.unionByName(touch).unionByName(new)
    current = table.read(spark).filter("is_current")
    changed = (
        changes.alias("s")
        .join(
            current.alias("t"),
            F.col("s.c_custkey") == F.col("t.c_custkey"),
        )
        .filter(F.col("s.c_acctbal") != F.col("t.c_acctbal"))
        .select("s.c_custkey", "s.c_acctbal")
    )
    source = changes.withColumn(
        "merge_key", F.col("c_custkey")
    ).unionByName(
        changed.withColumn("merge_key", F.lit(None).cast("long"))
    )
    (
        table.merge_into(
            source,
            "target.c_custkey = source.merge_key AND target.is_current",
        )
        .when_matched_update(
            set={"is_current": "false", "eff_to": "2"},
            condition="target.c_acctbal <> source.c_acctbal",
        )
        .when_not_matched_insert(
            values={
                "c_custkey": "source.c_custkey",
                "c_acctbal": "source.c_acctbal",
                "eff_from": "2",
                "is_current": "true",
            }
        )
        .execute(spark)
    )
    per_key = (
        table.read(spark)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("hist"),
            F.sum(F.col("is_current").cast("long")).alias("cur"),
            F.sum(
                F.when(F.col("eff_to") == 2, 1).otherwise(0)
            ).alias("closed"),
        )
    )
    cohort = (
        F.when(F.col("c_custkey") >= 10000000, F.lit("new"))
        .when(F.col("c_custkey") % 7 == 0, F.lit("updated"))
        .when(F.col("c_custkey") % 7 == 1, F.lit("touched"))
        .otherwise(F.lit("rest"))
    )
    return (
        per_key.groupBy(cohort.alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("hist").cast("long").alias("history_rows"),
            F.sum("cur").cast("long").alias("current_rows"),
            F.sum("closed").cast("long").alias("closed_rows"),
            ((F.min("cur") == 1) & (F.max("cur") == 1))
            .cast("long")
            .alias("one_current_per_key"),
        )
    )


@register(
    "delta_incremental_mv_refresh_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total,
       CAST(1 AS BIGINT) AS incremental_equals_full
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'error')
  AND user_id % 10 <> 0
GROUP BY event_type
""",
    doc="Incremental MATERIALIZED-VIEW maintenance through the change "
    "feed — the aggregate-MV refresh loop a lakehouse runs instead of "
    "full recomputes (Databricks MV / DBSQL REFRESH incremental path): "
    "a per-event_type count+sum MV is computed once, the base table "
    "then takes an append AND a DV delete, and the refresh reads ONLY "
    "the change feed since the MV's last version — inserts contribute "
    "+1/+value, deletes -1/-value (update pre/post images would "
    "contribute as delete+insert) — and MERGEs the per-key deltas into "
    "the MV: matched keys adjust in place, unseen keys insert. Refresh "
    "cost is O(changed rows + touched MV keys), never O(base table); "
    "commutativity needs exact arithmetic, so the MV stores the sum as "
    "DECIMAL(25,10) (dsum's grid) and adjustments add decimals — "
    "bit-identical to a full recompute by construction, which the "
    "audit VERIFIES by recomputing the MV from the full base table and "
    "diffing (incremental_equals_full pins zero mismatches, exact "
    "decimal equality). The double cast happens only in the final "
    "projection, oracle-mirrored via the VARCHAR-mediated cast.",
    tags=("delta", "cdf", "refresh", "incremental", "lakehouse", "merge"),
)
def delta_incremental_mv_refresh_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    root = tempfile.mkdtemp(prefix="cpmvr_")
    base = DeltaTable(root + "/base")
    mv = DeltaTable(root + "/mv")
    dec = "decimal(25,10)"

    base.write(events.filter(F.col("event_type").isin("click", "view")))
    v0 = base.latest_version()
    mv.write(
        base.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(dec)).cast(dec).alias("total_dec"),
        )
    )

    base.write(events.filter(F.col("event_type").isin("purchase", "error")))
    base.delete(spark, "user_id % 10 = 0")

    ch = base.read_changes(spark, starting_version=v0 + 1)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    # materialize the per-key deltas ONCE: the merge's two phases (and
    # anything else consuming the source) would otherwise re-derive the
    # whole change feed per use — measured 3-4 re-derivations at 10x
    # (SCALE.md round-7 additions); the materialized frame is O(keys)
    deltas_path = root + "/deltas"
    ch.groupBy("event_type").agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign.cast(dec) * F.col("value").cast(dec))
        .cast(dec)
        .alias("dtotal"),
    ).write.parquet(deltas_path)
    deltas = spark.read.parquet(deltas_path)
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
        .execute(spark)
    )

    refreshed = mv.read(spark)
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
    )


@register(
    "delta_txn_cleanup_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       CAST(1 AS BIGINT) AS prefix_expired,
       CAST(1 AS BIGINT) AS replay_noop,
       CAST(1 AS BIGINT) AS new_batch_applied
FROM events
WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY event_type
""",
    doc="Exactly-once SURVIVES log cleanup — the checkpoint-txn "
    "fallback behind a driver-visible row (round-7 verdict item 7; "
    "guards the worst failure class, silent duplicate rows): two "
    "batches land through the txn-keyed sink path (setTransaction "
    "actions, the streaming foreachBatch idempotence contract), a "
    "dataChange=false stats recompute bumps the version past them, "
    "checkpoint() persists newest-wins txn state, and "
    "cleanup_metadata() physically EXPIRES every commit JSON that "
    "carried the txn actions (prefix_expired pins the truncation). A "
    "REPLAYED batch (same appId, same version) must then be detected "
    "from the checkpoint's txn rows — last_txn_version falls back to "
    "checkpoint state when the retained log no longer reaches v0 — "
    "and become a no-op (replay_noop); a genuinely NEW batch version "
    "still applies (new_batch_applied). Without the fallback the "
    "replay would see None and re-apply: the oracle's exactly-once "
    "counts from raw events would catch the duplicates as a hash "
    "mismatch. At 100 TB log retention ALWAYS eventually truncates "
    "history under a long-lived streaming sink — idempotence must not "
    "depend on commit JSONs outliving the retention window.",
    tags=("delta", "streaming", "exactly-once", "maintenance",
          "checkpoint"),
)
def delta_txn_cleanup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    table = DeltaTable(tempfile.mkdtemp(prefix="cptxncl_") + "/events_delta")
    app = "cp-ingest"
    sl = lambda et: events.filter(  # noqa: E731
        F.col("event_type") == et
    ).coalesce(1)
    table.write(sl("click"), txn=(app, 1))  # v0
    table.write(sl("view"), txn=(app, 2))  # v1
    # dataChange=false tail: bumps the version past the txn commits so
    # cleanup can expire BOTH of their JSONs (rows never move)
    table.recompute_stats(force=True, spark=spark)  # v2
    table.checkpoint(spark)  # persists newest-wins txn state at v2
    table.cleanup_metadata(retention_ms=0, force=True)  # expires v0, v1
    prefix_expired = int(
        table._commit_versions()[0] > 0
        and table.last_txn_version(app) == 2  # via checkpoint fallback
    )
    before = table.read(spark).count()
    table.write(sl("view"), txn=(app, 2))  # replayed batch
    replay_noop = int(table.read(spark).count() == before)
    table.write(sl("purchase"), txn=(app, 3))  # new batch
    new_batch_applied = int(
        table.last_txn_version(app) == 3
        and table.read(spark).count() > before
    )
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
        F.lit(prefix_expired).cast("long").alias("prefix_expired"),
        F.lit(replay_noop).cast("long").alias("replay_noop"),
        F.lit(new_batch_applied).cast("long").alias("new_batch_applied"),
    )


@register(
    "delta_optimized_write_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       CAST(1 AS BIGINT) AS one_file_per_partition,
       CAST(1 AS BIGINT) AS plain_write_fans_out
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="Optimized partitioned writes (delta-spark's optimizeWrite, the "
    "round-8 skew-probe fix): a 32-task frame written "
    "partition_by=['event_type'] with optimize_write=True co-groups "
    "rows by the partition columns first, landing EXACTLY one file per "
    "partition value (one_file_per_partition) instead of the default's "
    "one file per (input task × value) — the audit also writes the "
    "same frame WITHOUT the knob and pins that it really fans out to "
    "more files (plain_write_fans_out), because tiny-file explosion is "
    "the failure mode the knob exists for (a 200-partition staging "
    "write measured 6× slower, SCALE.md round-8; the knob stays opt-in "
    "for user writes since one hot partition value would serialize "
    "into a single task). Rows and sums hash against raw events — "
    "layout changed, content identical. The internal MERGE/UPDATE/CDC "
    "rewrite paths co-group unconditionally (volume bounded by touched "
    "files' bytes).",
    tags=("delta", "layout", "partitioned", "write"),
)
def delta_optimized_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = (
        load_table(spark, sf_dir, "events")
        .select(*_EVENT_COLS)
        .filter(F.col("event_type").isin(*_BATCH_TYPES))
        .repartition(32)
    )
    opt = DeltaTable(tempfile.mkdtemp(prefix="cpoptw8_") + "/opt")
    plain = DeltaTable(tempfile.mkdtemp(prefix="cpoptw8_") + "/plain")
    opt.write(events, partition_by=["event_type"], optimize_write=True)
    plain.write(events, partition_by=["event_type"])
    n_vals = len(_BATCH_TYPES)
    n_opt = len(opt._snapshot_state(None)[1])
    n_plain = len(plain._snapshot_state(None)[1])
    one_per = int(n_opt == n_vals)
    fans_out = int(n_plain > n_vals)
    return opt.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
        F.lit(one_per).cast("long").alias("one_file_per_partition"),
        F.lit(fans_out).cast("long").alias("plain_write_fans_out"),
    )


@register(
    "delta_version_checksum_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       CAST(1 AS BIGINT) AS checksum_ok,
       CAST(1 AS BIGINT) AS divergence_detected,
       CAST(1 AS BIGINT) AS post_optimize_ok
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
  AND NOT (event_type = 'click' AND value < 50)
GROUP BY event_type
""",
    doc="Per-version CHECKSUM files (delta-spark's VersionChecksum, "
    "written as _delta_log/<v>.crc and consumed by delta-kernel for "
    "lightweight snapshot validation): after appends and a DV DELETE, "
    "write_checksum records tableSizeBytes / numFiles / DV counts / "
    "metadata / protocol for the version, and verify_checksum proves "
    "the log-reconstructed snapshot matches (checksum_ok — DV "
    "cardinality included, so the deleted-row count is covered). A "
    "TAMPERED crc (numFiles and size off by one file — the signature "
    "of a lost or extra add in a copied/synced _delta_log) is detected "
    "with the exact mismatching fields named (divergence_detected), "
    "then the honest checksum is restored. OPTIMIZE rewrites the file "
    "layout; a fresh checksum at the new version verifies too "
    "(post_optimize_ok) — aggregates track versions, not history. At "
    "100 TB this is the cheap integrity gate before trusting a "
    "replicated or restored table: one small JSON against the "
    "snapshot, no data-file listing.",
    tags=("delta", "checksum", "maintenance", "metadata",
          "deletion-vectors"),
)
def delta_version_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    table = DeltaTable(tempfile.mkdtemp(prefix="cpcrc_") + "/events_delta")
    for etype in _BATCH_TYPES:
        table.write(
            events.filter(F.col("event_type") == etype).coalesce(1)
        )
    table.delete(spark, "event_type = 'click' AND value < 50")
    v = table.latest_version()
    payload = table.write_checksum()
    rep = table.verify_checksum()
    checksum_ok = int(
        rep["ok"]
        and rep["version"] == v
        and payload["numDeletedRecordsOpt"] > 0  # the DV rows are counted
    )
    # tamper: a crc claiming one more file and its bytes — verify must
    # name exactly the two aggregate fields that diverged
    bogus = dict(payload)
    bogus["numFiles"] = payload["numFiles"] + 1
    bogus["tableSizeBytes"] = payload["tableSizeBytes"] + 12345
    with open(table._checksum_path(v), "w") as f:
        _json.dump(bogus, f)
    bad = table.verify_checksum(v)
    divergence_detected = int(
        not bad["ok"]
        and sorted(bad["mismatches"]) == ["numFiles", "tableSizeBytes"]
    )
    table.write_checksum(v)  # restore the honest record
    table.compact(spark, target_files=2)
    table.write_checksum()
    post_optimize_ok = int(table.verify_checksum()["ok"])
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
        F.lit(checksum_ok).cast("long").alias("checksum_ok"),
        F.lit(divergence_detected).cast("long").alias("divergence_detected"),
        F.lit(post_optimize_ok).cast("long").alias("post_optimize_ok"),
    )


@register(
    "pipeline_expectations_audit",
    oracle="""
WITH t AS (
  SELECT *,
    (event_type IN ('click', 'view', 'purchase', 'signup')) AS ok_type,
    (value <= 400.0) AS ok_range,
    (value <= 250.0) AS ok_small,
    (event_id IS NOT NULL) AS ok_pos
  FROM events
),
tot AS (
  SELECT CAST(count(*) FILTER (ok_type AND ok_range AND ok_pos) AS BIGINT)
           AS kept,
         CAST(count(*) FILTER (NOT (ok_type AND ok_range AND ok_pos))
              AS BIGINT) AS quarantined
  FROM t
)
SELECT r.rule, r.action, r.n_pass,
       (SELECT count(*) FROM t) - r.n_pass AS n_fail,
       tot.kept AS kept_rows, tot.quarantined AS quarantined_rows,
       CAST(1 AS BIGINT) AS totals_consistent
FROM (
  SELECT 'known_type' AS rule, 'drop' AS action,
         CAST(count(*) FILTER (ok_type) AS BIGINT) AS n_pass FROM t
  UNION ALL
  SELECT 'value_in_range', 'drop',
         CAST(count(*) FILTER (ok_range) AS BIGINT) FROM t
  UNION ALL
  SELECT 'value_small', 'warn',
         CAST(count(*) FILTER (ok_small) AS BIGINT) FROM t
  UNION ALL
  SELECT 'event_id_present', 'fail',
         CAST(count(*) FILTER (ok_pos) AS BIGINT) FROM t
) r, tot
""",
    doc="Declarative data-quality expectations with quarantine — DLT's "
    "@expect / @expect_or_drop / @expect_or_fail contract in batch form "
    "(`operators.expectations.apply_expectations`): four rules over the "
    "raw events ingest — a drop rule on the event-type whitelist (error "
    "rows quarantine), a drop rule on the value range, a WARN rule that "
    "counts but never removes (the clean table still contains its "
    "violators — pinned by the counts), and a FAIL rule on a structural "
    "invariant (event_id present) that must hold at EVERY scale — a "
    "value-range fail rule fired on sf0.1's six zero-value rows and "
    "killed the whole batch, exactly what @expect_or_fail is for, but "
    "the registered audit needs to complete (the raise path is "
    "unit-tested separately). All "
    "predicates evaluate row-local in one projection; the metrics agg "
    "ships 2xrules longs per map partition; clean rows land in the "
    "curated Delta table and quarantined rows — annotated with every "
    "drop-rule they failed — land in a quarantine Delta table in the "
    "same job, the triage loop DLT documents. kept+quarantined "
    "reconciling to the input count is pinned (totals_consistent, "
    "verified against the two tables' actual committed counts).",
    tags=("delta", "quality", "lakehouse", "curation", "audit"),
)
def pipeline_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import Expectation, apply_expectations

    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    rules = [
        Expectation(
            "known_type",
            "event_type IN ('click', 'view', 'purchase', 'signup')",
            "drop",
        ),
        Expectation("value_in_range", "value <= 400.0", "drop"),
        Expectation("value_small", "value <= 250.0", "warn"),
        Expectation("event_id_present", "event_id IS NOT NULL", "fail"),
    ]
    clean, quarantine, stats = apply_expectations(events, rules)
    root = tempfile.mkdtemp(prefix="cpexp_")
    curated = DeltaTable(root + "/curated")
    quar = DeltaTable(root + "/quarantine")
    curated.write(clean)
    quar.write(quarantine)
    kept = curated.read(spark).count()
    quarantined = quar.read(spark).count()
    total = kept + quarantined
    consistent = int(total == events.count())
    rows = [
        (
            s["rule"],
            s["action"],
            s["n_pass"],
            s["n_fail"],
            kept,
            quarantined,
            consistent,
        )
        for s in stats
    ]
    return spark.createDataFrame(
        rows,
        "rule string, action string, n_pass long, n_fail long, "
        "kept_rows long, quarantined_rows long, totals_consistent long",
    )


@register(
    "delta_stats_recompute_audit",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS stats_restored,
       CAST(1 AS BIGINT) AS pruned_after,
       CAST(1 AS BIGINT) AS rows_stable
FROM events WHERE value < 50.0
GROUP BY event_type
""",
    doc="Stats recompute for stats-less files — ANALYZE ... COMPUTE "
    "DELTA STATISTICS (`DeltaTable.recompute_stats`): several minimal "
    "Delta writers ship no per-file stats, leaving every file opaque to "
    "data skipping, so a predicate read lists the whole table. The "
    "audit writes three value-range-disjoint files, SIMULATES the "
    "foreign writer by re-adding every file without stats (a "
    "dataChange=false metadata rewrite — the rows never move), "
    "verifies a value predicate then lists ALL files (skipping "
    "disarmed), runs the recompute — one footer read per stats-less "
    "file, CONVERT's cost model, committed as remove+re-add with "
    "dataChange=false so streams skip it — and verifies the same "
    "predicate now PRUNES files while returning identical rows. "
    "stats_restored / pruned_after / rows_stable pin all three as "
    "flags; per-type counts hash against raw events. At 100 TB this is "
    "the difference between inheriting a petabyte of foreign-written "
    "files as a full-scan liability and re-arming skipping for one "
    "footer-read pass.",
    tags=("delta", "statistics", "pushdown", "maintenance", "metadata"),
)
def delta_stats_recompute_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    table = DeltaTable(tempfile.mkdtemp(prefix="cpstats_") + "/events_delta")
    for lo, hi in ((0.0, 50.0), (50.0, 200.0), (200.0, 1e12)):
        table.write(
            events.filter(
                (F.col("value") >= lo) & (F.col("value") < hi)
            ).coalesce(1)
        )

    # simulate the stats-less foreign writer: same files, stats dropped
    meta, adds = table._snapshot_state(None)
    now_ms = int(_time.time() * 1000)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "FOREIGN STATLESS REWRITE",
                "operationParameters": {},
            }
        }
    ]
    for a in adds:
        actions.append(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                    "partitionValues": a.get("partitionValues") or {},
                    "size": a.get("size"),
                }
            }
        )
        stripped = {k: v for k, v in a.items() if k != "stats"}
        stripped["dataChange"] = False
        actions.append({"add": stripped})
    table._publish_or_conflict(
        table.latest_version() + 1, actions, "FOREIGN STATLESS REWRITE"
    )

    where = "value < 50.0"
    before = table.read(spark, where=where)
    files_before = len(set(before.inputFiles()))
    n_before = before.count()

    res = table.recompute_stats(spark=spark)  # executor-side footer reads
    after = table.read(spark, where=where)
    files_after = len(set(after.inputFiles()))
    n_after = after.count()

    stats_restored = int(res["updated_files"] == len(adds))
    pruned_after = int(files_after < files_before)
    rows_stable = int(n_before == n_after)
    return (
        after.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "n",
            F.lit(stats_restored).cast("long").alias("stats_restored"),
            F.lit(pruned_after).cast("long").alias("pruned_after"),
            F.lit(rows_stable).cast("long").alias("rows_stable"),
        )
    )


@register(
    "delta_deep_clone_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS relative_adds,
       CAST(1 AS BIGINT) AS survives_source_removal
FROM events
WHERE event_type IN {_BATCH_TYPES!r} AND NOT (value < 30)
GROUP BY event_type
""",
    doc="DEEP CLONE (delta-spark's CLONE ... deep): the base forks "
    "shallow (absolute-path adds = the lineage a deep clone must cut), "
    "a DV DELETE drops cheap events on the fork, then deep_clone_to("
    "spark=) COPIES the referenced files under the clone root with the "
    "copies fanned across executors and the commit kept driver-atomic, "
    "re-packing every DV into one fresh sidecar. The audit then "
    "DELETES THE ENTIRE SOURCE TREE and reads the clone: green means "
    "full independence — relative adds only (streamable, vacuum-safe) "
    "and zero references to source bytes. In-plan invariants raise on "
    "any absolute add or out-of-root DV. At 100 TB the copy is the "
    "honest price of independence, and it runs at executor fan-out, "
    "not driver serial.",
    tags=("delta", "clone", "deletion-vectors", "distributed"),
)
def delta_deep_clone_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import urllib.parse as _up

    fork = _forked_delta_table(spark, sf_dir, "deepclone")
    fork.delete(spark, "value < 30")
    deep = fork.deep_clone_to(
        tempfile.mkdtemp(prefix="cpdeep_") + "/events_deep", spark=spark
    )
    _meta, adds = deep._snapshot_state(None)
    bad = [
        a["path"]
        for a in adds
        if _up.unquote(a["path"]).startswith(("/", "file:"))
    ]
    if bad:
        raise ValueError(f"deep clone left absolute adds: {bad[:3]}")
    for a in adds:
        d = a.get("deletionVector")
        if d and d.get("storageType") == "p":
            raise ValueError(f"deep clone left out-of-root DV: {d}")
    # cut the cord: the immediate source (and its DV sidecars) vanish
    shutil.rmtree(fork.path)
    return (
        deep.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "n",
            F.lit(1).cast("long").alias("relative_adds"),
            F.lit(1).cast("long").alias("survives_source_removal"),
        )
    )


@register(
    "delta_generate_manifest_audit",
    oracle=f"""
SELECT event_type, count(*) AS n,
       CAST(1 AS BIGINT) AS manifest_read_matches
FROM events
WHERE event_type IN {_BATCH_TYPES!r}
GROUP BY event_type
""",
    doc="GENERATE symlink_format_manifest (delta-spark's Presto/Trino/"
    "Athena integration verb): the table lands in Delta PARTITIONED by "
    "event_type, generate_manifest() writes one atomic manifest text "
    "file per partition directory listing the snapshot's active files "
    "as absolute file: URIs — and the audit then plays the FOREIGN "
    "ENGINE: it reads the manifests as plain text, loads exactly those "
    "parquet files with a vanilla parquet reader (no Delta log "
    "involved), and compares per-type counts against the Delta "
    "snapshot read. A stale-manifest bug (files from a superseded "
    "compaction, a missing partition) breaks the equality. DV'd and "
    "column-mapped tables are refused exactly like delta-spark — a "
    "symlink reader would resurrect deleted rows or see physical "
    "column names.",
    tags=("delta", "interop", "manifest", "partitioned"),
)
def delta_generate_manifest_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    table = DeltaTable(tempfile.mkdtemp(prefix="cpmanif_") + "/t")
    table.write(
        events.filter(F.col("event_type").isin(*_BATCH_TYPES)).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ),
        partition_by=["event_type"],
    )
    # compaction supersedes files: the manifest must list ONLY the live set
    table.compact(spark, target_files=1)
    manifests = table.generate_manifest()
    assert manifests, "no manifests written"
    uris: list[str] = []
    for rel in manifests:
        with open(os.path.join(table.path, rel)) as f:
            uris += [ln[len("file:"):] for ln in f.read().splitlines() if ln]
    # vanilla parquet reader, no Delta log; basePath derives the hive
    # partition columns from the directory names, the way an external
    # engine's metastore partition registration would
    foreign = spark.read.option("basePath", table.path).parquet(*uris)
    # partition values live in the hive dirs, parsed by the plain reader
    via_manifest = foreign.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    via_delta = (
        table.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_delta"))
    )
    return (
        via_manifest.join(via_delta, "event_type")
        .select(
            "event_type",
            "n",
            (F.col("n") == F.col("n_delta")).cast("long").alias(
                "manifest_read_matches"
            ),
        )
    )


@register(
    "delta_log_compaction_audit",
    oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum("value")} AS total_value,
       CAST(1 AS BIGINT) AS state_identical,
       CAST(1 AS BIGINT) AS survives_json_removal,
       CAST(1 AS BIGINT) AS tombstone_reconciled
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY event_type
""",
    doc="Minor log compaction (PROTOCOL.md Log Compaction Files, "
    "delta-spark's `<s>.<e>.compacted.json`): five commits — two "
    "appends, a DELETE that kills one of them, a property change, a "
    "third append — compact into one reconciled file; the audit pins "
    "(1) snapshot state via the compaction is IDENTICAL to replaying "
    "the JSONs (state_identical — compared as full (meta id, sorted "
    "add paths, protocol) state, then removes the purged slice from "
    "the readback), (2) the range's commit JSONs can be physically "
    "REMOVED and reads still reconstruct (survives_json_removal) — "
    "the point of the feature: a reader behind a long tail does "
    "O(compactions) log reads, and (3) a file added then removed "
    "INSIDE the range appears only as a remove tombstone "
    "(tombstone_reconciled) — kept, not pruned, because replays "
    "starting before the range need it. Final counts hash against "
    "raw events, so a mis-reconciled compaction (ghost add, lost "
    "delete) is a value mismatch, not just a failed flag. History and "
    "CDF keep reading per-commit JSONs; compaction never consumes a "
    "table version.",
    tags=("delta", "log", "compaction", "maintenance"),
)
def delta_log_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    t = DeltaTable(tempfile.mkdtemp(prefix="cplogcmp_") + "/events_delta")
    sl = lambda et: events.filter(  # noqa: E731
        F.col("event_type") == et
    ).coalesce(1)
    t.write(sl("click"))                                   # v0
    t.write(sl("purchase"))                                # v1
    t.delete(spark, "event_type = 'purchase'")             # v2: removes v1
    t.set_table_properties({"delta.appendOnly": "false"})  # v3
    t.write(sl("view"))                                    # v4

    def state(tbl):
        meta, adds, proto = tbl._snapshot_state_full(None)
        return (meta["id"], sorted(a["path"] for a in adds), proto)

    before = state(t)
    t.compact_log(0, 3)
    state_identical = int(state(t) == before)
    actions = t._read_compaction(0, 3)
    adds = {a["add"]["path"] for a in actions if "add" in a}
    removes = {a["remove"]["path"] for a in actions if "remove" in a}
    tombstone_reconciled = int(len(removes) == 1 and not (adds & removes))
    # the latest commit JSON must survive (it defines the table version;
    # cleanup_metadata never deletes the tail either) — the compacted
    # RANGE's JSONs are what becomes expendable
    for v in range(4):
        os.remove(os.path.join(t._log_dir, f"{v:020d}.json"))
    survives = int(state(t) == before)
    return t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
        F.lit(state_identical).cast("long").alias("state_identical"),
        F.lit(survives).cast("long").alias("survives_json_removal"),
        F.lit(tombstone_reconciled).cast("long").alias("tombstone_reconciled"),
    )
