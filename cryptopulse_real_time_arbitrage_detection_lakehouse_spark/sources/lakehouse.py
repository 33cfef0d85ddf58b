"""Parquet lakehouse fallback: versioned append-only tables.

The reference stores every layer as a Delta table and audits it with
``DeltaTable.history()`` (``/root/reference/src/utils/check_bronze.py:76-84``
— SURVEY.md S3/K1-K3/M2/M3). delta-spark is not in this image, so this
module provides the same contract on plain parquet plus a tiny JSON commit
log, deliberately shaped like a miniature ``_delta_log``:

- **Versioned appends**: each commit writes its files under
  ``<table>/data/v=<N>/`` and then publishes ``<table>/_log/<N>.json``
  (write-temp + atomic rename). A version is visible iff its log record
  exists, so readers never see half-written data — the same
  commit-is-the-log idea Delta uses.
- **Snapshot & time-travel reads**: ``read(spark, version=K)`` lists log
  records <= K and scans exactly those data directories. Version pruning
  happens at file-listing time — a time-travel read of version 3 never
  touches version 900's files (SURVEY.md M2).
- **History audit**: `history` returns the commit log as a DataFrame
  (version, timestamp, operation, mode, numOutputRows) — the M2 twin.
- **Schema evolution**: appends may add columns; reads use parquet
  ``mergeSchema`` so old files surface nulls (M3 twin of Delta's
  ``schema.autoMerge``).
- **Streaming sink**: `start_stream_append` commits one version per
  micro-batch via ``foreachBatch``, recording the batch id in the log and
  skipping already-committed batch ids on replay — Delta's ``txn`` action,
  which is what turns foreachBatch's at-least-once into exactly-once
  (K1-K3 twin; tested by the restart test).

Concurrency: single writer per table (the medallion topology — each layer
has exactly one producing job). Multi-writer safety would need a
compare-and-swap on the log record, which object stores (and Delta) supply;
out of scope here and documented so nobody mistakes the fallback for it.

Scale notes: the log is O(commits) tiny JSON; data is ordinary parquet so
Catalyst pushdown/pruning apply unchanged; one directory per commit keeps
file listing proportional to the versions actually read.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .delta import _read_files

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("mode", T.StringType(), False),
        T.StructField("num_output_rows", T.LongType(), False),
        T.StructField("txn_batch_id", T.LongType(), True),
    ]
)


@dataclass
class LakehouseTable:
    """A versioned append-only parquet table rooted at ``path``."""

    path: str

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_log")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v={version}")

    # ------------------------------------------------------------------ log

    def _log_records(self) -> list[dict]:
        if not os.path.isdir(self._log_dir):
            return []
        records = []
        for name in os.listdir(self._log_dir):
            if not name.endswith(".json") or name.startswith("."):
                continue
            with open(os.path.join(self._log_dir, name)) as f:
                records.append(json.load(f))
        return sorted(records, key=lambda r: r["version"])

    def latest_version(self) -> int | None:
        records = self._log_records()
        return records[-1]["version"] if records else None

    def last_committed_batch_id(self) -> int | None:
        ids = [
            r["txnBatchId"] for r in self._log_records() if r.get("txnBatchId") is not None
        ]
        return max(ids) if ids else None

    def _publish(self, record: dict) -> None:
        os.makedirs(self._log_dir, exist_ok=True)
        final = os.path.join(self._log_dir, f"{record['version']}.json")
        tmp = os.path.join(self._log_dir, f".tmp-{record['version']}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.rename(tmp, final)  # atomic on POSIX: commit point

    # -------------------------------------------------------------- writes

    def append(
        self,
        df: DataFrame,
        *,
        operation: str = "APPEND",
        txn_batch_id: int | None = None,
    ) -> int:
        """Commit one version. Returns the committed version number.

        With ``txn_batch_id`` set (streaming), a batch id at or below the
        last committed one is a replay and is skipped (idempotent commit).
        """
        if txn_batch_id is not None:
            last = self.last_committed_batch_id()
            if last is not None and txn_batch_id <= last:
                return self.latest_version()
        last_v = self.latest_version()
        version = 0 if last_v is None else last_v + 1
        data_dir = self._data_dir(version)
        df.write.mode("errorifexists").parquet(data_dir)
        n = df.sparkSession.read.parquet(data_dir).count()
        self._publish(
            {
                "version": version,
                "timestampMs": int(time.time() * 1000),
                "operation": operation,
                "operationParameters": {"mode": "Append"},
                "numOutputRows": n,
                "schema": df.schema.json(),
                "txnBatchId": txn_batch_id,
            }
        )
        return version

    def start_stream_append(
        self, stream_df: DataFrame, *, checkpoint: str, available_now: bool = True
    ) -> StreamingQuery:
        """Checkpointed streaming append: one commit per micro-batch.

        ``foreachBatch`` re-delivers a batch after a crash-before-checkpoint;
        the txn batch id recorded in the log makes the second delivery a
        no-op, so the table sees each batch exactly once (Delta ``txn`` twin).
        """

        def commit(batch_df: DataFrame, batch_id: int) -> None:
            self.append(batch_df, txn_batch_id=batch_id)

        writer = stream_df.writeStream.foreachBatch(commit).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # --------------------------------------------------------------- reads

    def read(self, spark: SparkSession, *, version: int | None = None) -> DataFrame:
        """Snapshot read; ``version`` time-travels to that commit (M2)."""
        records = self._log_records()
        if version is not None:
            records = [r for r in records if r["version"] <= version]
            if len(records) != version + 1:
                raise ValueError(
                    f"version {version} not in log (have {len(records)} commits)"
                )
        if not records:
            raise ValueError(f"empty table at {self.path}: nothing committed yet")
        paths = [self._data_dir(r["version"]) for r in records if r["numOutputRows"] > 0]
        if not paths:
            schema = T.StructType.fromJson(json.loads(records[-1]["schema"]))
            return spark.createDataFrame([], schema)
        return _read_files(spark, paths, mergeSchema="true")

    def history(self, spark: SparkSession) -> DataFrame:
        """The commit log as a DataFrame — ``DeltaTable.history()`` twin."""
        rows = [
            (
                r["version"],
                r["timestampMs"],
                r["operation"],
                r["operationParameters"]["mode"],
                r["numOutputRows"],
                r.get("txnBatchId"),
            )
            for r in self._log_records()
        ]
        return spark.createDataFrame(rows, HISTORY_SCHEMA)
