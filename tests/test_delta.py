"""Delta transaction-log client: commit/replay/time-travel/checkpoint/
streaming (SURVEY.md S2/S3/S4/M2/P6 twins, no delta-spark required)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
    DeltaTable,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
    read_parquet_stream,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
    drain,
    start_parquet_stream,
)


def make_df(spark, start, n):
    return spark.range(start, start + n).select(
        F.col("id"),
        F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias("sym"),
    )


def listing_jobs(spark, group, build):
    """Run ``build()`` under Spark job group ``group``; return its result
    with the (jobs, listing jobs) Spark ran for it. A listing job is
    Spark's distributed re-listing of a path list, which it runs once a
    relation names more paths than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jobs = jsc.statusStore().jobsList(None)
    mine = [
        j
        for j in (jobs.apply(i) for i in range(jobs.size()))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    ]
    listing = [
        j
        for j in mine
        if j.description().isDefined()
        and j.description().get().startswith("Listing leaf files")
    ]
    return out, len(mine), len(listing)


class TestDeltaBatch:
    def test_append_read_roundtrip(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        assert t.write(make_df(spark, 0, 10)) == 0
        assert t.write(make_df(spark, 10, 5)) == 1
        got = t.read(spark)
        assert {r.id for r in got.collect()} == set(range(15))
        # the log is real Delta format: one JSON commit per version
        log = sorted(os.listdir(str(tmp_path / "t" / "_delta_log")))
        assert log == [f"{v:020d}.json" for v in (0, 1)]

    def test_overwrite_and_time_travel(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.write(make_df(spark, 0, 3), mode="overwrite")
        assert t.read(spark).count() == 3
        assert t.read(spark, version=0).count() == 10
        assert t.latest_version() == 1

    def test_partitioned_read_injects_partition_columns(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10), partition_by=["sym"])
        got = t.read(spark)
        assert set(got.columns) == {"id", "sym"}
        by_sym = {r.sym: r["count"] for r in got.groupBy("sym").count().collect()}
        assert by_sym == {"S0": 4, "S1": 3, "S2": 3}
        # partition values live ONLY in the log, not the data files
        data_files = [
            os.path.join(root, f)
            for root, _d, files in os.walk(str(tmp_path / "t"))
            if "_delta_log" not in root
            for f in files
            if f.endswith(".parquet")
        ]
        assert data_files and all(
            "sym" not in spark.read.parquet(p).columns for p in data_files[:1]
        )

    def test_history_nested_projection(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).repartition(1))
        t.write(make_df(spark, 10, 5).repartition(1))
        hist = (
            t.history(spark)
            .select(
                "version",
                "operation",
                F.col("operation_parameters.mode").alias("mode"),
                F.col("operation_metrics.num_files").alias("nf"),
                F.col("operation_metrics.num_output_rows").alias("rows"),
            )
            .orderBy("version")
            .collect()
        )
        assert [(r.version, r.operation, r.mode, r.nf, r.rows) for r in hist] == [
            (0, "WRITE", "Append", 1, 10),
            (1, "WRITE", "Append", 1, 5),
        ]

    def test_checkpoint_replay_and_bypass(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.write(make_df(spark, 10, 5))
        assert t.checkpoint(spark) == 1
        t.write(make_df(spark, 15, 3))
        # snapshot = checkpoint state + JSON tail
        assert t.read(spark).count() == 18
        # time travel BELOW the checkpoint version bypasses it (pure replay)
        assert t.read(spark, version=0).count() == 10
        assert json.load(open(str(tmp_path / "t/_delta_log/_last_checkpoint")))[
            "version"
        ] == 1

    def test_unwritten_version_rejected(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 4))
        with pytest.raises(ValueError):
            t.read(spark, version=7)

    def test_reader_protocol_gate(self, spark, tmp_path):
        """Tables needing reader features we lack are refused, not misread."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 4))
        with open(str(tmp_path / "t/_delta_log" / f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {"minReaderVersion": 3}}) + "\n")
        with pytest.raises(NotImplementedError, match="reader protocol"):
            t.read(spark)

    def test_partition_by_mismatch_rejected(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 4), partition_by=["sym"])
        with pytest.raises(ValueError, match="partition_by"):
            t.write(make_df(spark, 4, 2))


class TestDriverSideListing:
    """Scans name their files from the log, so Spark must not re-list
    them with a distributed job — even past the 32-path threshold at
    which it otherwise would."""

    N = 40  # live files, one append each

    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        """A table of N one-row appends (one also holds a null key) and
        its rows; tests copy it before they write. The frames come from
        pyarrow tables: a frame from a Python list runs a Python worker
        job, whose fixed cost would dominate the fixture."""
        import pyarrow as pa

        path = str(tmp_path_factory.mktemp("listing") / "t")
        t = DeltaTable(path)
        rows = []
        for i in range(self.N):
            batch = [(i, f"v{i}")] + ([(None, "null-key")] if i == 7 else [])
            rows += batch
            k, v = zip(*batch)
            arrow = pa.table(
                {"k": pa.array(k, pa.int64()), "v": pa.array(v, pa.string())}
            )
            t.write(spark.createDataFrame(arrow, "k long, v string").coalesce(1))
        return path, rows

    @staticmethod
    def _sorted(pairs):
        return sorted((k is None, k, v) for k, v in pairs)

    def test_reads_start_no_job(self, spark, built):
        path, rows = built
        t = DeltaTable(path)
        assert len(t._snapshot_state(None)[1]) == self.N
        for group, build in [
            ("read", lambda: t.read(spark)),
            ("read-where", lambda: t.read(spark, where="k >= 2")),
            ("read-version", lambda: t.read(spark, version=self.N - 3)),
        ]:
            df, jobs, listing = listing_jobs(spark, f"dsl-{group}", build)
            assert (jobs, listing) == (0, 0), group
            assert df.count() > 32
        got = [(r.k, r.v) for r in t.read(spark).collect()]
        assert self._sorted(got) == self._sorted(rows)

    def test_merge_starts_no_listing_job_and_equals_replay(
        self, spark, built, tmp_path
    ):
        import shutil

        path, rows = built
        t = DeltaTable(shutil.copytree(path, str(tmp_path / "t")))
        replay = dict(rows)

        def merge(src_rows):
            src = spark.createDataFrame(src_rows, "k long, v string")
            replay.update(src_rows)  # <=>: a null key matches the null key
            return t.merge(src, ["k"])

        # matched keys in three files, the null key, unmatched keys
        _, _, listing = listing_jobs(
            spark,
            "dsl-merge",
            lambda: merge(
                [(3, "u3"), (21, "u21"), (38, "u38"), (None, "u-null"),
                 (1000, "i1000"), (1001, "i1001")]
            ),
        )
        assert listing == 0
        # no key matches: inserts need no anti-join against any file
        merge([(2000, "i2000"), (2001, "i2001")])
        got = [(r.k, r.v) for r in t.read(spark).collect()]
        assert self._sorted(got) == self._sorted(replay.items())


class TestDeltaEvolutionAndMaintenance:
    def test_schema_merge_appends_column(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        wider = make_df(spark, 5, 5).withColumn("score", F.col("id") * 2)
        t.write(wider, merge_schema=True)
        got = t.read(spark)
        assert got.columns == ["id", "sym", "score"]
        rows = {r.id: r.score for r in got.collect()}
        # pre-evolution files surface null for the new column
        assert rows[0] is None and rows[7] == 14

    def test_schema_mismatch_without_flag_rejected(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        with pytest.raises(ValueError, match="merge_schema"):
            t.write(make_df(spark, 5, 5).withColumn("score", F.lit(1)))

    def test_type_conflict_rejected(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        bad = make_df(spark, 5, 5).withColumn("sym", F.lit(3))
        with pytest.raises(ValueError, match="never changes types"):
            t.write(bad, merge_schema=True)

    def test_merge_upserts_by_key(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        # ids 5..9 updated (sym rewritten), ids 10..14 inserted
        src = make_df(spark, 5, 10).withColumn(
            "sym", F.concat(F.lit("UPD"), F.col("id").cast("string"))
        )
        v = t.merge(src, ["id"])
        got = {r.id: r.sym for r in t.read(spark).collect()}
        assert len(got) == 15
        assert got[0] == "S0" and got[5] == "UPD5" and got[14] == "UPD14"
        # pre-merge snapshot intact; history records a MERGE
        assert t.read(spark, version=v - 1).count() == 10
        ops = {r.version: r.operation for r in t.history(spark).collect()}
        assert ops[v] == "MERGE"

    def test_compact_rewrites_small_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = DeltaTable(str(tmp_path / "t"))
        for i in range(4):
            # hash-repartition on a 2-valued key: EXACTLY two non-empty
            # files per write at any worker count (plain repartition(2)
            # round-robins from per-core single-row partitions whose
            # random start offsets can land every row in one bucket —
            # flipped with SPARK_GRAFT_CPUS=16)
            t.write(
                make_df(spark, i * 5, 5).repartition(2, F.col("id") % 2)
            )
        meta, adds = t._snapshot_state(None)
        assert len(adds) == 8
        v = t.compact(spark)
        meta, adds = t._snapshot_state(None)
        assert len(adds) == 1
        assert t.read(spark).count() == 20
        assert {r.id for r in t.read(spark).collect()} == set(range(20))
        ops = {r.version: r.operation for r in t.history(spark).collect()}
        assert ops[v] == "OPTIMIZE"
        # pure layout change: adds carry dataChange=false
        for action in t._read_commit(v):
            if "add" in action:
                assert action["add"]["dataChange"] is False

    def test_compact_partitioned_keeps_partition_values(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(make_df(spark, i * 6, 6), partition_by=["sym"])
        t.compact(spark)
        got = t.read(spark)
        assert got.count() == 18
        by_sym = {r.sym: r["count"] for r in got.groupBy("sym").count().collect()}
        assert by_sym == {"S0": 6, "S1": 6, "S2": 6}


class TestDeltaStreaming:
    def test_stream_equals_batch(self, spark, tmp_path):
        """S2: draining the streaming source availableNow == snapshot read."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.write(make_df(spark, 10, 5))
        out = str(tmp_path / "out")
        drain(
            start_parquet_stream(
                t.read_stream(spark),
                path=out,
                checkpoint=str(tmp_path / "ckpt"),
            )
        )
        got = spark.read.parquet(out)
        assert {r.id for r in got.collect()} == set(range(15))

    def test_stream_resumes_from_checkpoint(self, spark, tmp_path):
        """New commits after a drain are picked up incrementally, old ones
        are not re-emitted (file-source offset tracking)."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        drain(start_parquet_stream(t.read_stream(spark), path=out, checkpoint=ckpt))
        t.write(make_df(spark, 10, 5))
        drain(start_parquet_stream(t.read_stream(spark), path=out, checkpoint=ckpt))
        assert spark.read.parquet(out).count() == 15

    def test_stream_refuses_non_append_only(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.write(make_df(spark, 0, 3), mode="overwrite")
        with pytest.raises(NotImplementedError, match="remove"):
            t.read_stream(spark)

    def test_partitioned_stream_equals_batch(self, spark, tmp_path):
        """S2 on a partitioned table: every commit spans all 3 sym
        partitions (>=2 per commit), values live only in the log, and the
        availableNow drain must equal the snapshot read — partition column
        included, with its schema type."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 9), partition_by=["sym"])
        t.write(make_df(spark, 9, 9), partition_by=["sym"])
        # each commit really did produce one file per partition
        for v in (0, 1):
            parts = {
                a["add"]["partitionValues"]["sym"]
                for a in t._read_commit(v)
                if "add" in a
            }
            assert parts == {"S0", "S1", "S2"}, parts
        out = str(tmp_path / "out")
        drain(
            start_parquet_stream(
                t.read_stream(spark),
                path=out,
                checkpoint=str(tmp_path / "ckpt"),
            )
        )
        got = spark.read.parquet(out)
        assert dict(got.dtypes)["sym"] == "string"
        assert {(r.id, r.sym) for r in got.collect()} == {
            (r.id, r.sym) for r in t.read(spark).collect()
        }
        assert got.count() == 18

    def test_partitioned_stream_resumes_incrementally(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 6), partition_by=["sym"])
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        drain(start_parquet_stream(t.read_stream(spark), path=out, checkpoint=ckpt))
        t.write(make_df(spark, 6, 6), partition_by=["sym"])
        drain(start_parquet_stream(t.read_stream(spark), path=out, checkpoint=ckpt))
        got = spark.read.parquet(out)
        assert got.count() == 12  # old commit not re-emitted, new one drained
        by_sym = {r.sym: r["count"] for r in got.groupBy("sym").count().collect()}
        assert by_sym == {"S0": 4, "S1": 4, "S2": 4}

    def test_stream_refuses_foreign_partition_layout(self, spark, tmp_path):
        """A table whose data-file paths don't hive-encode the logged
        partition values can't be expressed as a file stream — refuse it."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 6), partition_by=["sym"])
        # rewrite commit 0's adds to flat (non-hive) paths, the layout a
        # foreign Delta writer is allowed to produce
        log = str(tmp_path / "t" / "_delta_log" / f"{0:020d}.json")
        actions = [json.loads(l) for l in open(log)]
        for a in actions:
            if "add" in a:
                a["add"]["path"] = a["add"]["path"].split("/")[-1]
        with open(log, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        with pytest.raises(NotImplementedError, match="hive-encode"):
            t.read_stream(spark)

    def test_lakehouse_sink_to_delta_source_pipeline(self, spark, tmp_path):
        """A parquet file stream drained INTO a Delta table via foreachBatch,
        then read back — the bronze-ingestion shape of the reference
        (ingestion_bronze.py: stream -> Delta append sink)."""
        src = str(tmp_path / "src")
        make_df(spark, 0, 20).write.parquet(src)
        t = DeltaTable(str(tmp_path / "t"))

        def commit(batch_df, batch_id):
            t.write(batch_df)

        q = (
            read_parquet_stream(spark, src, spark.read.parquet(src).schema)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert t.read(spark).count() == 20
        assert t.history(spark).count() >= 1


class TestJvmFreeRead:
    def test_to_pandas_matches_spark_read(self, spark, tmp_path):
        """S4 twin: the dashboard-style read needs no Spark — to_pandas
        reconstructs the snapshot from the log with pyarrow only and must
        equal read(spark) across appends, overwrites, and time travel."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.write(make_df(spark, 10, 5))
        pdf = t.to_pandas().sort_values("id", ignore_index=True)
        via_spark = (
            t.read(spark).toPandas().sort_values("id", ignore_index=True)
        )
        assert pdf.equals(via_spark)
        # time travel without a JVM
        assert sorted(t.to_pandas(version=0)["id"]) == list(range(10))
        # column pruning: a name outside the schema raises, none is none
        assert list(t.to_pandas(columns=["sym"]).columns) == ["sym"]
        with pytest.raises(ValueError, match="nope"):
            t.to_pandas(columns=["sym", "nope"])
        none = t.to_pandas(columns=[])
        assert list(none.columns) == [] and len(none) == 15
        # date, decimal and timestamp partition values come back typed,
        # as in Spark
        d = DeltaTable(str(tmp_path / "d"))
        d.write(
            make_df(spark, 0, 6).select(
                "id",
                F.date_add(
                    F.lit("2024-01-01").cast("date"),
                    (F.col("id") % 2).cast("int"),
                ).alias("day"),
                (F.col("id") % 3 / 4).cast("decimal(5,2)").alias("lvl"),
                F.timestamp_seconds(F.col("id") % 2 * 3600).alias("at"),
                F.timestamp_seconds(F.col("id") * 60).alias("ts"),
            ),
            partition_by=["day", "lvl", "at"],
        )
        pdf = d.to_pandas().sort_values("id", ignore_index=True)
        via_spark = (
            d.read(spark).toPandas().sort_values("id", ignore_index=True)
        )
        assert pdf.equals(via_spark)
        assert {type(v).__name__ for v in pdf["day"]} == {"date"}

    def test_to_pandas_reads_partitioned_and_checkpointed_tables(
        self, spark, tmp_path
    ):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10), partition_by=["sym"])
        t.write(make_df(spark, 10, 5), partition_by=["sym"])
        t.checkpoint(spark)  # state now comes from the parquet checkpoint
        t.write(make_df(spark, 15, 3), partition_by=["sym"])
        pdf = t.to_pandas()
        assert sorted(pdf["id"]) == list(range(18))
        # partition column was injected from the log with its schema type
        assert set(pdf["sym"]) == {"S0", "S1", "S2"}
        via_spark = t.read(spark).toPandas()
        assert sorted(pdf["sym"]) == sorted(via_spark["sym"])

    def test_to_pandas_starts_no_jvm(self, spark, tmp_path):
        """The dashboard-side read (S4) runs in a process that never
        starts Spark: `to_pandas` reads through the pydelta file reader,
        which must not reach for a JVM either."""
        import subprocess
        import sys
        from pathlib import Path

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 6), partition_by=["sym"])
        script = tmp_path / "jvm_free.py"
        script.write_text(
            "import sys\n"
            f"sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})\n"
            "import pyspark\n"
            "from cryptopulse_real_time_arbitrage_detection_lakehouse_spark"
            ".sources.delta import DeltaTable\n"
            f"pdf = DeltaTable({t.path!r}).to_pandas()\n"
            "got = sorted(zip(pdf['id'], pdf['sym']))\n"
            "assert got == [(i, f'S{i % 3}') for i in range(6)], got\n"
            "assert pyspark.SparkContext._gateway is None\n"
            "print('JVM_FREE_OK')\n"
        )
        out = subprocess.run(
            [sys.executable, str(script)],
            cwd=str(tmp_path),
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert "JVM_FREE_OK" in out.stdout, out.stderr[-2000:]


class TestColumnMapping:
    """Reader protocol v2 (column mapping): logical names live only in the
    log's schemaString metadata; parquet files and partitionValues use
    physical names. The fixture is written by hand exactly the way
    delta-spark lays such a table out."""

    PHYS = {"sym": "col-a1b2c3", "px": "col-d4e5f6", "day": "col-778899"}

    def _write_table(self, root, *, partitioned: bool) -> None:
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(root, "_delta_log"))
        fields = [
            {
                "name": "sym",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": self.PHYS["sym"],
                },
            },
            {
                "name": "px",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": self.PHYS["px"],
                },
            },
        ]
        part_cols = []
        if partitioned:
            fields.append(
                {
                    "name": "day",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 3,
                        "delta.columnMapping.physicalName": self.PHYS["day"],
                    },
                }
            )
            part_cols = ["day"]

        def datafile(rel, syms, pxs):
            fp = os.path.join(root, rel)
            os.makedirs(os.path.dirname(fp), exist_ok=True)
            pq.write_table(
                pa.table({self.PHYS["sym"]: syms, self.PHYS["px"]: pxs}), fp
            )

        adds = []
        if partitioned:
            for day, syms, pxs in (
                ("2026-01-01", ["A", "B"], [1.5, 2.5]),
                ("2026-01-02", ["C"], [3.5]),
            ):
                rel = f"{self.PHYS['day']}={day}/part-0.parquet"
                datafile(rel, syms, pxs)
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {self.PHYS["day"]: day},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
        else:
            datafile("part-0.parquet", ["A", "B", "C"], [1.5, 2.5, 3.5])
            adds.append(
                {
                    "add": {
                        "path": "part-0.parquet",
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )

        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cm-test",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps({"type": "struct", "fields": fields}),
                    "partitionColumns": part_cols,
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            },
            *adds,
        ]
        with open(
            os.path.join(root, "_delta_log", "00000000000000000000.json"), "w"
        ) as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    def test_read_unpartitioned_projects_logical_names(self, spark, tmp_path):
        root = str(tmp_path / "cm")
        self._write_table(root, partitioned=False)
        df = DeltaTable(root).read(spark)
        assert df.columns == ["sym", "px"]
        assert sorted(map(tuple, df.collect())) == [
            ("A", 1.5), ("B", 2.5), ("C", 3.5)
        ]

    def test_read_partitioned_injects_from_physical_keys(self, spark, tmp_path):
        root = str(tmp_path / "cmp")
        self._write_table(root, partitioned=True)
        df = DeltaTable(root).read(spark)
        assert df.columns == ["sym", "px", "day"]
        assert sorted(map(tuple, df.collect())) == [
            ("A", 1.5, "2026-01-01"),
            ("B", 2.5, "2026-01-01"),
            ("C", 3.5, "2026-01-02"),
        ]

    def test_to_pandas_jvm_free(self, tmp_path):
        root = str(tmp_path / "cm2")
        self._write_table(root, partitioned=True)
        pdf = DeltaTable(root).to_pandas()
        assert list(pdf.columns) == ["sym", "px", "day"]
        assert sorted(map(tuple, pdf.itertuples(index=False))) == [
            ("A", 1.5, "2026-01-01"),
            ("B", 2.5, "2026-01-01"),
            ("C", 3.5, "2026-01-02"),
        ]

    def test_stream_of_mapped_table_projects_logical_names(
        self, spark, tmp_path
    ):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
            drain,
            start_parquet_stream,
        )

        root = str(tmp_path / "cm3")
        self._write_table(root, partitioned=False)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream = DeltaTable(root).read_stream(spark)
        assert set(stream.columns) == {"sym", "px"}  # logical, not col-*
        drain(start_parquet_stream(stream, path=out, checkpoint=ckpt))
        got = {(r.sym, r.px) for r in spark.read.parquet(out).collect()}
        assert got == {("A", 1.5), ("B", 2.5), ("C", 3.5)}

    def test_stream_of_mapped_partitioned_table_is_gated(self, spark, tmp_path):
        root = str(tmp_path / "cm3p")
        self._write_table(root, partitioned=True)
        with pytest.raises(NotImplementedError, match="PARTITIONED"):
            DeltaTable(root).read_stream(spark)

    def test_v3_unsupported_features_still_gated(self, spark, tmp_path):
        # columnMapping AND deletionVectors are now implemented; any other
        # v3 feature (v2 checkpoints here) must still hard-gate the read
        import json
        import os

        root = str(tmp_path / "cm4")
        self._write_table(root, partitioned=False)
        log = os.path.join(root, "_delta_log", "00000000000000000000.json")
        lines = open(log).read().splitlines()
        patched = []
        for line in lines:
            a = json.loads(line)
            if "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "v2Checkpoint"],
                    "writerFeatures": ["columnMapping", "v2Checkpoint"],
                }
            patched.append(json.dumps(a))
        open(log, "w").write("\n".join(patched) + "\n")
        with pytest.raises(NotImplementedError, match="v2Checkpoint"):
            DeltaTable(root).read(spark)

    def _write_id_mode_table(self, root) -> None:
        """An 'id'-mode fixture whose FILE column names are unrelated to
        both logical and physical names — only the parquet field ids link
        them (the Iceberg-compat convert shape). A name-matching reader
        would return all NULLs; only genuine field-id resolution reads
        this correctly."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(root, "_delta_log"))
        fields = [
            {
                "name": "sym",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": self.PHYS["sym"],
                },
            },
            {
                "name": "px",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": self.PHYS["px"],
                },
            },
        ]
        arrow_schema = pa.schema(
            [
                pa.field("zz_a", pa.string(), metadata={b"PARQUET:field_id": b"1"}),
                pa.field("zz_b", pa.float64(), metadata={b"PARQUET:field_id": b"2"}),
            ]
        )
        pq.write_table(
            pa.table(
                {"zz_a": ["A", "B", "C"], "zz_b": [1.5, 2.5, 3.5]},
                schema=arrow_schema,
            ),
            os.path.join(root, "part-0.parquet"),
        )
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "idmode-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": "part-0.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ]
        with open(
            os.path.join(root, "_delta_log", "%020d.json" % 0), "w"
        ) as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    def test_id_mode_read_resolves_by_field_id(self, spark, tmp_path):
        root = str(tmp_path / "cm5")
        self._write_id_mode_table(root)
        t = DeltaTable(root)
        got = {(r.sym, r.px) for r in t.read(spark).collect()}
        assert got == {("A", 1.5), ("B", 2.5), ("C", 3.5)}

    def test_id_mode_to_pandas_resolves_by_footer_ids(self, spark, tmp_path):
        root = str(tmp_path / "cm5b")
        self._write_id_mode_table(root)
        pdf = DeltaTable(root).to_pandas()
        assert sorted(pdf.columns) == ["px", "sym"]
        assert set(zip(pdf["sym"], pdf["px"])) == {
            ("A", 1.5),
            ("B", 2.5),
            ("C", 3.5),
        }

    def test_id_mode_write_update_delete_roundtrip(self, spark, tmp_path):
        # writes stage with parquet.field.id footer metadata on every
        # field — the spec's id-mode write contract — so the appended
        # file resolves by id exactly like the foreign-written fixture
        root = str(tmp_path / "cm5c")
        self._write_id_mode_table(root)
        t = DeltaTable(root)
        t.write(spark.createDataFrame([("D", 4.5)], "sym string, px double"))
        got = {(r.sym, r.px) for r in t.read(spark).collect()}
        assert got == {("A", 1.5), ("B", 2.5), ("C", 3.5), ("D", 4.5)}
        # the staged file's footer carries the schema's field ids, under
        # the table's PHYSICAL column names
        import pyarrow.parquet as pq

        newest = max(
            (f for f in os.listdir(root) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(root, f)),
        )
        ids = {}
        for fld in pq.read_schema(os.path.join(root, newest)):
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            ids[fld.name] = int(fid) if fid is not None else None
        assert ids == {self.PHYS["sym"]: 1, self.PHYS["px"]: 2}
        # UPDATE stages its images through the same id-stamped path
        t.update(spark, "sym = 'A'", {"px": "9.9"})
        # DELETE needs no staging: DVs flag positions
        t.delete(spark, "sym = 'B'")
        want = {("A", 9.9), ("C", 3.5), ("D", 4.5)}
        assert {(r.sym, r.px) for r in t.read(spark).collect()} == want
        # JVM-free + pyds readers agree (per-file footer-id resolution)
        pdf = t.to_pandas()
        assert set(zip(pdf["sym"], pdf["px"])) == want
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", root).load()
        assert {(r.sym, r.px) for r in out.collect()} == want
        # id-mode STREAMING stays gated
        with pytest.raises(NotImplementedError, match="id-mode"):
            t.read_stream(spark)

    def test_id_mode_pyds_batch_read_resolves_by_footer_ids(
        self, spark, tmp_path
    ):
        # the registered source resolves each file's ARBITRARY column
        # names through parquet field ids on the executor; a DV applies
        # by row position on top
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        root = str(tmp_path / "cm5d")
        self._write_id_mode_table(root)
        t = DeltaTable(root)
        t.delete(spark, "sym = 'B'")
        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", root).load()
        assert {(r.sym, r.px) for r in out.collect()} == {
            ("A", 1.5),
            ("C", 3.5),
        }
        # id-mode STREAMING is supported too: the reader plans field ids
        # for every partition (a positive drain is in
        # tests/test_pyds.py::test_id_mode_table_streams_by_field_id)
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            PyDeltaStreamReader,
        )

        r = PyDeltaStreamReader({"path": root}, out.schema)
        assert r._plan.field_ids and set(r._plan.field_ids) == {"sym", "px"}


class TestColumnMappingWrites:
    """Writes on a column-mapped table must stage files (and key
    partitionValues) under PHYSICAL names — the regression here is a
    post-rename append whose new files carry the logical name and read
    back as all-NULL."""

    def _mapped_table(self, spark, tmp_path, *, partition_by=None):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.createDataFrame(
            [("A", 1.5, "d1"), ("B", 2.5, "d1"), ("C", 3.5, "d2")],
            "sym string, px double, day string",
        )
        t.write(df, partition_by=partition_by)
        t.enable_column_mapping()
        return t

    def test_rename_then_append_roundtrip(self, spark, tmp_path):
        t = self._mapped_table(spark, tmp_path)
        t.rename_column("px", "price")
        more = spark.createDataFrame(
            [("D", 4.5, "d2")], "sym string, price double, day string"
        )
        t.write(more)
        got = sorted(map(tuple, t.read(spark).collect()))
        assert got == [
            ("A", 1.5, "d1"), ("B", 2.5, "d1"), ("C", 3.5, "d2"), ("D", 4.5, "d2")
        ]
        # the appended file's parquet footer must use the physical name
        import pyarrow.parquet as pq
        data_files = [
            f for f in os.listdir(str(tmp_path / "t"))
            if f.endswith(".parquet") and f.startswith("part-")
        ]
        names = set()
        for f in data_files:
            names |= set(pq.read_schema(str(tmp_path / "t" / f)).names)
        assert "price" not in names and "px" in names
        # JVM-free path agrees
        pdf = t.to_pandas()
        assert list(pdf.columns) == ["sym", "price", "day"]
        assert sorted(pdf["price"]) == [1.5, 2.5, 3.5, 4.5]

    def test_rename_partition_column_then_append(self, spark, tmp_path):
        t = self._mapped_table(spark, tmp_path, partition_by=["day"])
        t.rename_column("day", "dt")
        more = spark.createDataFrame(
            [("D", 4.5, "d3")], "sym string, px double, dt string"
        )
        t.write(more, partition_by=["dt"])
        got = t.read(spark)
        assert got.filter(F.col("dt") == "d3").count() == 1
        assert got.count() == 4
        # partitionValues in the new commit are keyed by the PHYSICAL name
        last = t.latest_version()
        with open(
            os.path.join(str(tmp_path / "t"), "_delta_log", f"{last:020d}.json")
        ) as fh:
            adds = [json.loads(x)["add"] for x in fh if "add" in json.loads(x)]
        assert adds and all(
            list(a["partitionValues"].keys()) == ["day"] for a in adds
        )

    def test_merge_schema_assigns_physical_names(self, spark, tmp_path):
        t = self._mapped_table(spark, tmp_path)
        t.rename_column("px", "price")
        more = spark.createDataFrame(
            [("E", 5.5, "d3", 42)], "sym string, price double, day string, qty int"
        )
        t.write(more, merge_schema=True)
        got = t.read(spark)
        assert got.columns == ["sym", "price", "day", "qty"]
        assert got.filter(F.col("qty").isNotNull()).count() == 1
        # the new field carries synthetic physicalName + bumped maxColumnId
        meta, _ = t._snapshot_state(None)
        field = json.loads(meta["schemaString"])["fields"][-1]
        phys = field["metadata"]["delta.columnMapping.physicalName"]
        assert field["name"] == "qty" and phys.startswith("col-")
        assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "4"
        # old rows surface NULL for the evolved column
        assert got.filter(F.col("qty").isNull()).count() == 3

    def test_compact_after_rename_keeps_values(self, spark, tmp_path):
        t = self._mapped_table(spark, tmp_path)
        t.rename_column("sym", "symbol")
        t.compact(spark, target_files=1)
        got = sorted(map(tuple, t.read(spark).collect()))
        assert got == [("A", 1.5, "d1"), ("B", 2.5, "d1"), ("C", 3.5, "d2")]

    def test_checkpoint_preserves_mapped_protocol(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = self._mapped_table(spark, tmp_path)
        t.rename_column("px", "price")
        v = t.checkpoint(spark)
        cp = pq.read_table(
            os.path.join(str(tmp_path / "t"), "_delta_log",
                         f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        protos = [r["protocol"] for r in cp if r["protocol"]]
        assert protos and protos[0]["minReaderVersion"] == 2
        # a snapshot built from the checkpoint still maps names correctly
        t.write(
            spark.createDataFrame(
                [("Z", 9.5, "d9")], "sym string, price double, day string"
            )
        )
        assert sorted(t.read(spark).select("price").toPandas()["price"]) == [
            1.5, 2.5, 3.5, 9.5
        ]


class TestDeletionVectors:
    """DELETE via deletion vectors: no data file rewritten; readers drop
    flagged (file, row-index) positions via a broadcast anti-join. The
    sidecar codec (sources/dv.py) follows the public protocol spec —
    z85 'u' storage, magic + portable RoaringBitmapArray, CRC'd frames."""

    def _table(self, spark, tmp_path, n=100):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, n).select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
        )
        t.write(df.repartition(4))
        return t

    def test_delete_roundtrip_and_no_rewrite(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        files_before = {
            f for f in os.listdir(str(tmp_path / "t")) if f.endswith(".parquet")
        }
        v = t.delete(spark, "grp = 3")
        assert v == 1
        got = t.read(spark)
        assert got.filter(F.col("grp") == 3).count() == 0
        assert got.count() == 100 - 14  # ids 3,10,...,94 -> 14 rows
        assert {r.id for r in got.collect()} == {
            i for i in range(100) if i % 7 != 3
        }
        # the data files were NOT rewritten — only sidecars appeared
        files_after = {
            f for f in os.listdir(str(tmp_path / "t")) if f.endswith(".parquet")
        }
        assert files_before == files_after
        sidecars = [
            f
            for f in os.listdir(str(tmp_path / "t"))
            if f.startswith("deletion_vector_")
        ]
        assert sidecars, "expected DV sidecar files"
        # protocol upgraded to v3 with the feature listed
        log = open(
            os.path.join(str(tmp_path / "t"), "_delta_log",
                         "00000000000000000001.json")
        ).read()
        assert '"minReaderVersion": 3' in log
        assert "deletionVectors" in log

    def test_second_delete_unions_vectors(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "grp = 3")
        t.delete(spark, "id < 10")
        got = t.read(spark)
        expect = {i for i in range(100) if i % 7 != 3 and i >= 10}
        assert {r.id for r in got.collect()} == expect
        # time travel still sees the intermediate state
        v1 = t.read(spark, version=1)
        assert {r.id for r in v1.collect()} == {
            i for i in range(100) if i % 7 != 3
        }

    def test_delete_everything_drops_files(self, spark, tmp_path):
        t = self._table(spark, tmp_path, n=20)
        t.delete(spark, "id >= 0")
        assert t.read(spark).count() == 0
        # fully-deleted files are removed outright, not re-added with DVs
        _meta, adds = t._snapshot_state(None)
        assert adds == []

    def test_to_pandas_applies_dvs(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "grp = 0")
        pdf = t.to_pandas()
        assert sorted(pdf["id"]) == [i for i in range(100) if i % 7 != 0]

    def test_checkpoint_preserves_dvs(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "grp = 5")
        t.checkpoint(spark)
        # append AFTER the checkpoint so the snapshot is rebuilt from the
        # checkpoint (which must carry the deletionVector descriptors)
        t.write(
            spark.createDataFrame([(1000, 1, "x")], "id long, grp long, val string")
        )
        got = t.read(spark)
        assert got.filter((F.col("grp") == 5) & (F.col("id") < 1000)).count() == 0
        assert got.filter(F.col("id") == 1000).count() == 1

    def test_compact_sheds_dvs(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "grp = 2")
        t.compact(spark, target_files=1)
        _meta, adds = t._snapshot_state(None)
        assert all(not a.get("deletionVector") for a in adds)
        got = t.read(spark)
        assert {r.id for r in got.collect()} == {
            i for i in range(100) if i % 7 != 2
        }

    def test_delete_on_partitioned_mapped_table(self, spark, tmp_path):
        # the full stack at once: partitioned + column-mapped + DVs
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(30)],
            "id long, day string, px double",
        )
        t.write(df, partition_by=["day"])
        t.enable_column_mapping()
        t.rename_column("px", "price")
        t.delete(spark, "price >= 20.0 OR day = 'd0'")
        got = t.read(spark)
        ids = {r.id for r in got.collect()}
        assert ids == {i for i in range(30) if i < 20 and i % 3 != 0}
        pdf = t.to_pandas()
        assert set(pdf["id"]) == ids

    def test_streaming_read_of_dv_table_gated(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "grp = 1")
        with pytest.raises(NotImplementedError):
            t.read_stream(spark)


class TestDataSkipping:
    """Log-level data skipping (SURVEY §4.1): per-file min/max stats are
    written into every add action from the parquet footers, and
    read(where=...) drops provably-empty files BEFORE they are listed
    into the Spark plan — proved via df.inputFiles(), i.e. the log, not
    parquet-footer row-group pruning."""

    def test_stats_written_per_file(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 100).repartition(1))
        _meta, adds = t._snapshot_state(None)
        stats = json.loads(adds[0]["stats"])
        assert stats["numRecords"] == 100
        assert stats["minValues"]["id"] == 0 and stats["maxValues"]["id"] == 99
        assert stats["minValues"]["sym"] == "S0" and stats["maxValues"]["sym"] == "S2"
        assert stats["nullCount"]["id"] == 0

    def test_range_predicate_skips_files_via_log(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        # 4 range-disjoint files: ids 0-24, 25-49, 50-74, 75-99
        for lo in (0, 25, 50, 75):
            t.write(make_df(spark, lo, 25).coalesce(1))
        full = t.read(spark)
        assert len(full.inputFiles()) == 4
        pruned = t.read(spark, where="id >= 80")
        assert len(pruned.inputFiles()) == 1  # only the 75-99 file listed
        assert {r.id for r in pruned.collect()} == set(range(80, 100))
        # row filter still applies within the surviving file (80 not 75)
        both = t.read(spark, where="id >= 30 AND id < 60")
        assert len(both.inputFiles()) == 2
        assert {r.id for r in both.collect()} == set(range(30, 60))

    def test_nested_struct_field_skipping(self, spark, tmp_path):
        """Stats nest for struct fields (spec shape {"s": {"x": 1}}) and
        read(where='s.x >= k') prunes files on them — including through
        a column-mapped nested rename (physical-path stats lookup)."""
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 50):  # two range-disjoint files on s.x
            t.write(
                spark.range(lo, lo + 50)
                .select(
                    F.col("id"),
                    F.struct(
                        F.col("id").alias("x"),
                        F.col("id").cast("string").alias("y"),
                    ).alias("s"),
                )
                .coalesce(1)
            )
        _m, adds = t._snapshot_state(None)
        stats = json.loads(sorted(adds, key=lambda a: a["path"])[0]["stats"])
        assert stats["minValues"]["s"]["x"] == 0
        assert stats["maxValues"]["s"]["x"] == 49
        pruned = t.read(spark, where="s.x >= 60")
        assert len(pruned.inputFiles()) == 1
        assert pruned.count() == 40
        # mapped + nested-renamed: the resolver walks physical segments
        t.enable_column_mapping()
        t.rename_column("s.x", "bucket")
        t.write(
            spark.range(100, 150)
            .select(
                F.col("id"),
                F.struct(
                    F.col("id").alias("bucket"),
                    F.col("id").cast("string").alias("y"),
                ).alias("s"),
            )
            .coalesce(1)
        )
        pruned2 = t.read(spark, where="s.bucket >= 110")
        assert len(pruned2.inputFiles()) == 1  # only the 100-149 file
        assert pruned2.count() == 40
        # the pydelta source prunes on the same nested predicate
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        pyds.register(spark)
        out = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .option("where", "s.bucket >= 110")
            .load()
        )
        assert out.count() == 40

    def test_unparseable_predicate_prunes_nothing_but_filters(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 50):
            t.write(make_df(spark, lo, 50).coalesce(1))
        got = t.read(spark, where="id % 10 = 3")
        assert len(got.inputFiles()) == 2  # no pruning claimed
        assert {r.id for r in got.collect()} == {i for i in range(100) if i % 10 == 3}

    def test_partition_values_prune_via_log(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 30), partition_by=["sym"])
        all_files = len(t.read(spark).inputFiles())
        pruned = t.read(spark, where="sym = 'S1'")
        assert len(pruned.inputFiles()) < all_files
        assert pruned.count() == 10

    def test_zorder_compaction_enables_two_key_skipping(self, spark, tmp_path):
        # the round-3 gap: zorder.py's clustered files were plain parquet;
        # committed through the Delta client their narrow min/max on BOTH
        # keys now lands in the LOG and read(where=...) skips on either key
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 4096).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / F.lit(64)).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        t.write(df.repartition(8))
        t.compact(spark, target_files=16, zorder_by=("x", "y"))
        total = len(t.read(spark).inputFiles())
        assert total == 16
        for where, col in (("x <= 7", "x"), ("y <= 7", "y")):
            pruned = t.read(spark, where=where)
            assert len(pruned.inputFiles()) < total // 2, (where, len(pruned.inputFiles()))
            assert pruned.count() == 8 * 64
        # correctness: pruned read == unpruned filtered read
        a = {tuple(r) for r in t.read(spark, where="x <= 7").collect()}
        b = {tuple(r) for r in t.read(spark).filter("x <= 7").collect()}
        assert a == b


class TestRestoreVacuumChanges:
    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))   # v0
        t.write(make_df(spark, 10, 10).coalesce(1))  # v1
        return t

    def test_restore_rolls_back_with_one_commit(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(make_df(spark, 0, 3), mode="overwrite")  # v2: bad overwrite
        v = t.restore(1)
        assert v == 3
        assert {r.id for r in t.read(spark).collect()} == set(range(20))
        # history intact: the bad version still time-travels
        assert t.read(spark, version=2).count() == 3
        ops = {r.version: r.operation for r in t.history(spark).collect()}
        assert ops[3] == "RESTORE"

    def test_restore_undoes_dv_delete(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "id < 5")  # v2
        assert t.read(spark).count() == 15
        t.restore(1)
        assert {r.id for r in t.read(spark).collect()} == set(range(20))

    def test_vacuum_removes_only_unreferenced_old_files(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(make_df(spark, 0, 3).coalesce(1), mode="overwrite")  # v2
        # retention window: nothing old enough yet
        assert t.vacuum() == []
        deleted = t.vacuum(retention_ms=0, force=True)
        assert len(deleted) == 2  # the two overwritten v0/v1 files
        # current snapshot unaffected; time travel to v1 now fails on read
        assert t.read(spark).count() == 3
        with pytest.raises(Exception):
            t.read(spark, version=1).collect()
        # restore to a vacuumed version is refused loudly
        with pytest.raises(ValueError, match="vacuumed"):
            t.restore(1)

    def test_vacuum_keeps_active_dv_sidecars(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "id < 5")
        deleted = t.vacuum(retention_ms=0, force=True)
        assert deleted == []  # data files re-added with DVs; sidecar active
        assert t.read(spark).count() == 15

    def test_change_feed_inserts_and_dv_deletes(self, spark, tmp_path):
        t = self._table(spark, tmp_path)     # v0, v1: inserts
        t.delete(spark, "id % 2 = 0")        # v2: DV delete of 10 rows
        t.delete(spark, "id = 1")            # v3: DV delta of exactly 1 row
        cf = t.read_changes(spark, starting_version=0)
        rows = [(r.id, r._change_type, r._commit_version) for r in cf.collect()]
        inserts = {r[0] for r in rows if r[1] == "insert"}
        assert inserts == set(range(20))
        v2_deletes = {r[0] for r in rows if r[1] == "delete" and r[2] == 2}
        assert v2_deletes == {i for i in range(20) if i % 2 == 0}
        v3_deletes = {r[0] for r in rows if r[1] == "delete" and r[2] == 3}
        assert v3_deletes == {1}  # only the NEW deletion, not the old DV
        # windowed read: only v3
        cf3 = t.read_changes(spark, starting_version=3)
        assert [(r.id, r._change_type) for r in cf3.collect()] == [(1, "delete")]

    def test_change_feed_overwrite_is_full_rewrite(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(make_df(spark, 100, 2).coalesce(1), mode="overwrite")  # v2
        cf = t.read_changes(spark, starting_version=2, ending_version=2)
        rows = {(r.id, r._change_type) for r in cf.collect()}
        assert {(i, "delete") for i in range(20)} <= rows
        assert {(100, "insert"), (101, "insert")} <= rows
        assert len(rows) == 22

    def test_change_feed_optimize_emits_nothing(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        v = t.compact(spark)
        cf = t.read_changes(spark, starting_version=v, ending_version=v)
        assert cf.count() == 0


class TestCheckConstraints:
    def test_constraint_enforced_on_write(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        v = t.add_check_constraint("id_nonneg", "id >= 0")
        # recorded in the table configuration + writer protocol bumped
        meta, _ = t._snapshot_state(None)
        assert meta["configuration"]["delta.constraints.id_nonneg"] == "id >= 0"
        log = open(
            os.path.join(str(tmp_path / "t"), "_delta_log", f"{v:020d}.json")
        ).read()
        assert '"minWriterVersion": 3' in log
        # conforming write passes; violating write refused atomically
        t.write(make_df(spark, 10, 5))
        before = t.read(spark).count()
        bad = spark.createDataFrame([(-1, "S0")], "id long, sym string")
        with pytest.raises(ValueError, match="id_nonneg"):
            t.write(bad)
        assert t.read(spark).count() == before  # nothing committed

    def test_null_passes_false_fails(self, spark, tmp_path):
        # SQL CHECK semantics: NULL is not a violation
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 3))
        t.add_check_constraint("sym_s", "sym LIKE 'S%'")
        t.write(
            spark.createDataFrame([(7, None)], "id long, sym string")
        )  # NULL sym passes
        with pytest.raises(ValueError, match="sym_s"):
            t.write(spark.createDataFrame([(8, "X1")], "id long, sym string"))

    def test_merge_and_drop_constraint(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.add_check_constraint("id_cap", "id < 100")
        # merge funnels through write(): violating source refused
        with pytest.raises(ValueError, match="id_cap"):
            t.merge(
                spark.createDataFrame([(500, "S0")], "id long, sym string"),
                ["id"],
            )
        t.drop_check_constraint("id_cap")
        t.merge(
            spark.createDataFrame([(500, "S0")], "id long, sym string"), ["id"]
        )
        assert t.read(spark).filter(F.col("id") == 500).count() == 1


class TestWriteGuard:
    """Every refusal rule of a Delta write (generated column, NOT NULL,
    CHECK, replaceWhere predicate) is counted in one aggregate before
    anything is staged."""

    @staticmethod
    def _frame(spark, lo, hi, nullable=False):
        """Three columns, all non-nullable unless ``nullable``."""
        cols = {"id": F.col("id"), "a": F.col("id") * 2, "b": F.col("id") % 3}
        return spark.range(lo, hi).select(
            *[
                (F.when(c >= 0, c) if nullable else c).alias(name)
                for name, c in cols.items()
            ]
        ).coalesce(1)

    def _table(self, spark, path, checks=(), nullable=False):
        t = DeltaTable(path)
        t.write(self._frame(spark, 0, 10, nullable))
        for i, expr in enumerate(checks):
            t.add_check_constraint(f"c{i}", expr)
        return t

    @staticmethod
    def _refused(t, build, message):
        """``build()`` raises ``message`` and leaves no version and no
        staged file behind."""
        before = t.latest_version()
        with pytest.raises(ValueError) as err:
            build()
        assert str(err.value) == message
        assert t.latest_version() == before
        assert not [d for d in os.listdir(t.path) if d.startswith("_stage-")]

    def test_guard_jobs_do_not_grow_with_rules(self, spark, tmp_path):
        t = self._table(spark, str(tmp_path / "t"), ["id >= 0"])
        _, one, _ = listing_jobs(
            spark, "guard-one", lambda: t.write(self._frame(spark, 10, 20))
        )
        for i, expr in enumerate(["a >= 0", "b < 3", "a = 2 * id"], 1):
            t.add_check_constraint(f"c{i}", expr)
        # four CHECKs plus three NOT NULL rules on nullable input
        _, seven, _ = listing_jobs(
            spark,
            "guard-seven",
            lambda: t.write(self._frame(spark, 20, 30, nullable=True)),
        )
        assert one == seven
        assert t.read(spark).count() == 30

    def test_no_rule_that_can_fail_runs_no_guard_job(
        self, spark, tmp_path, monkeypatch
    ):
        # nullable and unconstrained; non-nullable fed non-nullable input
        plain = self._table(spark, str(tmp_path / "plain"), nullable=True)
        strict = self._table(spark, str(tmp_path / "strict"))

        def append_jobs(group):
            return [
                listing_jobs(
                    spark,
                    f"{group}-{nullable}",
                    lambda: t.write(self._frame(spark, 10, 20, nullable)),
                )[1]
                for t, nullable in ((plain, True), (strict, False))
            ]

        guarded = append_jobs("guarded")
        monkeypatch.setattr(
            DeltaTable, "_refuse_violations", staticmethod(lambda df, r: None)
        )
        assert guarded == append_jobs("unguarded")

    def test_refusals_stage_nothing(self, spark, tmp_path):
        t = self._table(spark, str(tmp_path / "w"), ["id >= 0"])
        self._refused(
            t,
            lambda: t.write(self._frame(spark, -1, 0)),
            "CHECK constraint 'c0' (id >= 0) violated by 1 row(s); "
            "write refused",
        )
        gen = DeltaTable(str(tmp_path / "g"))
        gen.write(
            spark.range(0, 10).select("id"),
            generated_columns={"g": "CAST(id % 2 AS STRING)"},
        )
        self._refused(
            gen,
            lambda: gen.update(spark, "id = 3", {"g": "'9'"}),
            "UPDATE sets generated column 'g' to values violating its "
            "expression 'CAST(id % 2 AS STRING)' on 1 row(s); omit it to "
            "have it recomputed",
        )
        rw = self._table(spark, str(tmp_path / "rw"))
        self._refused(
            rw,
            lambda: rw.replace_where(self._frame(spark, 3, 7), "id < 5"),
            "2 row(s) of the replacement frame do not satisfy the "
            "replaceWhere predicate 'id < 5' (NULL predicates count as "
            "non-matching)",
        )
        m = self._table(spark, str(tmp_path / "m"), ["id < 100"])
        self._refused(
            m,
            lambda: m.merge(self._frame(spark, 8, 101), ["id"]),
            "CHECK constraint 'c0' (id < 100) violated by 1 row(s); "
            "write refused",
        )

    def test_generated_rule_reported_before_check(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 10).select("id"),
            generated_columns={"g": "CAST(id % 2 AS STRING)"},
        )
        t.add_check_constraint("id_nonneg", "id >= 0")
        bad = spark.range(-3, 0).select("id", F.lit("9").alias("g"))
        with pytest.raises(ValueError, match="^generated column 'g'"):
            t.write(bad)


class TestTimestampTravelAndTxn:
    def test_timestamp_as_of(self, spark, tmp_path):
        import time as _time

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        _time.sleep(0.05)
        between = int(_time.time() * 1000)
        _time.sleep(0.05)
        t.write(make_df(spark, 5, 5))
        assert t.version_at_timestamp(between) == 0
        assert t.read_at_timestamp(spark, between).count() == 5
        # after the last commit -> latest; before the first -> error
        assert t.version_at_timestamp(int(_time.time() * 1000) + 10_000) == 1
        with pytest.raises(ValueError, match="predates"):
            t.version_at_timestamp(between - 3_600_000)

    def test_txn_write_is_idempotent(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5), txn=("job-a", 0))
        t.write(make_df(spark, 5, 5), txn=("job-a", 1))
        assert t.read(spark).count() == 10
        # replaying an already-committed batch is a no-op
        v = t.write(make_df(spark, 5, 5), txn=("job-a", 1))
        assert v == t.latest_version() == 1
        assert t.read(spark).count() == 10
        # a DIFFERENT app's batch 1 still commits
        t.write(make_df(spark, 100, 2), txn=("job-b", 1))
        assert t.read(spark).count() == 12
        assert t.last_txn_version("job-a") == 1
        assert t.last_txn_version("job-b") == 1
        assert t.last_txn_version("nope") is None


class TestSkippingSoundness:
    """Regression tests from the round-4 self-review: data skipping must
    be provably sound for non-conjunctive predicates, and protocol
    upgrades must never drop implied capabilities."""

    def test_or_predicate_disables_pruning_not_results(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 50):
            t.write(make_df(spark, lo, 50).coalesce(1))
        # rows 0..49 satisfy the OR's left branch; the old AND-split
        # treated 'id >= 90' as required and pruned their file
        got = t.read(spark, where="sym = 'S0' OR sym = 'S1' AND id >= 90")
        assert len(got.inputFiles()) == 2  # no pruning claimed
        expect = {
            i for i in range(100) if i % 3 == 0 or (i % 3 == 1 and i >= 90)
        }
        assert {r.id for r in got.collect()} == expect

    def test_not_predicate_disables_pruning(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 50):
            t.write(make_df(spark, lo, 50).coalesce(1))
        got = t.read(spark, where="NOT (id >= 50)")
        assert len(got.inputFiles()) == 2
        assert {r.id for r in got.collect()} == set(range(50))

    def test_balanced_paren_conjuncts_still_prune(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 50):
            t.write(make_df(spark, lo, 50).coalesce(1))
        got = t.read(spark, where="(id >= 60) AND (id < 80)")
        assert len(got.inputFiles()) == 1
        assert {r.id for r in got.collect()} == set(range(60, 80))

    def test_constraint_survives_dv_protocol_upgrade(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.add_check_constraint("id_nonneg", "id >= 0")
        t.delete(spark, "id = 3")  # upgrades to the v7 feature list
        _meta, _adds, proto = t._snapshot_state_full(None)
        assert "checkConstraints" in proto["writerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]
        # and enforcement still fires post-upgrade
        with pytest.raises(ValueError, match="id_nonneg"):
            t.write(spark.createDataFrame([(-5, "S0")], "id long, sym string"))

    def test_constraint_added_after_dv_is_listed(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.delete(spark, "id = 3")
        t.add_check_constraint("id_cap", "id < 1000")
        _meta, _adds, proto = t._snapshot_state_full(None)
        assert "checkConstraints" in proto["writerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]

    def test_checkpoint_carries_txn_state(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5), txn=("app-x", 7))
        v = t.checkpoint(spark)
        cp = pq.read_table(
            os.path.join(str(tmp_path / "t"), "_delta_log",
                         f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        txns = [r["txn"] for r in cp if r.get("txn")]
        assert txns == [{"appId": "app-x", "version": 7, "lastUpdated": txns[0]["lastUpdated"]}]

    def test_checkpoint_carries_tombstones(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.write(make_df(spark, 0, 2).coalesce(1), mode="overwrite")
        v = t.checkpoint(spark)
        cp = pq.read_table(
            os.path.join(str(tmp_path / "t"), "_delta_log",
                         f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        removes = [r["remove"] for r in cp if r.get("remove")]
        assert len(removes) == 1 and removes[0]["path"].endswith(".parquet")


class TestOptimisticConcurrency:
    """The commit point is put-if-absent: of two writers racing for one
    version exactly one wins (a plain rename would silently CLOBBER the
    winner's commit). Blind appends retry against an append-only tail;
    snapshot-reading operations surface ConcurrentWriteError."""

    def _steal_next_version(self, t):
        # simulate a concurrent writer publishing the next commit first
        v = t.latest_version() + 1
        with open(
            os.path.join(t.path, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write(
                json.dumps(
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

    def test_append_retries_past_concurrent_append(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            CommitConflict,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        stolen = self._steal_next_version(t)
        v = t.write(make_df(spark, 5, 5))  # must NOT clobber; retries
        assert v == stolen + 1
        assert t.read(spark).count() == 10
        # the stolen commit's file is intact
        got = open(
            os.path.join(t.path, "_delta_log", f"{stolen:020d}.json")
        ).read()
        assert '"timestamp": 0' in got
        # direct collision raises the internal conflict signal
        with pytest.raises(CommitConflict):
            t._write_commit(v, [{"commitInfo": {"timestamp": 1}}])

    def test_append_conflicts_with_concurrent_overwrite(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            ConcurrentWriteError,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        _meta, adds = t._snapshot_state(None)
        orig = t._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                # concurrent OVERWRITE removes a file in the race window
                v = t.latest_version() + 1
                with open(
                    os.path.join(t.path, "_delta_log", f"{v:020d}.json"), "w"
                ) as fh:
                    fh.write(
                        json.dumps(
                            {
                                "remove": {
                                    "path": adds[0]["path"],
                                    "deletionTimestamp": 0,
                                    "dataChange": True,
                                }
                            }
                        )
                        + "\n"
                    )
            return out

        t._snapshot_state_full = hooked
        with pytest.raises(ConcurrentWriteError, match="non-append"):
            t.write(make_df(spark, 5, 5))

    def _race_after_snapshot(self, t):
        """Interpose the concurrent commit in the REAL race window: after
        this writer takes its snapshot, before it publishes."""
        orig = t._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                self._steal_next_version(t)
            return out

        t._snapshot_state_full = hooked

    def test_overwrite_conflict_surfaces(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            ConcurrentWriteError,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        self._race_after_snapshot(t)
        with pytest.raises(ConcurrentWriteError):
            t.write(make_df(spark, 0, 2), mode="overwrite")
        # the concurrent commit was not clobbered; table state is its view
        assert t.read(spark).count() == 5

    def test_delete_retries_past_irrelevant_commit(self, spark, tmp_path):
        """A DELETE that loses the race to a data-free commit (no adds,
        no removes, no metadata) retries transparently — the conflict
        checker proves the winner cannot hold matching rows. Genuine
        conflicts still surface (TestConflictCheckerRetry)."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        self._race_after_snapshot(t)
        v = t.delete(spark, "id = 1")
        assert v == t.latest_version()
        assert t.read(spark).count() == 4
        assert t.read(spark).filter("id = 1").count() == 0

    def test_txn_append_detects_other_instance_applied_batch(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        # a concurrent instance of the SAME app committed our batch id
        v = t.latest_version() + 1
        with open(
            os.path.join(t.path, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write(json.dumps({"txn": {"appId": "app-z", "version": 4}}) + "\n")
        out = t.write(make_df(spark, 5, 5), txn=("app-z", 4))
        assert out == v  # no-op: batch already applied by the other instance
        assert t.read(spark).count() == 5


class TestMultiPartCheckpoint:
    def test_multipart_checkpoint_roundtrip(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(4):
            t.write(make_df(spark, i * 5, 5).coalesce(1))
        v = t.checkpoint(spark, parts=3)
        names = sorted(os.listdir(str(tmp_path / "t" / "_delta_log")))
        part_files = [n for n in names if ".checkpoint.00" in n]
        assert len(part_files) == 3
        assert json.load(
            open(str(tmp_path / "t/_delta_log/_last_checkpoint"))
        )["parts"] == 3
        # snapshot rebuilt from the multi-part checkpoint + tail
        t.write(make_df(spark, 20, 3).coalesce(1))
        assert {r.id for r in t.read(spark).collect()} == set(range(23))
        # DVs and protocol survive part distribution too
        t.delete(spark, "id < 2")
        t.checkpoint(spark, parts=2)
        t.write(make_df(spark, 23, 2).coalesce(1))
        assert {r.id for r in t.read(spark).collect()} == set(range(2, 25))


class TestTxnRetryBranch:
    def test_retry_loop_detects_racing_instance_of_same_app(self, spark, tmp_path):
        """The OTHER txn-idempotence path: the pre-check passes (no txn
        recorded yet), the commit RACE is lost, and the interleaved
        commit turns out to be OUR OWN app's batch — the retry loop must
        return as a no-op, not double-apply."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        orig = t._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                v = t.latest_version() + 1
                with open(
                    os.path.join(t.path, "_delta_log", f"{v:020d}.json"), "w"
                ) as fh:
                    fh.write(
                        json.dumps({"txn": {"appId": "app-r", "version": 5}})
                        + "\n"
                    )
            return out

        t._snapshot_state_full = hooked
        out = t.write(make_df(spark, 5, 5), txn=("app-r", 5))
        assert out == t.latest_version()
        assert t.read(spark).count() == 5  # our batch was NOT double-applied


class TestDescribeDetail:
    def test_detail_reports_log_facts(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 20).coalesce(1), partition_by=["sym"])
        t.add_check_constraint("id_nonneg", "id >= 0")
        t.delete(spark, "id < 3")
        r = t.detail(spark).collect()[0]
        assert r.format == "delta"
        assert r.partition_columns == ["sym"]
        assert r.num_files == 3  # one per sym partition, re-added with DVs
        assert r.num_rows == 20  # physical rows (DV'd rows still in files)
        assert r.num_deletion_vectors == 3
        assert r.min_reader_version == 3
        assert "deletionVectors" in r.reader_features
        assert "checkConstraints" in r.writer_features
        assert r.properties["delta.constraints.id_nonneg"] == "id >= 0"
        assert r.size_in_bytes > 0


class TestNestedColumnMapping:
    """Nested-struct column mapping (round-4 verdict item 4): inner
    struct fields carry their own physicalName metadata; renames at any
    struct depth are metadata-only; reads rebuild logical names via
    positional struct casts (Spark) / StructArray rebuilds (pure
    python); appends after a nested rename stage physical names at
    every level."""

    def _mk(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 6).select(
            F.col("id"),
            F.when(
                F.col("id") < 5,
                F.struct(
                    (F.col("id") * 2).alias("a"),
                    F.concat(F.lit("s"), F.col("id").cast("string")).alias("b"),
                    F.struct((F.col("id") + 100).alias("deep")).alias("inner"),
                ),
            ).alias("s"),  # id=5 -> NULL struct: casts must preserve it
        )
        t.write(df.repartition(2))
        t.enable_column_mapping()
        return t

    def _renamed(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.rename_column("s", "payload")
        t.rename_column("payload.a", "alpha")
        t.rename_column("payload.inner.deep", "depth")
        return t

    def test_nested_rename_batch_read(self, spark, tmp_path):
        t = self._renamed(spark, tmp_path)
        got = t.read(spark)
        assert set(got.columns) == {"id", "s"} - {"s"} | {"payload"}
        row = got.filter("id = 2").collect()[0]
        assert row.payload.alpha == 4
        assert row.payload.b == "s2"
        assert row.payload.inner.depth == 102
        assert got.filter("id = 5").collect()[0].payload is None

    def test_append_after_nested_rename(self, spark, tmp_path):
        t = self._renamed(spark, tmp_path)
        extra = spark.range(6, 8).select(
            F.col("id"),
            F.struct(
                (F.col("id") * 2).alias("alpha"),
                F.concat(F.lit("s"), F.col("id").cast("string")).alias("b"),
                F.struct((F.col("id") + 100).alias("depth")).alias("inner"),
            ).alias("payload"),
        )
        t.write(extra)
        got = t.read(spark)
        assert got.count() == 8
        assert got.filter("payload.alpha = 14").collect()[0].id == 7
        # the staged file must use PHYSICAL nested names: reread one raw
        import pyarrow.parquet as pq

        root = str(tmp_path / "t")
        newest = max(
            (f for f in os.listdir(root) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(root, f)),
        )
        names = pq.read_schema(os.path.join(root, newest)).names
        assert "payload" not in names and "s" in names  # physical outer

    def test_nested_rename_to_pandas_and_pyds(self, spark, tmp_path):
        t = self._renamed(spark, tmp_path)
        pdf = t.to_pandas()
        assert sorted(pdf.columns) == ["id", "payload"]
        by_id = {r["id"]: r["payload"] for _, r in pdf.iterrows()}
        assert by_id[2]["alpha"] == 4 and by_id[2]["b"] == "s2"
        assert by_id[2]["inner"]["depth"] == 102
        assert by_id[5] is None
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", t.path).load()
        row = out.filter("id = 2").collect()[0]
        assert row.payload.alpha == 4 and row.payload.inner.depth == 102
        assert out.filter("id = 5").collect()[0].payload is None

    def test_merge_and_compact_preserve_nested_mapping(self, spark, tmp_path):
        t = self._renamed(spark, tmp_path)
        src = spark.range(2, 3).select(
            F.col("id"),
            F.struct(
                F.lit(999).cast("long").alias("alpha"),
                F.lit("merged").alias("b"),
                F.struct(F.lit(7).cast("long").alias("depth")).alias("inner"),
            ).alias("payload"),
        )
        t.merge(src, ["id"])
        row = t.read(spark).filter("id = 2").collect()[0]
        assert row.payload.alpha == 999 and row.payload.b == "merged"
        t.compact(spark)
        row = t.read(spark).filter("id = 2").collect()[0]
        assert row.payload.inner.depth == 7
        assert t.read(spark).count() == 6

    def test_evolution_adds_mapped_struct_column(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        extra = spark.range(6, 8).select(
            F.col("id"),
            F.struct(
                (F.col("id") * 2).alias("a"),
                F.lit("x").alias("b"),
                F.struct((F.col("id") + 100).alias("deep")).alias("inner"),
            ).alias("s"),
            F.struct(F.lit(1).cast("long").alias("u")).alias("added"),
        )
        t.write(extra, merge_schema=True)
        import json as _json

        meta, _ = t._snapshot_state(None)
        fj = next(
            f
            for f in _json.loads(meta["schemaString"])["fields"]
            if f["name"] == "added"
        )
        # the new column AND its nested field both got synthetic physical names
        assert fj["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
        inner = fj["type"]["fields"][0]
        assert inner["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
        got = t.read(spark)
        assert got.filter("id = 7").collect()[0].added.u == 1
        assert got.filter("id = 2").collect()[0].added is None

    def test_rename_through_array_and_map(self, spark, tmp_path):
        """Round-6 verdict item 5: struct fields inside ARRAY elements
        and MAP values rename (metadata-only), and EVERY read path
        projects both file generations — the Spark positional cast, the
        pure-python `to_pandas` rebuild, and (in test_pyds) the pydelta
        source; arrays of structs are the most common nested shape in
        real mapped tables (every list-of-objects JSON ingest)."""
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 4).select(
            F.col("id"),
            F.when(
                F.col("id") < 3,
                F.array(
                    F.struct(
                        F.col("id").alias("v"),
                        F.concat(F.lit("t"), F.col("id").cast("string"))
                        .alias("tag"),
                    )
                ),
            ).alias("arr"),  # id=3 -> NULL array: rebuild must keep it
            F.create_map(
                F.lit("k"), F.struct((F.col("id") * 10).alias("c"))
            ).alias("mp"),
        )
        t.write(df.repartition(2))
        t.enable_column_mapping()
        t.rename_column("arr.v", "val")  # through the array element
        t.rename_column("mp.c", "gamma")  # through the map value
        t.rename_column("arr", "items")
        # post-rename append stages PHYSICAL names inside the containers
        t.write(
            spark.range(10, 12).select(
                F.col("id"),
                F.array(
                    F.struct(
                        (F.col("id") + 1).alias("val"),
                        F.lit("new").alias("tag"),
                    )
                ).alias("items"),
                F.create_map(
                    F.lit("k"), F.struct((F.col("id") * 10).alias("gamma"))
                ).alias("mp"),
            )
        )
        got = t.read(spark)
        assert set(got.columns) == {"id", "items", "mp"}
        r1 = got.filter("id = 1").collect()[0]
        assert (r1.items[0].val, r1.items[0].tag) == (1, "t1")
        assert r1.mp["k"].gamma == 10
        assert got.filter("id = 3").collect()[0].items is None
        r10 = got.filter("id = 10").collect()[0]
        assert (r10.items[0].val, r10.mp["k"].gamma) == (11, 100)
        # pure-python reader: same projection incl. both generations
        pdf = t.to_pandas().set_index("id")
        assert pdf.loc[1, "items"][0]["val"] == 1
        assert pdf.loc[1, "items"][0]["tag"] == "t1"
        assert dict(pdf.loc[1, "mp"])["k"]["gamma"] == 10
        assert pdf.loc[3, "items"] is None
        assert pdf.loc[10, "items"][0]["val"] == 11
        assert dict(pdf.loc[10, "mp"])["k"]["gamma"] == 100
        # a non-struct leaf through a container still refuses
        with pytest.raises(ValueError, match="not a struct"):
            t.rename_column("items.val.x", "y")


class TestDvUpdate:
    """UPDATE via deletion vectors + append: one atomic commit flags the
    old images in per-file DVs (executor-built blobs) and appends the
    updated images — no rewrite of untouched rows in matched files."""

    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 100)
            .select(
                F.col("id"),
                (F.col("id") % 7).alias("grp"),
                (F.col("id") * 10).cast("double").alias("v"),
            )
            .repartition(4)
        )
        return t

    def test_update_roundtrip_no_rewrite(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        files_before = {
            f for f in os.listdir(str(tmp_path / "t")) if f.endswith(".parquet")
        }
        v = t.update(spark, "grp = 3", {"v": "v + 100000"})
        assert v == 1
        got = t.read(spark)
        assert got.count() == 100  # no rows gained or lost
        hit = got.filter("grp = 3")
        assert hit.count() == 100 // 7  # ids 3,10,...,94
        assert hit.filter("v < 100000").count() == 0
        assert got.filter("grp != 3").filter("v >= 100000").count() == 0
        # original files survive untouched; only new appended files + DVs
        files_after = {
            f for f in os.listdir(str(tmp_path / "t")) if f.endswith(".parquet")
        }
        assert files_before <= files_after
        # one atomic commit
        assert t.latest_version() == 1

    def test_update_then_delete_then_update(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.update(spark, "id < 10", {"v": "0.0"})
        t.delete(spark, "id >= 90")
        t.update(spark, "v = 0.0", {"v": "1.0"})
        got = t.read(spark)
        assert got.count() == 90
        assert got.filter("v = 1.0").count() == 10
        assert got.filter("v = 0.0").count() == 0

    def test_update_moves_partition(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 20).select(
            F.col("id"),
            F.when(F.col("id") < 15, F.lit("a")).otherwise(F.lit("b")).alias("part"),
        )
        t.write(df, partition_by=["part"])
        t.update(spark, "id % 5 = 0", {"part": "'moved'"})
        got = t.read(spark)
        assert got.count() == 20
        assert got.filter("part = 'moved'").count() == 4
        assert {r.id for r in got.filter("part = 'moved'").collect()} == {0, 5, 10, 15}
        # JVM-free read agrees (partition columns come from the log)
        pdf = t.to_pandas()
        assert (pdf["part"] == "moved").sum() == 4

    def test_update_respects_constraints(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.add_check_constraint("v_nonneg", "v >= 0")
        with pytest.raises(ValueError, match="v_nonneg"):
            t.update(spark, "grp = 1", {"v": "-1.0"})
        assert t.read(spark).filter("v < 0").count() == 0

    def test_update_txn_replay_noop(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.update(spark, "grp = 2", {"v": "v + 1"}, txn=("updater", 7))
        v_after = t.latest_version()
        t.update(spark, "grp = 2", {"v": "v + 1"}, txn=("updater", 7))
        assert t.latest_version() == v_after  # replay skipped
        total = t.read(spark).agg(F.sum("v")).collect()[0][0]
        base = sum(i * 10 for i in range(100)) + 100 // 7  # +1 per grp-2 row, once
        assert total == base

    def test_update_no_match_still_commits(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        v = t.update(spark, "id = 12345", {"v": "0.0"})
        assert v == 1
        assert t.read(spark).count() == 100

    def test_update_set_swap_semantics(self, spark, tmp_path):
        # SQL UPDATE evaluates every SET RHS against the PRE-update row
        # (one simultaneous projection): SET a=b, b=a must SWAP — a
        # chained withColumn would copy b into both
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 10).select(
                F.col("id"),
                (F.col("id") + 100).alias("a"),
                (F.col("id") + 200).alias("b"),
            )
        )
        t.update(spark, "id < 5", {"a": "b", "b": "a"})
        got = {r.id: (r.a, r.b) for r in t.read(spark).collect()}
        for i in range(5):
            assert got[i] == (i + 200, i + 100)  # swapped
        for i in range(5, 10):
            assert got[i] == (i + 100, i + 200)  # untouched


class TestShallowClone:
    """Shallow CLONE: a new table whose commit-0 references the source's
    files by absolute path — zero data copied, independent evolution."""

    def _src(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "src"))
        t.write(make_df(spark, 0, 20).coalesce(1), partition_by=["sym"])
        t.delete(spark, "id < 2")  # clone must carry the DVs too
        return t

    def test_clone_reads_equal_source(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        clone = src.clone_to(str(tmp_path / "fork"))
        assert clone.latest_version() == 0
        s = {tuple(r) for r in src.read(spark).collect()}
        c = {tuple(r) for r in clone.read(spark).collect()}
        assert s == c and len(c) == 18
        # zero data files under the clone root
        files = [
            f
            for f in os.listdir(str(tmp_path / "fork"))
            if f.endswith(".parquet")
        ]
        assert files == []
        # JVM-free read agrees
        assert len(clone.to_pandas()) == 18

    def test_clone_evolves_independently(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        clone = src.clone_to(str(tmp_path / "fork"))
        clone.write(make_df(spark, 100, 5).coalesce(1), partition_by=["sym"])
        clone.delete(spark, "id = 3")
        assert clone.read(spark).count() == 18 + 5 - 1
        assert src.read(spark).count() == 18  # source untouched
        # the clone's new data files landed under ITS root
        files = [
            f
            for f in os.listdir(str(tmp_path / "fork"))
            if f.endswith(".parquet")
        ]
        assert files == []  # partitioned: files under sym=... dirs
        assert clone.read(spark).filter("id >= 100").count() == 5

    def test_clone_vacuum_never_touches_source(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        clone = src.clone_to(str(tmp_path / "fork"))
        # compact materializes local files and drops the absolute refs
        clone.compact(spark)
        deleted = clone.vacuum(retention_ms=0, force=True)
        # vacuum removed nothing outside its root; source still reads
        assert all(not d.startswith("/") for d in deleted)
        assert src.read(spark).count() == 18
        assert clone.read(spark).count() == 18

    def test_clone_time_travel_snapshot(self, spark, tmp_path):
        src = DeltaTable(str(tmp_path / "src"))
        src.write(make_df(spark, 0, 10).coalesce(1))
        src.write(make_df(spark, 10, 10).coalesce(1))
        clone = src.clone_to(str(tmp_path / "fork0"), version=0)
        assert clone.read(spark).count() == 10
        assert src.read(spark).count() == 20

    def test_clone_target_exists_refused(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        src.clone_to(str(tmp_path / "fork"))
        with pytest.raises(ValueError, match="already exists"):
            src.clone_to(str(tmp_path / "fork"))

    def test_clone_not_streamable(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        clone = src.clone_to(str(tmp_path / "fork"))
        with pytest.raises(NotImplementedError, match="shallow clone"):
            clone.read_stream(spark)


class TestForkWithHistory:
    """Full-history fork: every commit JSON reproduced with absolute
    file references — the log-exercising fixture primitive (history /
    time travel / CDF replay identically; clone_to collapses these)."""

    def _src(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "src"))
        t.write(make_df(spark, 0, 10).coalesce(1), txn=("app", 1))  # v0
        t.write(make_df(spark, 10, 10).coalesce(1))  # v1
        t.delete(spark, "id < 3")  # v2: DV sidecar under src root
        return t

    def test_history_and_reads_replay_identically(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        fork = src.fork_with_history(str(tmp_path / "fork"))
        assert fork.latest_version() == 2
        for v in (0, 1, 2, None):
            s = {tuple(r) for r in src.read(spark, version=v).collect()}
            f = {tuple(r) for r in fork.read(spark, version=v).collect()}
            assert s == f, f"version {v} diverged"
        sh = [tuple(r) for r in src.history(spark).drop("timestamp").collect()]
        fh = [tuple(r) for r in fork.history(spark).drop("timestamp").collect()]
        assert sh == fh
        assert fork.last_txn_version("app") == 1
        # change feed replays per-commit (the thing clone_to cannot do)
        fc = fork.read_changes(spark, starting_version=0)
        assert fc.filter("_change_type = 'delete'").count() == 3

    def test_fork_evolves_independently(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        n_src = src.read(spark).count()
        fork = src.fork_with_history(str(tmp_path / "fork"))
        fork.delete(spark, "id >= 15")  # DV lands under FORK root
        fork.write(make_df(spark, 100, 5).coalesce(1))
        assert src.read(spark).count() == n_src
        assert src.latest_version() == 2
        assert fork.read(spark).count() == n_src - 5 + 5
        # fresh table id, same schema
        src_id = src._snapshot_state(None)[0]["id"]
        fork_id = fork._snapshot_state(None)[0]["id"]
        assert src_id != fork_id

    def test_refuses_checkpointed_or_compacted_logs(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        src.compact_log(0, 2)
        with pytest.raises(ValueError, match="all-JSON"):
            src.fork_with_history(str(tmp_path / "f1"))
        t2 = DeltaTable(str(tmp_path / "src2"))
        t2.write(make_df(spark, 0, 5).coalesce(1))
        t2.write(make_df(spark, 5, 5).coalesce(1))
        t2.checkpoint(spark)
        with pytest.raises(ValueError, match="all-JSON"):
            t2.fork_with_history(str(tmp_path / "f2"))
        with pytest.raises(ValueError, match="already exists"):
            self._src(spark, tmp_path / "s3").fork_with_history(
                str(tmp_path / "src2")
            )


class TestGeneratedColumns:
    """Writer feature `generatedColumns` (writer protocol v4): a column
    declared with delta.generationExpression is computed when omitted,
    validated when supplied, kept consistent through UPDATE — the
    date-partition pattern of medallion pipelines."""

    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 20).select(
            F.col("id"),
            (F.col("id") % 2).alias("half"),
        )
        # writer OMITS the generated column entirely: it is computed
        t.write(
            df,
            partition_by=["bucket"],
            generated_columns={"bucket": "CAST(id % 4 AS STRING)"},
        )
        return t

    def test_generated_partition_computed_and_pruned(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        got = t.read(spark)
        assert set(got.columns) == {"id", "half", "bucket"}
        assert got.filter("bucket = '3'").count() == 5
        assert {r.id % 4 for r in got.filter("bucket = '1'").collect()} == {1}
        # log-level skipping works on the generated partition column
        pruned = t.read(spark, where="bucket = '2'")
        assert pruned.count() == 5
        # protocol fenced at writer v4
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minWriterVersion"] >= 4

    def test_append_computes_and_validates(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        # omitted -> computed
        t.write(
            spark.range(100, 104).select(
                F.col("id"), (F.col("id") % 2).alias("half")
            ),
            partition_by=["bucket"],
        )
        assert t.read(spark).filter("id >= 100").count() == 4
        assert (
            t.read(spark).filter("id = 101").collect()[0].bucket == "1"
        )
        # supplied-and-correct -> accepted
        t.write(
            spark.range(200, 202).select(
                F.col("id"),
                (F.col("id") % 2).alias("half"),
                (F.col("id") % 4).cast("string").alias("bucket"),
            ),
            partition_by=["bucket"],
        )
        assert t.read(spark).count() == 26
        # supplied-and-wrong -> refused
        with pytest.raises(ValueError, match="generated column"):
            t.write(
                spark.range(300, 302).select(
                    F.col("id"),
                    (F.col("id") % 2).alias("half"),
                    F.lit("9").alias("bucket"),
                ),
                partition_by=["bucket"],
            )

    def test_update_recomputes_generated(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        # changing the SOURCE column moves the generated partition value
        t.update(spark, "id = 3", {"id": "40"})
        got = t.read(spark)
        assert got.filter("id = 40").collect()[0].bucket == "0"
        assert got.filter("bucket = '3'").count() == 4  # 3 left the bucket
        # setting the generated column inconsistently is refused
        with pytest.raises(ValueError, match="violating its expression"):
            t.update(spark, "id = 5", {"bucket": "'2'"})

    def test_declare_on_existing_table_refused(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="table creation"):
            t.write(
                spark.range(0, 2).select(
                    F.col("id"), (F.col("id") % 2).alias("half")
                ),
                partition_by=["bucket"],
                generated_columns={"bucket": "CAST(id % 4 AS STRING)"},
            )


def test_generated_table_dv_upgrade_keeps_feature_fence(spark, tmp_path):
    # DV delete on a generated-column table upgrades to the v7 feature
    # list; generatedColumns must survive the translation or any
    # feature-listing writer could violate the invariant
    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        spark.range(0, 10).select("id"),
        generated_columns={"b": "CAST(id % 2 AS STRING)"},
    )
    t.delete(spark, "id = 3")
    _m, _a, proto = t._snapshot_state_full(None)
    assert proto["minWriterVersion"] == 7
    assert "generatedColumns" in proto["writerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    # and the invariant still enforces post-upgrade
    with pytest.raises(ValueError, match="generated column"):
        t.write(
            spark.range(20, 22).select(
                F.col("id"), F.lit("x").alias("b")
            )
        )
    assert t.read(spark).count() == 9


class TestChangeDataFeedFiles:
    """Spec `cdc` actions (delta.enableChangeDataFeed): UPDATE/DELETE
    stage real change images under _change_data/, read_changes uses
    them exclusively per commit — including the update pre/post images
    log synthesis cannot produce."""

    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 12).select(
                F.col("id"), (F.col("id") * 10).alias("v")
            )
        )
        t.enable_change_data_feed()
        return t

    def test_update_emits_pre_and_post_images(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.update(spark, "id < 3", {"v": "v + 1000"})
        ch = t.read_changes(spark, starting_version=2).collect()
        pre = {(r.id, r.v) for r in ch if r._change_type == "update_preimage"}
        post = {(r.id, r.v) for r in ch if r._change_type == "update_postimage"}
        assert pre == {(0, 0), (1, 10), (2, 20)}
        assert post == {(0, 1000), (1, 1010), (2, 1020)}
        assert len(ch) == 6  # NO synthesized delete+insert alongside
        assert {r._commit_version for r in ch} == {2}

    def test_delete_emits_cdc_rows_not_synthesis(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete(spark, "id >= 10")
        ch = t.read_changes(spark, starting_version=2).collect()
        assert {(r.id, r._change_type) for r in ch} == {
            (10, "delete"),
            (11, "delete"),
        }
        # the cdc files are invisible to normal reads
        assert t.read(spark).count() == 10
        import os as _os

        assert _os.path.isdir(_os.path.join(t.path, "_change_data"))

    def test_pre_enable_commits_still_synthesize(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 6).select("id"))
        t.delete(spark, "id = 0")  # v1: BEFORE enabling -> synthesized
        t.enable_change_data_feed()  # v2
        t.delete(spark, "id = 1")  # v3: real cdc
        ch = t.read_changes(spark, starting_version=0).collect()
        by_v = {}
        for r in ch:
            by_v.setdefault(r._commit_version, set()).add(
                (r.id, r._change_type)
            )
        assert by_v[1] == {(0, "delete")}
        assert by_v[3] == {(1, "delete")}
        assert by_v[0] == {(i, "insert") for i in range(6)}

    def test_partitioned_cdc_roundtrip(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 12).select(
                F.col("id"),
                (F.col("id") % 3).cast("string").alias("part"),
                (F.col("id") * 1.0).alias("v"),
            ),
            partition_by=["part"],
        )
        t.enable_change_data_feed()
        t.update(spark, "part = '1'", {"v": "v * -1"})
        ch = t.read_changes(spark, starting_version=2).collect()
        assert all(r.part == "1" for r in ch)
        pre = {r.id for r in ch if r._change_type == "update_preimage"}
        assert pre == {1, 4, 7, 10}
        assert {
            r.v for r in ch if r._change_type == "update_postimage"
        } == {-1.0, -4.0, -7.0, -10.0}

    def test_pyds_stream_uses_cdc_images(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import (
            pyds,
        )

        t = self._table(spark, tmp_path)
        t.update(spark, "id = 5", {"v": "999"})
        pyds.register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            spark.readStream.format("pydelta")
            .option("path", t.path)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        err = q.exception()
        if err:
            raise err
        ch = spark.read.parquet(out)
        got = {
            (r.id, r.v, r._change_type)
            for r in ch.filter("_commit_version = 2").collect()
        }
        assert got == {
            (5, 50, "update_preimage"),
            (5, 999, "update_postimage"),
        }


class TestInCommitTimestamps:
    """Writer feature inCommitTimestamp: monotonic timestamps INSIDE
    commitInfo; TIMESTAMP AS OF resolves against them — immune to
    file-mtime skew."""

    def test_stamps_are_monotonic_and_resolve_travel(self, spark, tmp_path):
        import json as _json
        import os as _os

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 4).select("id"))
        t.enable_in_commit_timestamps()
        t.write(spark.range(4, 8).select("id"))
        t.delete(spark, "id = 0")
        log = _os.path.join(t.path, "_delta_log")
        icts = {}
        for v in (1, 2, 3):
            for line in open(
                _os.path.join(log, "%020d.json" % v)
            ).read().splitlines():
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts[v] = a["commitInfo"].get("inCommitTimestamp")
        assert all(icts[v] is not None for v in (1, 2, 3))
        assert icts[1] < icts[2] < icts[3]
        # spec: commitInfo is the FIRST action of an ICT commit
        first = _json.loads(
            open(_os.path.join(log, "%020d.json" % 3)).readline()
        )
        assert "commitInfo" in first
        # protocol fenced: v7 feature list carries the feature + implied
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minWriterVersion"] == 7
        assert "inCommitTimestamp" in proto["writerFeatures"]
        assert "appendOnly" in proto["writerFeatures"]
        # travel by ICT: version 2's stamp resolves to version 2 even if
        # commit-file mtimes are shuffled (skew simulation)
        for v in (1, 2, 3):
            _os.utime(_os.path.join(log, "%020d.json" % v), (1, 1))
        assert t.version_at_timestamp(icts[2]) == 2
        assert t.read_at_timestamp(spark, icts[2]).count() == 8

    def test_monotonic_under_clock_stall(self, spark, tmp_path, monkeypatch):
        # same wall-clock millisecond for two commits: the second must
        # still stamp prior+1
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 2).select("id"))
        t.enable_in_commit_timestamps()
        import cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta as dmod

        frozen = 1_700_000_000_000 / 1000.0
        monkeypatch.setattr(dmod.time, "time", lambda: frozen)
        t.write(spark.range(2, 4).select("id"))
        t.write(spark.range(4, 6).select("id"))
        import json as _json
        import os as _os

        log = _os.path.join(t.path, "_delta_log")
        icts = []
        for v in (2, 3):
            for line in open(
                _os.path.join(log, "%020d.json" % v)
            ).read().splitlines():
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts.append(a["commitInfo"]["inCommitTimestamp"])
        assert icts[1] == icts[0] + 1  # strictly increasing despite stall

    def test_enablement_provenance_and_two_regime_travel(self, spark, tmp_path):
        """Enabling ICT on an EXISTING table stamps the spec's provenance
        properties (enablementVersion/-Timestamp == the enabling commit's
        own ict), and TIMESTAMP AS OF is two-regime: at/after the first
        ict only inCommitTimestamps are consulted, so a pre-enablement
        commit with a skewed-huge legacy timestamp cannot shadow later
        versions."""
        import json as _json
        import os as _os

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 2).select("id"))   # v0 (legacy)
        t.write(spark.range(2, 4).select("id"))   # v1 (legacy)
        t.enable_in_commit_timestamps()           # v2 = enabling commit
        t.write(spark.range(4, 6).select("id"))   # v3 (ict)
        log = _os.path.join(t.path, "_delta_log")

        def _actions(v):
            with open(_os.path.join(log, "%020d.json" % v)) as fh:
                return [_json.loads(x) for x in fh.read().splitlines()]

        ict2 = next(
            a["commitInfo"]["inCommitTimestamp"]
            for a in _actions(2)
            if "commitInfo" in a
        )
        conf = next(
            a["metaData"]["configuration"]
            for a in _actions(2)
            if "metaData" in a
        )
        assert conf["delta.inCommitTimestampEnablementVersion"] == "2"
        assert conf["delta.inCommitTimestampEnablementTimestamp"] == str(ict2)

        # skew simulation: v0 gets a tiny known legacy timestamp, v1 a
        # HUGE one (mtime/NTP lies); rewrite the commit files in place
        for v, ts in ((0, 1_000), (1, ict2 + 10_000_000)):
            path = _os.path.join(log, "%020d.json" % v)
            out = []
            for a in _actions(v):
                if "commitInfo" in a:
                    a = {"commitInfo": {**a["commitInfo"], "timestamp": ts}}
                out.append(_json.dumps(a))
            with open(path, "w") as fh:
                fh.write("\n".join(out) + "\n")

        ict3 = next(
            a["commitInfo"]["inCommitTimestamp"]
            for a in _actions(3)
            if "commitInfo" in a
        )
        # ict regime: v1's huge legacy ts is IGNORED at/after the boundary
        assert t.version_at_timestamp(ict2) == 2
        assert t.version_at_timestamp(ict3) == 3
        assert t.version_at_timestamp(ict3 + 10_000_000_000) == 3
        # legacy regime below the boundary: only pre-enablement commits,
        # and v1's skewed ts keeps it out of range here too
        assert t.version_at_timestamp(ict2 - 1) == 0
        assert t.version_at_timestamp(1_000) == 0
        with pytest.raises(ValueError, match="predates"):
            t.version_at_timestamp(999)
        # reads agree with resolution across the boundary
        assert t.read_at_timestamp(spark, ict2).count() == 4
        assert t.read_at_timestamp(spark, ict3).count() == 6

class TestArrowNullFillOlderNestedFiles:
    """A column-mapped table whose older files predate a nested
    struct-field addition (foreign-writer schema evolution): the
    pure-python readers must null-fill the trailing missing fields —
    matching the top-level missing-column handling — instead of
    crashing with IndexError."""

    def test_arrow_to_logical_names_null_fills_trailing(self):
        import pyarrow as pa
        from pyspark.sql import types as T

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            _arrow_to_logical_names,
        )

        # file struct has 1 field (physical name), logical schema has 2
        arr = pa.array(
            [{"col-a": 1}, {"col-a": 2}, None],
            type=pa.struct([pa.field("col-a", pa.int64())]),
        )
        dt = T.StructType(
            [
                T.StructField("alpha", T.LongType()),
                T.StructField("beta", T.StringType()),
            ]
        )
        got = _arrow_to_logical_names(arr, dt)
        assert got.type.num_fields == 2
        assert got.type.field(0).name == "alpha"
        assert got.type.field(1).name == "beta"
        assert got.to_pylist() == [
            {"alpha": 1, "beta": None},
            {"alpha": 2, "beta": None},
            None,
        ]

    def test_arrow_to_logical_names_null_fills_nested_struct(self):
        import pyarrow as pa
        from pyspark.sql import types as T

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            _arrow_to_logical_names,
        )

        # the missing trailing field is itself a struct
        arr = pa.array(
            [{"col-a": 7}],
            type=pa.struct([pa.field("col-a", pa.int64())]),
        )
        dt = T.StructType(
            [
                T.StructField("alpha", T.LongType()),
                T.StructField(
                    "inner",
                    T.StructType([T.StructField("deep", T.LongType())]),
                ),
            ]
        )
        got = _arrow_to_logical_names(arr, dt)
        assert got.to_pylist() == [{"alpha": 7, "inner": None}]


class TestReorgAndSelectiveCompact:
    """REORG ... APPLY (PURGE) and selective OPTIMIZE: layout
    maintenance that touches ONLY the files needing it — DV'd files
    (purge) or the partitions an OPTIMIZE ... WHERE names — committed
    dataChange=false."""

    def _active(self, t):
        _m, adds = t._snapshot_state(None)
        return {os.path.basename(a["path"]): a for a in adds}

    def test_reorg_purge_rewrites_only_dvd_files(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id").coalesce(1))   # file A
        t.write(spark.range(10, 20).select("id").coalesce(1))  # file B
        t.delete(spark, "id < 5")  # DV on file A only
        before = self._active(t)
        dvd = {n for n, a in before.items() if a.get("deletionVector")}
        clean = set(before) - dvd
        assert len(dvd) == 1 and len(clean) == 1
        v = t.reorg_purge(spark)
        assert v == t.latest_version()
        after = self._active(t)
        # no DV survives; the clean file is the SAME physical file
        assert not any(a.get("deletionVector") for a in after.values())
        assert clean <= set(after)
        assert dvd.isdisjoint(set(after))
        # rows identical; the purged rewrite holds only survivors
        assert sorted(r.id for r in t.read(spark).collect()) == list(range(5, 20))
        new_name = next(iter(set(after) - clean))
        import pyarrow.parquet as pq

        assert pq.ParquetFile(
            os.path.join(t.path, new_name)
        ).metadata.num_rows == 5
        # the commit is pure layout: every add/remove dataChange=false
        for a in t._read_commit(v):
            if "add" in a:
                assert a["add"]["dataChange"] is False
            if "remove" in a:
                assert a["remove"]["dataChange"] is False

    def test_reorg_purge_noop_without_dvs(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        v_before = t.latest_version()
        assert t.reorg_purge(spark) is None
        assert t.latest_version() == v_before

    def test_reorg_purge_partitioned_mapped(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        df = spark.range(0, 20).select(
            F.col("id"),
            F.when(F.col("id") < 10, "a").otherwise("b").alias("part"),
        )
        t.write(df.repartition(1), partition_by=["part"])
        t.enable_column_mapping()
        t.rename_column("id", "ident")
        t.delete(spark, "ident % 2 = 0 AND part = 'a'")
        v = t.reorg_purge(spark)
        assert v is not None
        after = self._active(t)
        assert not any(a.get("deletionVector") for a in after.values())
        got = t.read(spark)
        assert got.count() == 15
        assert got.filter("part = 'a'").count() == 5
        # JVM-free read agrees post-purge
        assert len(t.to_pandas()) == 15

    def test_optimize_where_scopes_to_matching_partitions(
        self, spark, tmp_path
    ):
        """OPTIMIZE ... WHERE: only the predicate's partitions rewrite;
        other partitions' files are untouched and absent from the
        commit; the predicate evaluates with full SQL semantics over
        TYPED partition values."""
        from pyspark.sql import functions as F

        t = DeltaTable(str(tmp_path / "t"))
        for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
            for k in range(3):  # 3 small files per partition
                t.write(
                    spark.range(k * 10, k * 10 + 10)
                    .select(
                        "id", F.lit(day).cast("date").alias("day")
                    )
                    .coalesce(1),
                    partition_by=["day"],
                )
        before = self._active(t)
        assert len(before) == 9
        v = t.compact(
            spark, where="day >= DATE'2024-01-02'", target_files=1
        )
        assert v == t.latest_version()
        after = self._active(t)
        jan1 = {n for n in before if "day=2024-01-01" in before[n]["path"]}
        assert jan1 <= set(after)  # untouched, same add entries
        # the two matching partitions compacted to 1 file each
        assert len(after) == len(jan1) + 2
        assert t.read(spark).count() == 90
        # per-partition row counts unchanged
        got = {
            str(r.day): r.n
            for r in t.read(spark).groupBy("day").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert got == {
            "2024-01-01": 30, "2024-01-02": 30, "2024-01-03": 30
        }
        # commitInfo records the predicate; removes are dataChange=false
        acts = list(t._read_commit(v))
        ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
        assert ci["operationParameters"]["predicate"].startswith("day >=")
        assert all(
            not a["remove"].get("dataChange", True)
            for a in acts
            if "remove" in a
        )
        # no match -> None, no commit
        assert t.compact(spark, where="day > DATE'2030-01-01'") is None
        # predicate on a non-partition column refuses loudly
        with pytest.raises(ValueError, match="partition columns only"):
            t.compact(spark, where="id > 5")
        # unpartitioned table refuses the option
        u = DeltaTable(str(tmp_path / "u"))
        u.write(spark.range(0, 5).select("id"))
        with pytest.raises(ValueError, match="partitioned"):
            u.compact(spark, where="id > 1")


class TestCreateTable:
    """DeltaTable.create: metadata-only commit 0 (schema, partitioning,
    properties, protocol) — delta-spark's CREATE TABLE twin, including
    the two shapes only creation can produce: id-mode column mapping
    and creation-time in-commit timestamps."""

    def test_create_then_write_and_schema_enforced(self, spark, tmp_path):
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        v = t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("v", T.DoubleType()),
                ]
            )
        )
        assert v == 0
        assert t.read(spark).count() == 0  # empty but READABLE
        t.write(spark.range(3).select(F.col("id"), F.lit(1.5).alias("v")))
        assert t.read(spark).count() == 3
        # a frame not matching the declared schema is refused
        with pytest.raises(ValueError, match="schema"):
            t.write(spark.range(3).select(F.col("id"), F.lit("x").alias("w")))
        with pytest.raises(ValueError, match="exists"):
            t.create(T.StructType([T.StructField("id", T.LongType())]))

    def test_create_name_mapped_stages_physical_from_birth(self, spark, tmp_path):
        import pyarrow.parquet as pq
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("v", T.DoubleType()),
                ]
            ),
            mapping_mode="name",
        )
        t.write(
            spark.range(4).select(F.col("id"), F.lit(0.5).alias("v")).coalesce(1)
        )
        # files stage under fresh col-uuid physical names, never logical
        data_file = next(
            f for f in os.listdir(t.path) if f.endswith(".parquet")
        )
        names = pq.read_schema(os.path.join(t.path, data_file)).names
        assert all(n.startswith("col-") for n in names)
        # rename is metadata-only and immediate
        t.rename_column("v", "val")
        assert t.read(spark).filter("val = 0.5").count() == 4

    def test_create_id_mode_end_to_end(self, spark, tmp_path):
        import pyarrow.parquet as pq
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("grp", T.StringType()),
                ]
            ),
            mapping_mode="id",
        )
        t.write(
            spark.range(6)
            .select(F.col("id"), F.lit("a").alias("grp"))
            .coalesce(1)
        )
        # staged footer carries a field id on every column
        data_file = next(
            f for f in os.listdir(t.path) if f.endswith(".parquet")
        )
        for fld in pq.read_schema(os.path.join(t.path, data_file)):
            assert (fld.metadata or {}).get(b"PARQUET:field_id") is not None
        t.update(spark, "id = 0", {"grp": "'z'"})
        t.delete(spark, "id = 5")
        want = {(i, "z" if i == 0 else "a") for i in range(5)}
        assert {(r.id, r.grp) for r in t.read(spark).collect()} == want
        assert {
            (int(r["id"]), r["grp"]) for _, r in t.to_pandas().iterrows()
        } == want
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", t.path).load()
        assert {(r.id, r.grp) for r in out.collect()} == want

    def test_create_with_creation_time_ict(self, spark, tmp_path):
        import json as _json
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType([T.StructField("id", T.LongType())]),
            configuration={"delta.enableInCommitTimestamps": "true"},
        )
        t.write(spark.range(2).select("id"))
        t.write(spark.range(2, 5).select("id"))
        log = os.path.join(t.path, "_delta_log")
        icts = {}
        for v in (0, 1, 2):
            for line in open(os.path.join(log, "%020d.json" % v)):
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts[v] = a["commitInfo"].get("inCommitTimestamp")
            os.utime(os.path.join(log, "%020d.json" % v), (1, 1))
        # ICT covers the WHOLE history from version 0...
        assert all(icts[v] is not None for v in (0, 1, 2))
        assert icts[0] < icts[1] < icts[2]
        # ...so the spec's enablement-provenance properties are absent
        meta, _ = t._snapshot_state(None)
        conf = meta.get("configuration") or {}
        assert "delta.inCommitTimestampEnablementVersion" not in conf
        # protocol fences the feature for foreign writers
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minWriterVersion"] == 7
        assert "inCommitTimestamp" in proto["writerFeatures"]
        # travel by ict despite scrambled mtimes, down to version 0
        assert t.version_at_timestamp(icts[0]) == 0
        assert t.version_at_timestamp(icts[1]) == 1
        assert t.read_at_timestamp(spark, icts[1]).count() == 2


class TestMergeBuilder:
    """Full MERGE INTO clause semantics (DeltaMergeBuilder) — the
    delta-spark builder twin: clause ordering, cardinality check,
    file pruning, simultaneous assignment, CDF images, generated
    columns."""

    def _three_files(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 5, 10):
            t.write(
                spark.range(lo, lo + 5)
                .select(F.col("id"), (F.col("id") * 1.0).alias("value"))
                .coalesce(1)
            )
        return t

    def test_clause_matrix_and_ordering(self, spark, tmp_path):
        t = self._three_files(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 30.0), (4, -1.0), (5, 0.0), (20, 200.0), (21, -5.0)],
            "id long, value double",
        )
        v = (
            t.merge_into(src, "target.id = source.id")
            .when_matched_update(
                set={"value": "source.value + target.value"},
                condition="source.value > 0",
            )
            .when_matched_delete(condition="source.value <= 0")
            .when_not_matched_insert(condition="source.value > 0")
            .execute(spark)
        )
        got = {r.id: r.value for r in t.read(spark).collect()}
        assert got == {
            0: 0.0, 1: 1.0, 2: 2.0, 3: 33.0,  # 4, 5 deleted
            6: 6.0, 7: 7.0, 8: 8.0, 9: 9.0,
            10: 10.0, 11: 11.0, 12: 12.0, 13: 13.0, 14: 14.0,
            20: 200.0,  # 21 filtered by the insert condition
        }
        ops = {r.version: r.operation for r in t.history(spark).collect()}
        assert ops[v] == "MERGE"

    def test_only_fired_files_rewrite(self, spark, tmp_path):
        t = self._three_files(spark, tmp_path)
        _, adds0 = t._snapshot_state(None)
        src = spark.createDataFrame(
            [(3, 30.0), (20, 200.0)], "id long, value double"
        )
        (
            t.merge_into(src, "target.id = source.id")
            .when_matched_update()
            .when_not_matched_insert()
            .execute(spark)
        )
        _, adds1 = t._snapshot_state(None)
        n0 = {a["path"] for a in adds0}
        n1 = {a["path"] for a in adds1}
        # files 5-9 and 10-14 never restage; file 0-4 (id 3 fired) does
        assert len(n0 & n1) == 2 and len(n0 - n1) == 1
        # a merge whose clause fires on NOTHING leaves every file alone
        (
            t.merge_into(src, "target.id = source.id")
            .when_matched_update(condition="source.value < -999")
            .execute(spark)
        )
        _, adds2 = t._snapshot_state(None)
        assert {a["path"] for a in adds2} == n1

    def test_cardinality_check(self, spark, tmp_path):
        t = self._three_files(spark, tmp_path)
        dup = spark.createDataFrame(
            [(6, 1.0), (6, 2.0)], "id long, value double"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            t.merge_into(dup, "target.id = source.id").when_matched_update(
            ).execute(spark)
        # duplicate UNMATCHED keys are legal and both insert
        dup2 = spark.createDataFrame(
            [(50, 1.0), (50, 2.0)], "id long, value double"
        )
        t.merge_into(dup2, "target.id = source.id").when_not_matched_insert(
        ).execute(spark)
        assert t.read(spark).filter("id = 50").count() == 2

    def test_simultaneous_assignment_swaps(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [(1, 10.0, 20.0)], "id long, a double, b double"
            )
        )
        (
            t.merge_into(
                spark.createDataFrame([(1,)], "id long"),
                "target.id = source.id",
            )
            .when_matched_update(set={"a": "target.b", "b": "target.a"})
            .execute(spark)
        )
        r = t.read(spark).collect()[0]
        assert (r.a, r.b) == (20.0, 10.0)

    def test_by_source_clauses(self, spark, tmp_path):
        t = self._three_files(spark, tmp_path)
        src = spark.createDataFrame([(3, 1.0)], "id long, value double")
        (
            t.merge_into(src, "target.id = source.id")
            .when_not_matched_by_source_delete(condition="target.value > 12")
            .when_not_matched_by_source_update(
                set={"value": "target.value + 0.5"}, condition="target.id < 2"
            )
            .execute(spark)
        )
        got = {r.id: r.value for r in t.read(spark).collect()}
        assert got == {
            0: 0.5, 1: 1.5, 2: 2.0, 3: 3.0,  # 3 matched -> copied
            4: 4.0, 5: 5.0, 6: 6.0, 7: 7.0, 8: 8.0, 9: 9.0,
            10: 10.0, 11: 11.0, 12: 12.0,  # 13, 14 deleted
        }

    def test_cdf_merge_true_images(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0), (3, 3.0)], "id long, value double"
            )
        )
        t.enable_change_data_feed()
        src = spark.createDataFrame(
            [(1, 100.0), (2, -1.0), (9, 9.0)], "id long, value double"
        )
        (
            t.merge_into(src, "target.id = source.id")
            .when_matched_update(condition="source.value > 0")
            .when_matched_delete()
            .when_not_matched_insert()
            .execute(spark)
        )
        ch = t.read_changes(spark, starting_version=t.latest_version())
        rows = sorted((r.id, r.value, r._change_type) for r in ch.collect())
        assert rows == sorted(
            [
                (1, 1.0, "update_preimage"),
                (1, 100.0, "update_postimage"),
                (2, 2.0, "delete"),
                (9, 9.0, "insert"),
            ]
        )

    def test_generated_columns_recompute_and_refuse_assignment(
        self, spark, tmp_path
    ):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame([(1, 2.0)], "id long, v double"),
            generated_columns={"v2": "v * 2"},
        )
        b = t.merge_into(
            spark.createDataFrame([(1, 7.0)], "id long, v double"),
            "target.id = source.id",
        ).when_matched_update(set={"v": "source.v"})
        b.execute(spark)
        r = t.read(spark).collect()[0]
        assert (r.v, r.v2) == (7.0, 14.0)
        with pytest.raises(ValueError, match="generated"):
            t.merge_into(
                spark.createDataFrame([(1, 7.0)], "id long, v double"),
                "target.id = source.id",
            ).when_matched_update(set={"v2": "99.0"}).execute(spark)

    def test_validation_errors(self, spark, tmp_path):
        t = self._three_files(spark, tmp_path)
        src = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="at least one WHEN"):
            t.merge_into(src, "target.id = source.id").execute(spark)
        with pytest.raises(ValueError, match="UPDATE SET \\*"):
            # star update needs every table column in the source
            t.merge_into(src, "target.id = source.id").when_matched_update(
            ).execute(spark)
        with pytest.raises(ValueError, match="unknown column"):
            t.merge_into(src, "target.id = source.id").when_matched_update(
                set={"nope": "1"}
            ).execute(spark)

    def test_merge_moves_rows_across_partitions(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [(1, "a", 1.0), (2, "b", 2.0)], "id long, grp string, v double"
            ),
            partition_by=["grp"],
        )
        (
            t.merge_into(
                spark.createDataFrame([(1,)], "id long"),
                "target.id = source.id",
            )
            .when_matched_update(set={"grp": "'b'"})
            .execute(spark)
        )
        got = {(r.id, r.grp) for r in t.read(spark).collect()}
        assert got == {(1, "b"), (2, "b")}


class TestReplaceWhere:
    def _partitioned(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0),
                 (4, "b", 4.0), (5, "c", 5.0)],
                "id long, grp string, value double",
            ).coalesce(1),
            partition_by=["grp"],
        )
        return t

    def test_replace_partition_slice(self, spark, tmp_path):
        t = self._partitioned(spark, tmp_path)
        _, adds0 = t._snapshot_state(None)
        new = spark.createDataFrame(
            [(10, "b", 10.0)], "id long, grp string, value double"
        )
        t.replace_where(new, "grp = 'b'")
        got = {(r.id, r.grp, r.value) for r in t.read(spark).collect()}
        assert got == {
            (1, "a", 1.0), (2, "a", 2.0), (5, "c", 5.0), (10, "b", 10.0)
        }
        # untouched partitions' add entries survive verbatim; the fully
        # covered grp=b file drops outright (DV short-circuit, no sidecar)
        _, adds1 = t._snapshot_state(None)
        untouched0 = {a["path"] for a in adds0 if "grp=b" not in a["path"]}
        assert untouched0 <= {a["path"] for a in adds1}
        assert not any(
            a.get("deletionVector")
            for a in adds1
            if "grp=b" in a["path"]
        )

    def test_sub_partition_predicate_uses_dv(self, spark, tmp_path):
        t = self._partitioned(spark, tmp_path)
        new = spark.createDataFrame(
            [(30, "b", 30.0)], "id long, grp string, value double"
        )
        t.replace_where(new, "grp = 'b' AND value > 3.5")  # only id=4
        got = {(r.id, r.value) for r in t.read(spark).collect()}
        assert got == {(1, 1.0), (2, 2.0), (3, 3.0), (5, 5.0), (30, 30.0)}
        # the partially covered grp=b file survives WITH a DV
        _, adds = t._snapshot_state(None)
        partial = [
            a for a in adds
            if "grp=b" in a["path"] and a.get("deletionVector")
        ]
        assert len(partial) == 1

    def test_outside_predicate_rows_refused(self, spark, tmp_path):
        t = self._partitioned(spark, tmp_path)
        bad = spark.createDataFrame(
            [(9, "a", 9.0)], "id long, grp string, value double"
        )
        with pytest.raises(ValueError, match="do not satisfy"):
            t.replace_where(bad, "grp = 'b'")
        # NULL predicate counts as non-matching
        nullrow = spark.createDataFrame(
            [(9, "b", None)], "id long, grp string, value double"
        )
        with pytest.raises(ValueError, match="do not satisfy"):
            t.replace_where(nullrow, "value > 0")

    def test_cdf_images_and_txn_idempotence(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0)], "id long, value double"
            )
        )
        t.enable_change_data_feed()
        new = spark.createDataFrame([(5, 5.0)], "id long, value double")
        v = t.replace_where(new, "id >= 2", txn=("rw-app", 1))
        ch = sorted(
            (r.id, r.value, r._change_type)
            for r in t.read_changes(spark, starting_version=v).collect()
        )
        assert ch == [(2, 2.0, "delete"), (5, 5.0, "insert")]
        # replay with the same txn key is a no-op
        assert t.replace_where(new, "id >= 2", txn=("rw-app", 1)) == v
        assert t.read(spark).count() == 2

    def test_schema_must_match(self, spark, tmp_path):
        t = self._partitioned(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown column"):
            t.replace_where(
                spark.createDataFrame([(1, "b", 1.0, "x")],
                                      "id long, grp string, value double, w string"),
                "grp = 'b'",
            )
        with pytest.raises(ValueError, match="lacks columns"):
            t.replace_where(
                spark.createDataFrame([(1, "b")], "id long, grp string"),
                "grp = 'b'",
            )


class TestAppendOnly:
    """delta.appendOnly=true (writer-v2 appendOnly feature): appends
    and dataChange=false rearrangements stay legal; anything that
    deletes or rewrites committed rows is refused."""

    def _table(self, spark, tmp_path, at_creation=True):
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        if at_creation:
            t.create(
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("v", T.DoubleType()),
                    ]
                ),
                configuration={"delta.appendOnly": "true"},
            )
        else:
            t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
            t.set_table_properties({"delta.appendOnly": "true"})
        t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
        return t

    def test_appends_and_rearrangements_allowed(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(spark.createDataFrame([(2, 2.0)], "id long, v double"))
        assert t.read(spark).count() == 2
        # OPTIMIZE is dataChange=false: moves bytes, not rows
        t.compact(spark)
        assert t.read(spark).count() == 2
        # insert-only merge is a pure append
        (
            t.merge_into(
                spark.createDataFrame([(9, 9.0)], "id long, v double"),
                "target.id = source.id",
            )
            .when_not_matched_insert()
            .execute(spark)
        )
        assert t.read(spark).count() == 3

    def test_row_mutations_refused(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        df = spark.createDataFrame([(5, 5.0)], "id long, v double")
        with pytest.raises(ValueError, match="append-only"):
            t.delete(spark, "id = 1")
        with pytest.raises(ValueError, match="append-only"):
            t.update(spark, "id = 1", {"v": "9.9"})
        with pytest.raises(ValueError, match="append-only"):
            t.write(df, mode="overwrite")
        with pytest.raises(ValueError, match="append-only"):
            t.replace_where(df, "id = 5")
        with pytest.raises(ValueError, match="append-only"):
            t.merge_into(df, "target.id = source.id").when_matched_update(
            ).when_not_matched_insert().execute(spark)
        v = t.latest_version()
        with pytest.raises(ValueError, match="append-only"):
            t.restore(v - 1)

    def test_property_flipped_later_and_unset(self, spark, tmp_path):
        t = self._table(spark, tmp_path, at_creation=False)
        with pytest.raises(ValueError, match="append-only"):
            t.delete(spark, "id = 1")
        # unsetting the property re-enables mutations
        t.set_table_properties({"delta.appendOnly": None})
        t.delete(spark, "id = 1")
        assert t.read(spark).filter("id = 1").count() == 0


class TestVacuumRetention:
    """retentionDurationCheck + CDC-file cleanup: vacuum refuses a
    retention below the table's deletedFileRetentionDuration unless
    forced, and expired _change_data files ARE vacuumed."""

    def test_short_retention_refused_unless_forced(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.write(make_df(spark, 0, 5).coalesce(1), mode="overwrite")
        with pytest.raises(ValueError, match="deletedFileRetentionDuration"):
            t.vacuum(retention_ms=0)
        assert len(t.vacuum(retention_ms=0, force=True)) == 1

    def test_table_property_lowers_the_floor(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.set_table_properties(
            {"delta.deletedFileRetentionDuration": "interval 0 second"}
        )
        t.write(make_df(spark, 0, 5).coalesce(1), mode="overwrite")
        # property floor is 0: no force needed
        assert len(t.vacuum(retention_ms=0)) == 1
        with pytest.raises(ValueError, match="unparseable"):
            DeltaTable._parse_interval_ms("fortnight")

    def test_cdc_files_vacuumed_when_expired(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))
        t.enable_change_data_feed()
        t.delete(spark, "id < 3")  # stages a CDC file under _change_data/
        cdc_dir = str(tmp_path / "t" / "_change_data")
        assert os.path.isdir(cdc_dir) and os.listdir(cdc_dir)
        deleted = t.vacuum(retention_ms=0, force=True)
        assert any(rel.startswith("_change_data") for rel in deleted)
        assert not os.path.isdir(cdc_dir) or not os.listdir(cdc_dir)
        # the current snapshot still reads fine
        assert t.read(spark).count() == 7


class TestDomainMetadata:
    """domainMetadata actions: latest-wins replay, removal tombstones,
    system-domain gate, protocol fence, checkpoint round-trip."""

    def test_set_get_remove_roundtrip(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        t.set_domain_metadata("myapp.retention", '{"days": 30}')
        t.set_domain_metadata("myapp.owner", "team-data")
        assert t.domain_metadata() == {
            "myapp.retention": '{"days": 30}',
            "myapp.owner": "team-data",
        }
        # latest commit per domain wins
        t.set_domain_metadata("myapp.retention", '{"days": 7}')
        assert t.domain_metadata()["myapp.retention"] == '{"days": 7}'
        t.remove_domain_metadata("myapp.owner")
        assert "myapp.owner" not in t.domain_metadata()
        # time travel sees the old state
        assert t.domain_metadata(version=2)["myapp.owner"] == "team-data"

    def test_system_domains_refused(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 3))
        with pytest.raises(ValueError, match="system-controlled"):
            t.set_domain_metadata("delta.rowTracking", "{}")
        with pytest.raises(ValueError, match="system-controlled"):
            t.remove_domain_metadata("delta.rowTracking")

    def test_protocol_fence_added_once(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 3))
        t.set_domain_metadata("app.a", "1")
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minWriterVersion"] == 7
        assert "domainMetadata" in proto["writerFeatures"]
        # second write emits no second protocol action
        v = t.set_domain_metadata("app.b", "2")
        acts = t._read_commit(v)
        assert not any("protocol" in a for a in acts)

    def test_checkpoint_roundtrip(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5))
        t.set_domain_metadata("app.keep", "yes")
        t.set_domain_metadata("app.drop", "no")
        t.remove_domain_metadata("app.drop")
        t.checkpoint(spark)
        t.write(make_df(spark, 5, 5))  # replay starts after checkpoint
        assert t.domain_metadata() == {"app.keep": "yes"}


class TestRowTracking:
    """Row tracking (spec: writer feature rowTracking): stable row ids
    via baseRowId + position, preserved across DELETE / UPDATE /
    OPTIMIZE / REORG / MERGE by materialized carrier columns."""

    def _ids(self, t, spark):
        return {
            r.id: (r._row_id, r._row_commit_version)
            for r in t.read_with_row_ids(spark).collect()
        }

    def test_enable_backfills_existing_files(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(2))
        t.write(make_df(spark, 10, 6).coalesce(1))
        t.enable_row_tracking()
        got = self._ids(t, spark)
        assert len(got) == 16
        row_ids = [rid for rid, _v in got.values()]
        assert sorted(row_ids) == list(range(16))  # contiguous, unique
        # hwm domain recorded
        hwm = json.loads(t.domain_metadata()["delta.rowTracking"])
        assert hwm["rowIdHighWaterMark"] == 15
        _m, _a, proto = t._snapshot_state_full(None)
        assert {"rowTracking", "domainMetadata"} <= set(
            proto["writerFeatures"]
        )

    def test_appends_allocate_fresh_ranges(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 8).coalesce(1))
        t.enable_row_tracking()
        before = self._ids(t, spark)
        t.write(make_df(spark, 8, 4).coalesce(2))
        after = self._ids(t, spark)
        # old rows keep their ids; new rows land strictly above them
        assert {k: v for k, v in after.items() if k < 8} == before
        new_ids = [rid for k, (rid, _v) in after.items() if k >= 8]
        assert sorted(new_ids) == list(range(8, 12))
        assert all(v == 2 for k, (_r, v) in after.items() if k >= 8)

    def test_dv_delete_preserves_survivor_ids(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))
        t.enable_row_tracking()
        before = self._ids(t, spark)
        t.delete(spark, "id % 3 = 0")
        after = self._ids(t, spark)
        assert set(after) == {k for k in before if k % 3 != 0}
        assert all(after[k] == before[k] for k in after)

    def test_update_preserves_ids_bumps_versions(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))
        t.enable_row_tracking()
        before = self._ids(t, spark)
        v = t.update(spark, "id >= 7", {"sym": "'UPDATED'"})
        after = self._ids(t, spark)
        assert set(after) == set(before)
        for k in after:
            assert after[k][0] == before[k][0], "row id must be stable"
            if k >= 7:
                assert after[k][1] == v
            else:
                assert after[k][1] == before[k][1]
        syms = {
            r.id: r.sym for r in t.read_with_row_ids(spark).collect()
        }
        assert all(s == "UPDATED" for k, s in syms.items() if k >= 7)

    def test_compact_preserves_ids_and_versions(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 6).coalesce(2))
        t.enable_row_tracking()
        t.write(make_df(spark, 6, 6).coalesce(2))
        t.update(spark, "id = 1", {"sym": "'X'"})
        before = self._ids(t, spark)
        t.compact(spark)
        after = self._ids(t, spark)
        assert after == before  # ids AND commit versions survive OPTIMIZE
        # and through a SECOND rewrite (materialized column round-trips)
        t.compact(spark, target_files=3)
        assert self._ids(t, spark) == before

    def test_reorg_purge_preserves(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 12).coalesce(2))
        t.enable_row_tracking()
        t.delete(spark, "id % 4 = 0")
        before = self._ids(t, spark)
        assert t.reorg_purge(spark) is not None
        assert self._ids(t, spark) == before
        # DVs are gone but ids survived the materialization
        _m, adds = t._snapshot_state(None)
        assert not any(a.get("deletionVector") for a in adds)

    def test_merge_preserves_updates_freshens_inserts(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))
        t.enable_row_tracking()
        before = self._ids(t, spark)
        src = spark.createDataFrame(
            [(5, "M5"), (7, "M7"), (20, "NEW")], "id long, sym string"
        )
        v = (
            t.merge_into(src, "target.id = source.id")
            .when_matched_update()
            .when_not_matched_insert()
            .execute(spark)
        )
        after = self._ids(t, spark)
        assert set(after) == set(range(10)) | {20}
        for k in range(10):
            assert after[k][0] == before[k][0], "copied/updated ids stable"
        assert after[5][1] == v and after[7][1] == v
        assert after[0][1] == before[0][1]
        # the inserted row derives a FRESH id above every prior one
        assert after[20][0] > max(r for r, _ in before.values())
        assert after[20][1] == v
        # uniqueness across the whole table
        ids = [r for r, _ in after.values()]
        assert len(set(ids)) == len(ids)

    def test_replace_where_retires_and_freshens(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 9).coalesce(1))
        t.enable_row_tracking()
        before = self._ids(t, spark)
        t.replace_where(
            spark.createDataFrame(
                [(100, "S1"), (101, "S1")], "id long, sym string"
            ),
            "sym = 'S1'",
        )
        after = self._ids(t, spark)
        kept = {k for k in before if k % 3 != 1}
        assert set(after) == kept | {100, 101}
        assert all(after[k] == before[k] for k in kept)
        fresh = {after[100][0], after[101][0]}
        assert min(fresh) > max(r for r, _ in before.values())

    def test_clone_carries_ids_and_hwm(self, spark, tmp_path):
        src = DeltaTable(str(tmp_path / "src"))
        src.write(make_df(spark, 0, 8).coalesce(1))
        src.enable_row_tracking()
        before = self._ids(src, spark)
        clone = src.clone_to(str(tmp_path / "fork"))
        assert self._ids(clone, spark) == before
        # the hwm domain came over: new appends cannot collide
        clone.write(make_df(spark, 8, 3).coalesce(1))
        ids = [r for r, _ in self._ids(clone, spark).values()]
        assert len(set(ids)) == len(ids) == 11

    def test_checkpoint_roundtrips_base_row_ids(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(2))
        t.enable_row_tracking()
        t.update(spark, "id = 2", {"sym": "'X'"})
        before = self._ids(t, spark)
        t.checkpoint(spark)
        t.write(make_df(spark, 10, 2).coalesce(1))
        after = self._ids(t, spark)
        assert {k: v for k, v in after.items() if k < 10} == before
        ids = [r for r, _ in after.values()]
        assert len(set(ids)) == len(ids)

    def test_gates(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 3))
        with pytest.raises(ValueError, match="not enabled"):
            t.read_with_row_ids(spark)
        with pytest.raises(ValueError, match="enable_row_tracking"):
            t.set_table_properties({"delta.enableRowTracking": "true"})
        t.enable_row_tracking()
        with pytest.raises(ValueError, match="already enabled"):
            t.enable_row_tracking()

    def test_create_time_enablement(self, spark, tmp_path):
        import pyspark.sql.types as T

        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            configuration={"delta.enableRowTracking": "true"},
        )
        t.write(make_df(spark, 0, 5).coalesce(1))
        got = self._ids(t, spark)
        assert sorted(r for r, _ in got.values()) == list(range(5))
        _m, _a, proto = t._snapshot_state_full(None)
        assert "rowTracking" in proto["writerFeatures"]

    def test_hidden_columns_stay_hidden(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 6).coalesce(1))
        t.enable_row_tracking()
        t.update(spark, "id < 2", {"sym": "'U'"})
        t.compact(spark)
        # plain reads (JVM and pure-python) never surface the carriers
        assert set(t.read(spark).columns) == {"id", "sym"}
        assert set(t.to_pandas().columns) == {"id", "sym"}

    def test_row_id_join_broadcasts(self, spark, tmp_path):
        """The per-file (baseRowId, version) table is O(files): its join
        into the scan must be a broadcast, never a shuffle of the data."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 20).coalesce(2))
        t.enable_row_tracking()
        plan = t.read_with_row_ids(spark)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestLiquidClustering:
    """CLUSTER BY via the delta.clustering domain: declarative layout
    that a bare OPTIMIZE then executes."""

    def _spans(self, t, col_idx):
        import pyarrow.parquet as pq

        _m, adds = t._snapshot_state(None)
        spans = []
        for a in adds:
            st = json.loads(a["stats"])
            spans.append(
                (st["minValues"]["id"], st["maxValues"]["id"])
                if col_idx == "id"
                else (st["minValues"][col_idx], st["maxValues"][col_idx])
            )
        return spans

    def test_declare_then_optimize_clusters(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        # two interleaved keys, written shuffled across 4 files
        df = spark.range(0, 400).select(
            F.col("id"),
            (F.col("id") * 37 % 400).alias("k2"),
        )
        t.write(df.repartition(4))
        t.set_cluster_by(["id", "k2"])
        assert t.cluster_by() == ["id", "k2"]
        t.compact(spark, target_files=4)  # no zorder_by: domain drives it
        # every output file holds a TILE of the 2D key plane: with 4
        # files each key's per-file span is ~range/sqrt(4) = 200, far
        # below the ~400 a hash-shuffled file carries on both keys
        for col in ("id", "k2"):
            spans = self._spans(t, col)
            assert len(spans) == 4
            assert all(hi - lo <= 260 for lo, hi in spans), (col, spans)

    def test_single_column_range_clusters(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 300).select("id").repartition(3))
        t.set_cluster_by(["id"])
        t.compact(spark, target_files=3)
        spans = sorted(self._spans(t, "id"))
        # range-sorted: files tile the key space without overlap
        assert all(
            spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
        ), spans

    def test_gates(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10), partition_by=["sym"])
        with pytest.raises(ValueError, match="hive-partitioned"):
            t.set_cluster_by(["id"])
        u = DeltaTable(str(tmp_path / "u"))
        u.write(make_df(spark, 0, 10))
        with pytest.raises(ValueError, match="not in schema"):
            u.set_cluster_by(["nope"])
        with pytest.raises(ValueError, match="1 or 2"):
            u.set_cluster_by(["id", "sym", "id"])
        assert u.cluster_by() == []

    def test_cluster_by_survives_checkpoint_and_clone(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 20))
        t.set_cluster_by(["id"])
        t.checkpoint(spark)
        t.write(make_df(spark, 20, 5))
        assert t.cluster_by() == ["id"]
        clone = t.clone_to(str(tmp_path / "fork"))
        assert clone.cluster_by() == ["id"]

    def test_mapped_table_stores_physical_reads_logical(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10))
        t.enable_column_mapping()
        t.rename_column("sym", "symbol")
        t.set_cluster_by(["id", "symbol"])
        assert t.cluster_by() == ["id", "symbol"]
        # the domain stores PHYSICAL names (spec) — 'sym' pre-rename
        cfg = json.loads(t.domain_metadata()["delta.clustering"])
        assert cfg["clusteringColumns"] == [["id"], ["sym"]]

    def test_nested_clustering_path(self, spark, tmp_path):
        """CLUSTER BY on a nested struct field: the domain stores the
        per-segment PHYSICAL path, cluster_by() resolves it back to the
        dotted logical name, and a bare OPTIMIZE range-sorts on it."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 100)
            .select(
                F.col("id"),
                F.struct(
                    (F.col("id") % 10).alias("x"),
                    F.col("id").cast("string").alias("y"),
                ).alias("s"),
            )
            .repartition(4)
        )
        t.enable_column_mapping()
        t.rename_column("s.x", "bucket")
        t.set_cluster_by(["s.bucket"])
        assert t.cluster_by() == ["s.bucket"]
        cfg = json.loads(t.domain_metadata()["delta.clustering"])
        # nested path, physical at EVERY segment ('x' pre-rename)
        assert cfg["clusteringColumns"] == [["s", "x"]]
        t.compact(spark, target_files=3)
        # clustered layout: per-file min/max of s.bucket barely overlap
        import pyarrow.parquet as pq

        _m, adds = t._snapshot_state(None)
        spans = []
        for a in adds:
            import os as _os
            import urllib.parse as _up

            pf = pq.ParquetFile(
                _os.path.join(t.path, _up.unquote(a["path"]))
            )
            vals = pf.read().column("s").combine_chunks().field(0).to_pylist()
            spans.append((min(vals), max(vals)))
        spans.sort()
        # range-sorted: consecutive files' spans do not interleave
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2 or hi1 - lo2 <= 1  # boundary value may split
        with pytest.raises(ValueError, match="not in schema"):
            t.set_cluster_by(["s.nope"])


class TestLogCleanup:
    """cleanup_metadata (delta-spark's MetadataCleanup twin): checkpoint
    prerequisite, retention floor, exact below-checkpoint deletion set,
    checkpoint-only replay afterward, loud expired-version failures."""

    def test_requires_a_checkpoint(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        with pytest.raises(ValueError, match="requires a checkpoint"):
            t.cleanup_metadata(retention_ms=0, force=True)

    def test_retention_floor_and_property(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.checkpoint(spark)
        with pytest.raises(ValueError, match="logRetentionDuration"):
            t.cleanup_metadata(retention_ms=0)
        t.set_table_properties(
            {"delta.logRetentionDuration": "interval 0 second"}
        )
        t.checkpoint(spark)
        # property floor is 0: no force needed
        assert t.cleanup_metadata(retention_ms=0) != []

    def test_expires_exactly_the_sub_checkpoint_prefix(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(4):
            t.write(make_df(spark, 10 * i, 5).coalesce(1))  # v0..v3
        t.checkpoint(spark)  # at v3
        t.write(make_df(spark, 100, 5).coalesce(1))  # v4 tail
        t.checkpoint(spark)  # at v4: supersedes the v3 checkpoint
        deleted = t.cleanup_metadata(retention_ms=0, force=True)
        # commits 0..3 and the superseded v3 checkpoint — never v4+
        assert [n for n in deleted if n.endswith(".json")] == [
            f"{v:020d}.json" for v in range(4)
        ]
        assert any(".checkpoint" in n and n.startswith(f"{3:020d}")
                   for n in deleted)
        assert t._commit_versions() == [4]
        # state reconstructs from checkpoint + (empty) tail
        assert t.read(spark).count() == 25
        assert t.latest_version() == 4
        # append still works after cleanup (versions keep counting)
        t.write(make_df(spark, 200, 5).coalesce(1))
        assert t.read(spark).count() == 30

    def test_txn_idempotence_survives_log_cleanup(self, spark, tmp_path):
        """checkpoint() persists newest-wins txn state precisely so
        idempotence survives cleanup_metadata; without the checkpoint
        fallback in last_txn_version a replayed streaming batch whose
        commit JSON was expired would see None and re-apply — silent
        duplicate rows."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1), txn=("appA", 3))
        t.write(make_df(spark, 10, 5).coalesce(1), txn=("appA", 4))
        t.write(make_df(spark, 20, 5).coalesce(1))  # tail keeps counting
        t.checkpoint(spark)
        t.write(make_df(spark, 30, 5).coalesce(1))  # post-checkpoint tail
        assert t.last_txn_version("appA") == 4
        t.cleanup_metadata(retention_ms=0, force=True)
        assert t._commit_versions()[0] > 0  # prefix really expired
        # newest-wins state now comes from the checkpoint
        assert t.last_txn_version("appA") == 4
        assert t.last_txn_version("never-seen") is None
        # a replayed batch is detected and becomes a no-op
        before = t.read(spark).count()
        t.write(make_df(spark, 40, 5).coalesce(1), txn=("appA", 4))
        assert t.read(spark).count() == before
        # and a genuinely new batch still applies
        t.write(make_df(spark, 40, 5).coalesce(1), txn=("appA", 5))
        assert t.read(spark).count() == before + 5

    def test_txn_idempotence_survives_compacted_json_removal(
        self, spark, tmp_path
    ):
        """ADVICE r9: compact_log keeps newest-wins txn actions so a
        compacted range survives out-of-band commit-JSON removal WITHOUT
        a checkpoint — last_txn_version must consult the compaction
        files, else idempotence state silently becomes None and a
        replayed streaming batch re-applies."""
        import os

        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1), txn=("appC", 1))  # v0
        t.write(make_df(spark, 10, 5).coalesce(1), txn=("appC", 2))  # v1
        t.write(make_df(spark, 20, 5).coalesce(1))  # v2
        t.compact_log(0, 2)
        # out-of-band removal of the compacted range's JSONs (the
        # 'survives_json_removal' capability the feature advertises)
        for v in (0, 1):
            os.remove(os.path.join(t._log_dir, f"{v:020d}.json"))
        assert t._commit_versions() == [2]
        assert t.last_txn_version("appC") == 2  # from the compaction
        assert t.last_txn_version("never-seen") is None
        # newer JSON txn still beats the compaction's state
        t.write(make_df(spark, 30, 5).coalesce(1), txn=("appC", 3))
        assert t.last_txn_version("appC") == 3
        # replay of the compaction-covered version is a no-op
        before = t.read(spark).count()
        t.write(make_df(spark, 40, 5).coalesce(1), txn=("appC", 2))
        assert t.read(spark).count() == before
        # two overlapping carriers: a checkpoint OLDER than a later
        # compaction range — the newest-covered carrier must win
        t2 = DeltaTable(str(tmp_path / "t2"))
        t2.write(make_df(spark, 0, 5).coalesce(1), txn=("appD", 1))  # v0
        t2.checkpoint(spark)  # covers through v0: appD=1
        t2.write(make_df(spark, 10, 5).coalesce(1), txn=("appD", 9))  # v1
        t2.write(make_df(spark, 20, 5).coalesce(1))  # v2
        t2.compact_log(1, 2)  # covers v1..v2: appD=9
        for v in (0, 1):
            os.remove(os.path.join(t2._log_dir, f"{v:020d}.json"))
        assert t2.last_txn_version("appD") == 9

    def test_txn_fallback_reads_multipart_and_v2_checkpoints(
        self, spark, tmp_path
    ):
        for kw in ({"parts": 2}, {"v2": True}):
            t = DeltaTable(str(tmp_path / f"t-{list(kw)[0]}"))
            t.write(make_df(spark, 0, 5).coalesce(1), txn=("appB", 7))
            t.write(make_df(spark, 10, 5).coalesce(1))
            t.checkpoint(spark, **kw)
            t.cleanup_metadata(retention_ms=0, force=True)
            assert t.last_txn_version("appB") == 7

    def test_sidecar_gc_tolerates_multipart_checkpoint_parts(
        self, spark, tmp_path
    ):
        """The sidecar GC's manifest glob also matches CLASSIC
        multi-part checkpoint part files, whose schema has no 'sidecar'
        column — cleanup must skip them, not crash, on a table that has
        written both checkpoint shapes."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.checkpoint(spark, parts=2)
        t.write(make_df(spark, 10, 5).coalesce(1))
        t.checkpoint(spark, v2=True)  # _sidecars/ now exists
        t.write(make_df(spark, 20, 5).coalesce(1))
        deleted = t.cleanup_metadata(retention_ms=0, force=True)
        assert any(".checkpoint." in n for n in deleted)
        assert t.read(spark).count() == 15

    def test_expired_versions_fail_loudly(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(make_df(spark, 10 * i, 5).coalesce(1))  # v0..v2
        t.checkpoint(spark, parts=2)
        t.cleanup_metadata(retention_ms=0, force=True)
        with pytest.raises(ValueError, match="not found"):
            t.read(spark, version=1)
        with pytest.raises(ValueError):
            t.read_changes(spark, starting_version=0, ending_version=1)
        # the checkpointed version itself still time-travels
        assert t.read(spark, version=2).count() == 15


class TestTypeWidening:
    """typeWidening reader-writer feature: metadata-only ALTER COLUMN
    TYPE; old files keep the narrow physical type and every read path
    casts; provenance in delta.typeChanges; both protocol sides fenced."""

    def _int_table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 10)
            .select(F.col("id").cast("int").alias("v"), F.col("id").alias("k"))
            .coalesce(1)
        )
        return t

    def test_int_to_long_roundtrip_zero_rewrite(self, spark, tmp_path):
        t = self._int_table(spark, tmp_path)
        _m, adds_before = t._snapshot_state(None)
        t.widen_column_type("v", "long")
        _m2, adds_after = t._snapshot_state(None)
        # metadata-only: the SAME physical file, untouched
        assert {a["path"] for a in adds_before} == {
            a["path"] for a in adds_after
        }
        # post-widen appends land wide; values beyond int32 work
        t.write(
            spark.createDataFrame(
                [(2**40, 100), (2**40 + 1, 101)], "v long, k long"
            ).coalesce(1)
        )
        got = t.read(spark)
        assert dict(got.dtypes)["v"] == "bigint"
        assert got.count() == 12
        assert got.agg(F.max("v")).first()[0] == 2**40 + 1
        assert got.filter("v < 10").count() == 10  # narrow files readable
        # pure-python readers conform the narrow files too
        pdf = t.to_pandas()
        assert str(pdf["v"].dtype) == "int64"
        assert int(pdf["v"].max()) == 2**40 + 1

    def test_provenance_property_and_protocol(self, spark, tmp_path):
        t = self._int_table(spark, tmp_path)
        t.widen_column_type("v", "long")
        meta, _adds, proto = t._snapshot_state_full(None)
        fld = next(
            f
            for f in __import__("json").loads(meta["schemaString"])["fields"]
            if f["name"] == "v"
        )
        assert fld["type"] == "long"
        assert fld["metadata"]["delta.typeChanges"] == [
            {"fromType": "integer", "toType": "long"}
        ]
        assert meta["configuration"]["delta.enableTypeWidening"] == "true"
        assert proto["minReaderVersion"] == 3
        assert "typeWidening" in proto["readerFeatures"]
        assert proto["minWriterVersion"] == 7
        assert "typeWidening" in proto["writerFeatures"]
        # a second widen on the same column appends to the provenance
        t.widen_column_type("v", "decimal(22,1)")
        meta2, _ = t._snapshot_state(None)
        fld2 = next(
            f
            for f in __import__("json").loads(meta2["schemaString"])["fields"]
            if f["name"] == "v"
        )
        assert [c["toType"] for c in fld2["metadata"]["delta.typeChanges"]] == [
            "long",
            "decimal(22,1)",
        ]

    def test_float_decimal_date_widenings_read_back(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 5)
            .select(
                F.col("id").cast("float").alias("f"),
                F.col("id").cast("decimal(5,2)").alias("d"),
                F.date_add(
                    F.lit("2024-01-01").cast("date"), F.col("id").cast("int")
                ).alias("dt"),
            )
            .coalesce(1)
        )
        t.widen_column_type("f", "double")
        t.widen_column_type("d", "decimal(10,2)")
        t.widen_column_type("dt", "timestamp_ntz")
        got = t.read(spark)
        assert dict(got.dtypes) == {
            "f": "double",
            "d": "decimal(10,2)",
            "dt": "timestamp_ntz",
        }
        row = got.orderBy("f").collect()[4]
        assert row.f == 4.0 and str(row.d) == "4.00"
        assert row.dt.isoformat() == "2024-01-05T00:00:00"

    def test_refusals(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 5)
            .select(
                F.col("id").alias("v"),
                (F.col("id") % 2).cast("string").alias("p"),
            ),
            partition_by=["p"],
        )
        with pytest.raises(ValueError, match="not a supported widening"):
            t.widen_column_type("v", "integer")  # narrowing
        with pytest.raises(ValueError, match="partition column"):
            t.widen_column_type("p", "timestamp_ntz")
        with pytest.raises(ValueError, match="no column"):
            t.widen_column_type("nope", "long")
        with pytest.raises(ValueError, match="not a supported widening"):
            t.widen_column_type("v", "decimal(10,2)")  # 8 int digits < 20
        assert t._widening_allowed("long", "decimal(22,2)")
        assert not t._widening_allowed("decimal(10,2)", "decimal(11,4)")
        assert t._widening_allowed("decimal(10,2)", "decimal(12,4)")

    def test_checkpoint_and_log_cleanup_preserve_widening(
        self, spark, tmp_path
    ):
        t = self._int_table(spark, tmp_path)
        t.widen_column_type("v", "long")
        t.write(
            spark.createDataFrame([(2**35, 7)], "v long, k long").coalesce(1)
        )
        t.checkpoint(spark)
        t.cleanup_metadata(retention_ms=0, force=True)
        got = t.read(spark)  # checkpoint-only replay
        assert dict(got.dtypes)["v"] == "bigint"
        assert got.count() == 11 and got.agg(F.max("v")).first()[0] == 2**35
        # pydelta source reads the mixed-width table through the feature
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        pyds.register(spark)
        got2 = spark.read.format("pydelta").option("path", t.path).load()
        assert dict(got2.dtypes)["v"] == "bigint"
        assert got2.count() == 11


class TestMergeSchemaEvolution:
    """with_schema_evolution(): source-only columns join the table
    schema inside the merge's own commit; star clauses carry them;
    pre-evolution rows read NULL; mapped tables get physical names."""

    def _target(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for lo in (0, 5):
            t.write(
                spark.range(lo, lo + 5)
                .select(F.col("id"), (F.col("id") * 1.0).alias("value"))
                .coalesce(1)
            )
        return t

    def test_star_upsert_evolves_schema(self, spark, tmp_path):
        t = self._target(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 30.0, "hot"), (20, 200.0, "new")],
            "id long, value double, note string",
        )
        t.merge_into(src, "target.id = source.id") \
            .when_matched_update() \
            .when_not_matched_insert() \
            .with_schema_evolution() \
            .execute(spark)
        got = t.read(spark)
        assert dict(got.dtypes)["note"] == "string"
        by_id = {r.id: (r.value, r.note) for r in got.collect()}
        assert by_id[3] == (30.0, "hot")      # updated, note from source
        assert by_id[20] == (200.0, "new")    # inserted with note
        assert by_id[4] == (4.0, None)        # copied row in touched file
        assert by_id[7] == (7.0, None)        # untouched file, null-filled
        assert len(by_id) == 11
        # the evolution rode the MERGE commit itself, not a separate one
        hist = {r.version: r.operation for r in t.history(spark).collect()}
        assert hist[t.latest_version()] == "MERGE"

    def test_without_evolution_extra_columns_ignored(self, spark, tmp_path):
        t = self._target(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 30.0, "hot")], "id long, value double, note string"
        )
        t.merge_into(src, "target.id = source.id") \
            .when_matched_update(set={"value": "source.value"}) \
            .execute(spark)
        got = t.read(spark)
        assert "note" not in got.columns
        assert {r.value for r in got.filter("id = 3").collect()} == {30.0}

    def test_explicit_assignment_to_new_column(self, spark, tmp_path):
        t = self._target(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "x"), (4, "y")], "id long, tag string"
        )
        t.merge_into(src, "target.id = source.id") \
            .when_matched_update(set={"tag": "upper(source.tag)"}) \
            .with_schema_evolution() \
            .execute(spark)
        got = {r.id: r.tag for r in t.read(spark).collect()}
        assert got[3] == "X" and got[4] == "Y"
        assert got[0] is None and got[7] is None

    def test_mapped_table_evolution_gets_physical_names(
        self, spark, tmp_path
    ):
        import json as _json

        t = self._target(spark, tmp_path)
        t.enable_column_mapping()
        src = spark.createDataFrame(
            [(3, 30.0, "hot"), (20, 200.0, "new")],
            "id long, value double, note string",
        )
        t.merge_into(src, "target.id = source.id") \
            .when_matched_update() \
            .when_not_matched_insert() \
            .with_schema_evolution() \
            .execute(spark)
        meta, _ = t._snapshot_state(None)
        fld = next(
            f
            for f in _json.loads(meta["schemaString"])["fields"]
            if f["name"] == "note"
        )
        phys = fld["metadata"]["delta.columnMapping.physicalName"]
        assert phys.startswith("col-")
        got = t.read(spark)
        assert {r.note for r in got.filter("id IN (3, 20)").collect()} == {
            "hot",
            "new",
        }
        # the pure-python reader resolves the new physical name too
        pdf = t.to_pandas()
        assert set(pdf[pdf["id"].isin([3, 20])]["note"]) == {"hot", "new"}


class TestVariantType:
    """variantType reader-writer feature: Spark-path round-trip, dual
    protocol fence at creation and at evolution, numRecords-only stats
    fallback (pyarrow cannot open VARIANT footers), loud gates on every
    pure-python surface."""

    def _vdf(self, spark, lo=0):
        return (
            spark.range(lo, lo + 5)
            .select(
                F.col("id"),
                F.parse_json(
                    F.concat(F.lit('{"k": '), F.col("id"), F.lit("}"))
                ).alias("v"),
            )
            .coalesce(1)
        )

    def test_roundtrip_protocol_and_stats(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(self._vdf(spark))
        t.write(self._vdf(spark, 10))
        got = t.read(spark)
        assert dict(got.dtypes)["v"] == "variant"
        ks = {
            r.k
            for r in got.select(
                F.try_variant_get(F.col("v"), "$.k", "int").alias("k")
            ).collect()
        }
        assert ks == set(range(5)) | set(range(10, 15))
        _m, adds, proto = t._snapshot_state_full(None)
        assert proto["minReaderVersion"] == 3
        assert proto["readerFeatures"] == ["variantType"]
        assert "variantType" in proto["writerFeatures"]
        # stats degraded to numRecords-only, still exact
        import json as _json

        for a in adds:
            assert _json.loads(a["stats"]) == {"numRecords": 5}
        # DV delete with a predicate ON the variant payload
        t.delete(spark, "variant_get(v, '$.k', 'int') >= 12")
        assert t.read(spark).count() == 7
        t.checkpoint(spark)
        assert t.read(spark).count() == 7  # checkpoint replay unaffected

    def test_evolution_upgrades_protocol(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id").coalesce(1))
        _m, _a, p0 = t._snapshot_state_full(None)
        assert (p0 or {}).get("minReaderVersion", 1) == 1
        t.write(self._vdf(spark, 20), merge_schema=True)
        _m2, _a2, p1 = t._snapshot_state_full(None)
        assert p1["minReaderVersion"] == 3
        assert "variantType" in p1["readerFeatures"]
        got = t.read(spark)
        assert got.count() == 10
        assert got.filter("v IS NULL").count() == 5  # pre-evolution rows

    def test_pure_python_surfaces_refuse(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import pyds

        t = DeltaTable(str(tmp_path / "t"))
        t.write(self._vdf(spark))
        with pytest.raises(NotImplementedError, match="VARIANT"):
            t.to_pandas()
        pyds.register(spark)
        with pytest.raises(Exception, match="VARIANT"):
            spark.read.format("pydelta").option("path", t.path).load().collect()


class TestConvertToDelta:
    """CONVERT TO DELTA: in-place _delta_log over existing parquet —
    zero bytes move, footer stats land in the adds, and the converted
    table is a first-class citizen (appends, DV deletes, skipping)."""

    def test_in_place_conversion_and_native_afterlife(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        spark.range(0, 100).select(
            "id", (F.col("id") * 2).alias("v")
        ).repartition(4).write.parquet(d)
        before = {
            n for n in os.listdir(d) if n.endswith(".parquet")
        }
        t = DeltaTable.convert_from_parquet(d)
        assert t.latest_version() == 0
        # the SAME files, untouched — conversion moved zero bytes
        _m, adds = t._snapshot_state(None)
        assert {a["path"] for a in adds} == before
        assert t.read(spark).count() == 100
        # footer stats made it in: a contradicted predicate prunes
        assert t.read(spark, where="v > 1000").count() == 0
        # native afterlife: append + DV delete through the log
        t.write(make_df(spark, 500, 5).selectExpr("id", "id AS v").coalesce(1))
        t.delete(spark, "id < 10")
        assert t.read(spark).count() == 95
        hist = {r.version: r.operation for r in t.history(spark).collect()}
        assert hist[0] == "CONVERT"

    def test_partitioned_conversion(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        spark.range(0, 60).select(
            "id", (F.col("id") % 3).cast("string").alias("p")
        ).write.partitionBy("p").parquet(d)
        with pytest.raises(ValueError, match="partition"):
            DeltaTable.convert_from_parquet(d)  # layout needs the schema
        # (directory untouched by the refusal)
        t = DeltaTable.convert_from_parquet(d, partition_schema={"p": "string"})
        got = t.read(spark)
        assert got.count() == 60
        assert {
            (r.p, r.n)
            for r in got.groupBy("p").agg(F.count("*").alias("n")).collect()
        } == {("0", 20), ("1", 20), ("2", 20)}
        # partition pruning rides the logged partitionValues
        assert t.read(spark, where="p = '1'").count() == 20

    def test_refusals(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        spark.range(0, 5).write.parquet(d)
        DeltaTable.convert_from_parquet(d)
        with pytest.raises(ValueError, match="already a Delta table"):
            DeltaTable.convert_from_parquet(d)
        d2 = str(tmp_path / "mixed")
        os.makedirs(d2)
        spark.range(0, 5).coalesce(1).write.parquet(d2 + "/a")
        spark.range(0, 5).selectExpr("id", "id AS extra").coalesce(1).write.parquet(d2 + "/b")
        import shutil

        for sub in ("a", "b"):
            for n in os.listdir(d2 + "/" + sub):
                if n.endswith(".parquet"):
                    shutil.move(f"{d2}/{sub}/{n}", f"{d2}/{sub}_{n}")
            shutil.rmtree(f"{d2}/{sub}")
        with pytest.raises(ValueError, match="schema mismatch"):
            DeltaTable.convert_from_parquet(d2)
        with pytest.raises(ValueError, match="no parquet files"):
            DeltaTable.convert_from_parquet(str(tmp_path / "empty_nothere"))


class TestV2Checkpoints:
    """V2 checkpoints (reader-writer feature v2Checkpoints): UUID-named
    manifest + _sidecars/ shards for the file state; auto protocol
    fence; checkpoint-only replay; sidecar GC by reference-liveness."""

    def test_write_read_roundtrip_and_fence(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(make_df(spark, 10 * i, 5).coalesce(1))  # v0..v2
        v = t.checkpoint(spark, v2=True, sidecar_files=2)
        # auto-fence bumped the log by one protocol commit
        assert v == 3
        _m, _a, proto = t._snapshot_state_full(None)
        assert "v2Checkpoints" in proto["readerFeatures"]
        log = str(tmp_path / "t" / "_delta_log")
        import glob

        manifests = glob.glob(log + "/*.checkpoint.*.parquet")
        assert len(manifests) == 1
        sidecars = os.listdir(log + "/_sidecars")
        assert len(sidecars) == 2
        # replay from manifest + sidecars ONLY: expire the JSON prefix
        t.cleanup_metadata(retention_ms=0, force=True)
        assert t.read(spark).count() == 15
        # native afterlife continues past the v2 checkpoint
        t.write(make_df(spark, 100, 5).coalesce(1))
        assert t.read(spark).count() == 20

    def test_dv_and_domains_survive_v2(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).coalesce(1))
        t.set_domain_metadata("myapp.owner", "team-x")
        t.delete(spark, "id < 3")  # DV'd add must survive the sidecar
        t.checkpoint(spark, v2=True)
        t.cleanup_metadata(retention_ms=0, force=True)
        assert t.read(spark).count() == 7
        assert t.domain_metadata()["myapp.owner"] == "team-x"

    def test_sidecar_gc_is_reference_based(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.checkpoint(spark, v2=True)  # fence (v1) + checkpoint at v1
        t.write(make_df(spark, 10, 5).coalesce(1))  # v2
        t.checkpoint(spark, v2=True)  # second manifest at v2
        log = str(tmp_path / "t" / "_delta_log")
        n_side_before = len(os.listdir(log + "/_sidecars"))
        deleted = t.cleanup_metadata(retention_ms=0, force=True)
        # the v1 manifest expired -> its sidecars are unreferenced
        assert any(".checkpoint." in n for n in deleted)
        assert any(n.startswith("_sidecars/") for n in deleted)
        assert len(os.listdir(log + "/_sidecars")) < n_side_before
        assert t.read(spark).count() == 10

    def test_parts_and_v2_are_exclusive(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        with pytest.raises(ValueError, match="CLASSIC"):
            t.checkpoint(spark, v2=True, parts=3)


class TestIdentityColumns:
    """GENERATED ALWAYS AS IDENTITY (spec writer feature
    identityColumns): creation-time field metadata, zero-coordination
    distributed allocation on the hwm + k*step lattice, highWaterMark
    updated in the same commit, explicit writes/updates refused; MERGE
    INSERT allocates for omitted identity columns with the same
    bookkeeping."""

    def _table(self, spark, tmp_path, step=1, start=1):
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            identity_columns={"id": (start, step)},
        )
        return t

    def test_contiguous_single_partition_appends(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        _m, _a, proto = t._snapshot_state_full(None)
        assert "identityColumns" in proto["writerFeatures"]
        t.write(make_df(spark, 0, 5).select("sym").coalesce(1))
        t.write(make_df(spark, 0, 3).select("sym").coalesce(1))
        ids = sorted(r.id for r in t.read(spark).collect())
        assert ids == [1, 2, 3, 4, 5, 6, 7, 8]
        assert t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ] == 8

    def test_multi_partition_unique_on_lattice(self, spark, tmp_path):
        t = self._table(spark, tmp_path, step=3, start=10)
        t.write(make_df(spark, 0, 40).select("sym").repartition(4))
        ids = [r.id for r in t.read(spark).collect()]
        assert len(ids) == len(set(ids)) == 40
        assert all((i - 10) % 3 == 0 and i >= 10 for i in ids)
        hwm = t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ]
        assert hwm == max(ids)
        # the next append allocates strictly above the recorded hwm
        t.write(make_df(spark, 0, 5).select("sym").coalesce(1))
        ids2 = [r.id for r in t.read(spark).collect()]
        assert len(ids2) == len(set(ids2)) == 45
        assert min(set(ids2) - set(ids)) > hwm

    def test_negative_step(self, spark, tmp_path):
        t = self._table(spark, tmp_path, step=-2, start=0)
        t.write(make_df(spark, 0, 4).select("sym").coalesce(1))
        ids = sorted(r.id for r in t.read(spark).collect())
        assert ids == [-6, -4, -2, 0]  # first value IS the start
        assert t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ] == -6

    def test_refusals(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(make_df(spark, 0, 5).select("sym").coalesce(1))
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            t.write(make_df(spark, 0, 5).coalesce(1))  # explicit id
        with pytest.raises(ValueError, match="identity column"):
            t.update(spark, "id = 1", {"id": "99"})
        src = spark.createDataFrame([(1, "x")], "id long, sym string")
        # INSERT * carries the identity column from source = an explicit
        # insert, refused on GENERATED ALWAYS; so is a values dict that
        # names it, and UPDATE SET * / an explicit identity SET
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            t.merge_into(src, "target.id = source.id") \
                .when_not_matched_insert() \
                .execute(spark)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            t.merge_into(src, "target.id = source.id") \
                .when_not_matched_insert(
                    values={"id": "source.id", "sym": "source.sym"}
                ).execute(spark)
        with pytest.raises(ValueError, match="identity"):
            t.merge_into(src, "target.id = source.id") \
                .when_matched_update(set={"id": "source.id"}) \
                .execute(spark)
        with pytest.raises(ValueError, match="identity"):
            t.merge_into(src, "target.id = source.id") \
                .when_matched_update() \
                .execute(spark)
        # matched update of NON-identity columns stays legal
        t.merge_into(src, "target.id = source.id") \
            .when_matched_update(set={"sym": "source.sym"}) \
            .execute(spark)
        assert t.read(spark).filter("id = 1").first().sym == "x"
        with pytest.raises(ValueError, match="must be long"):
            DeltaTable(str(tmp_path / "u")).create(
                T.StructType([T.StructField("id", T.IntegerType())]),
                identity_columns={"id": (1, 1)},
            )

    def test_merge_insert_allocates_and_advances_hwm(self, spark, tmp_path):
        """MERGE INSERT omitting the identity column allocates fresh
        lattice values above the hwm and records the advanced hwm in the
        merge commit's own metaData — write()'s exact bookkeeping."""
        t = self._table(spark, tmp_path, step=3, start=10)
        t.write(
            spark.createDataFrame(
                [("a",), ("b",), ("c",), ("d",)], "sym string"
            ).coalesce(1)
        )
        before = {r.sym: r.id for r in t.read(spark).collect()}
        hwm0 = t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ]
        assert hwm0 == max(before.values())
        src = spark.createDataFrame(
            [("b", "updated"), ("new_a", "fresh"), ("new_b", "fresh")],
            "sym string, tag string",
        )
        t.merge_into(src, "target.sym = source.sym") \
            .when_matched_update(set={"sym": "source.tag"}) \
            .when_not_matched_insert(values={"sym": "source.sym"}) \
            .execute(spark)
        rows = {r.sym: r.id for r in t.read(spark).collect()}
        # updated row keeps its identity value; copies untouched
        assert rows["updated"] == before["b"]
        for s in before:
            if s != "b":
                assert rows[s] == before[s]
        # inserted rows: unique, on the lattice, strictly above old hwm
        new_ids = [rows["new_a"], rows["new_b"]]
        assert len(set(new_ids)) == 2
        assert all(i > hwm0 and (i - 10) % 3 == 0 for i in new_ids)
        # hwm advanced in the SAME merge commit
        hwm1 = t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ]
        assert hwm1 == max(rows.values())
        # and the next plain append allocates above the merged hwm
        t.write(make_df(spark, 0, 2).select("sym").coalesce(1))
        ids2 = [r.id for r in t.read(spark).collect()]
        assert len(ids2) == len(set(ids2)) == len(rows) + 2
        assert min(set(ids2) - set(rows.values())) > hwm1

    def test_sync_identity_recomputes_hwm(self, spark, tmp_path):
        """SYNC IDENTITY repairs a drifted highWaterMark from the data:
        after a DELETE of the top rows the mark stays HIGH (never
        reissues ids), after a foreign under-recorded mark it climbs."""
        t = self._table(spark, tmp_path, step=2, start=0)
        t.write(make_df(spark, 0, 6).select("sym").coalesce(1))
        hwm = t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ]
        assert hwm == 10
        # sabotage the recorded mark (a foreign writer that skipped the
        # bookkeeping), then sync: the mark must climb back to max(id)
        meta, _a, _p = t._snapshot_state_full(None)
        sj = json.loads(meta["schemaString"])
        fj = next(f for f in sj["fields"] if f["name"] == "id")
        fj["metadata"]["delta.identity.highWaterMark"] = 2
        bad = dict(meta)
        bad["schemaString"] = json.dumps(sj)
        t._publish_or_conflict(
            t.latest_version() + 1,
            [
                {"commitInfo": {"timestamp": 0, "operation": "FOREIGN"}},
                {"metaData": bad},
            ],
            "FOREIGN",
        )
        t.sync_identity(spark)
        assert t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ] == 10
        # next append allocates above the synced mark — no collision
        t.write(make_df(spark, 0, 2).select("sym").coalesce(1))
        ids = [r.id for r in t.read(spark).collect()]
        assert len(ids) == len(set(ids)) == 8
        # empty table resets to start - step
        t2 = self._table(spark, tmp_path / "e", step=5, start=100)
        t2.sync_identity(spark)
        assert t2._identity_columns(t2._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ] == 95
        # no identity columns -> loud refusal
        t3 = DeltaTable(str(tmp_path / "n"))
        t3.write(make_df(spark, 0, 2).coalesce(1))
        with pytest.raises(ValueError, match="no identity"):
            t3.sync_identity(spark)

    def test_merge_insert_by_default_explicit_values(self, spark, tmp_path):
        """GENERATED BY DEFAULT (allowExplicitInsert): an insert clause
        may name the identity column; explicit values past the hwm
        advance it so later allocation cannot collide."""
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            identity_columns={"id": (1, 1)},
            allow_explicit_insert=["id"],
        )
        t.write(make_df(spark, 0, 3).select("sym").coalesce(1))
        src = spark.createDataFrame([(500, "xx")], "id long, sym string")
        t.merge_into(src, "target.sym = source.sym") \
            .when_not_matched_insert(
                values={"id": "source.id", "sym": "source.sym"}
            ).execute(spark)
        rows = {r.sym: r.id for r in t.read(spark).collect()}
        assert rows["xx"] == 500
        hwm = t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ]
        assert hwm == 500  # explicit insert advanced the watermark
        t.write(make_df(spark, 3, 2).select("sym").coalesce(1))
        ids = [r.id for r in t.read(spark).collect()]
        assert len(ids) == len(set(ids)) == 6
        assert all(i > 500 for i in ids if i not in (1, 2, 3, 500))


class TestWriterFeatureGate:
    """The spec's writer contract: mutating a table whose protocol lists
    a writer feature this client does not implement is REFUSED (reads
    gate separately); NOT NULL schema fields are enforced at write."""

    def test_unknown_writer_feature_refuses_mutations(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))
        # a foreign engine fences a feature we do not implement
        meta, _ = t._snapshot_state(None)
        t._publish_or_conflict(
            t.latest_version() + 1,
            [
                {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["appendOnly", "icebergCompatV9"],
                    }
                },
            ],
            "UPGRADE",
        )
        assert t.read(spark).count() == 5  # reading stays legal
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.write(make_df(spark, 10, 5).coalesce(1))
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.delete(spark, "id < 2")
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.update(spark, "id < 2", {"sym": "'x'"})
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.merge_into(
                spark.createDataFrame([(1, "y")], "id long, sym string"),
                "target.id = source.id",
            ).when_matched_update().execute(spark)
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.replace_where(
                spark.createDataFrame([(1, "S1")], "id long, sym string"),
                "sym = 'S1'",
            )
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.restore(0)
        # even dataChange=false rearrangements are fenced: the unknown
        # feature may impose per-file invariants this client can't keep
        with pytest.raises(NotImplementedError, match="icebergCompatV9"):
            t.compact(spark)

    def test_not_null_invariant_enforced(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType(), nullable=False),
                    T.StructField("sym", T.StringType(), nullable=True),
                ]
            )
        )
        t.write(make_df(spark, 0, 5).coalesce(1))
        bad = spark.createDataFrame(
            [(None, "x"), (7, "y")], "id long, sym string"
        )
        with pytest.raises(ValueError, match="NOT NULL"):
            t.write(bad.coalesce(1))
        # the refusal was atomic: nothing of the bad batch landed
        assert t.read(spark).count() == 5
        # nullable column still accepts nulls
        t.write(
            spark.createDataFrame([(9, None)], "id long, sym string")
        )
        assert t.read(spark).count() == 6


class TestTimestampNtzFeature:
    """timestampNtz is its own reader-writer feature: any path that
    introduces a TIMESTAMP_NTZ column (first write, merge_schema
    evolution, date->timestamp_ntz widening) must fence the protocol."""

    def test_first_write_fences(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 5)
            .select(
                "id",
                F.lit("2024-01-01T12:00:00").cast("timestamp_ntz").alias("ts"),
            )
            .coalesce(1)
        )
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minReaderVersion"] == 3
        assert "timestampNtz" in proto["readerFeatures"]
        assert "timestampNtz" in proto["writerFeatures"]
        got = t.read(spark)
        assert dict(got.dtypes)["ts"] == "timestamp_ntz"
        assert got.count() == 5

    def test_widen_to_ntz_fences(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 3)
            .select(F.lit("2024-01-01").cast("date").alias("d"))
            .coalesce(1)
        )
        t.widen_column_type("d", "timestamp_ntz")
        _m, _a, proto = t._snapshot_state_full(None)
        assert {"typeWidening", "timestampNtz"} <= set(
            proto["readerFeatures"]
        )
        assert t.read(spark).first().d.isoformat() == "2024-01-01T00:00:00"

    def test_evolution_fences(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 3).select("id").coalesce(1))
        t.write(
            spark.range(3, 6)
            .select(
                "id",
                F.lit("2024-01-01T12:00:00").cast("timestamp_ntz").alias("ts"),
            )
            .coalesce(1),
            merge_schema=True,
        )
        _m, _a, proto = t._snapshot_state_full(None)
        assert "timestampNtz" in proto["readerFeatures"]
        assert t.read(spark).filter("ts IS NULL").count() == 3


class TestColumnDefaults:
    """Column DEFAULT values (spec writer feature allowColumnDefaults):
    CURRENT_DEFAULT field metadata, writer-side materialization of
    omitted columns, ALTER SET/DROP DEFAULT, interplay with CHECK
    constraints and column mapping, existing-column-only refusal."""

    def _table(self, spark, tmp_path, **kw):
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                    T.StructField("qty", T.LongType()),
                ]
            ),
            column_defaults={"sym": "'NONE'", "qty": "7"},
            **kw,
        )
        return t

    def test_omitted_columns_take_defaults(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        _m, _a, proto = t._snapshot_state_full(None)
        assert "allowColumnDefaults" in proto["writerFeatures"]
        t.write(spark.range(3).select("id"))
        rows = {(r.id, r.sym, r.qty) for r in t.read(spark).collect()}
        assert rows == {(0, "NONE", 7), (1, "NONE", 7), (2, "NONE", 7)}

    def test_explicit_value_wins(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.write(
            spark.range(1).select(
                "id", F.lit("X").alias("sym"), F.lit(1).cast("long").alias("qty")
            )
        )
        assert t.read(spark).collect()[0].qty == 1

    def test_default_materialized_in_files_not_scan(self, spark, tmp_path):
        # the default is written into the parquet bytes: a later DROP
        # DEFAULT (or change) must never rewrite what already landed
        t = self._table(spark, tmp_path)
        t.write(spark.range(2).select("id"))
        t.set_column_default("qty", "99")
        t.write(spark.range(2, 4).select("id"))
        t.set_column_default("qty", None)
        t.write(spark.range(4, 5).select("id"))
        got = {(r.id, r.qty) for r in t.read(spark).collect()}
        assert got == {(0, 7), (1, 7), (2, 99), (3, 99), (4, None)}
        # JVM-free read path sees the same materialized values
        pdf = t.to_pandas().sort_values("id")
        assert pdf["qty"].tolist()[:4] == [7, 7, 99, 99]

    def test_default_must_satisfy_check_constraint(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.add_check_constraint("qty_pos", "qty > 0")
        t.set_column_default("qty", "-1")
        with pytest.raises(ValueError, match="qty_pos"):
            t.write(spark.range(1).select("id"))
        # atomic refusal: nothing of the batch landed
        assert t.read(spark).count() == 0

    def test_new_column_default_refused(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="does not exist"):
            t.set_column_default("made_up", "'x'")
        with pytest.raises(ValueError, match="not in schema"):
            DeltaTable(str(tmp_path / "t2")).create(
                T.StructType([T.StructField("id", T.LongType())]),
                column_defaults={"ghost": "1"},
            )

    def test_drop_default_requires_one(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.set_column_default("qty", None)
        with pytest.raises(ValueError, match="no default"):
            t.set_column_default("qty", None)

    def test_mapped_table_defaults(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "m"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            mapping_mode="name",
            column_defaults={"sym": "concat('d-', 'flt')"},
        )
        t.write(spark.range(2).select("id"))
        assert {r.sym for r in t.read(spark).collect()} == {"d-flt"}

    def test_mid_life_enable_fences_protocol(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "p"))
        t.write(make_df(spark, 0, 3))
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto.get("writerFeatures") is None
        t.set_column_default("sym", "'z'")
        _m, _a, proto = t._snapshot_state_full(None)
        assert "allowColumnDefaults" in proto["writerFeatures"]
        t.write(spark.range(3, 5).select("id"))
        assert t.read(spark).filter("sym = 'z'").count() == 2


class TestDropFeature:
    """ALTER TABLE DROP FEATURE (spec feature-removal contract):
    trace-gated protocol downgrade, history truncation for
    reader-writer features, reader-version demotion."""

    def _dv_table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 50).repartition(4))
        t.delete(spark, "id % 5 = 0")
        return t

    def test_snapshot_trace_refused(self, spark, tmp_path):
        t = self._dv_table(spark, tmp_path)
        with pytest.raises(ValueError, match="reorg_purge"):
            t.drop_feature("deletionVectors", spark)

    def test_history_trace_refused_without_truncate(self, spark, tmp_path):
        t = self._dv_table(spark, tmp_path)
        t.reorg_purge(spark)
        with pytest.raises(ValueError, match="truncate_history"):
            t.drop_feature("deletionVectors", spark)

    def test_truncate_drop_demotes_and_survives(self, spark, tmp_path):
        t = self._dv_table(spark, tmp_path)
        t.reorg_purge(spark)
        v = t.drop_feature("deletionVectors", spark, truncate_history=True)
        m, _a, proto = t._snapshot_state_full(None)
        assert "deletionVectors" not in (proto.get("writerFeatures") or [])
        assert proto.get("readerFeatures") is None
        assert proto["minReaderVersion"] == 1
        assert m["configuration"]["delta.enableDeletionVectors"] == "false"
        assert t.read(spark).count() == 40
        assert len(t.to_pandas()) == 40
        with pytest.raises(ValueError):
            t.read(spark, version=1)  # history gone
        t.write(make_df(spark, 100, 5))
        assert t.read(spark).count() == 45
        assert t.latest_version() == v + 1

    def test_no_trace_in_retained_log_after_drop(self, spark, tmp_path):
        t = self._dv_table(spark, tmp_path)
        t.reorg_purge(spark)
        t.drop_feature("deletionVectors", spark, truncate_history=True)
        assert t._dv_trace_in_log() == []

    def test_writer_only_drop_needs_trace_removal(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "d"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("s", T.StringType()),
                ]
            ),
            column_defaults={"s": "'x'"},
        )
        with pytest.raises(ValueError, match="CURRENT_DEFAULT"):
            t.drop_feature("allowColumnDefaults")
        t.set_column_default("s", None)
        t.drop_feature("allowColumnDefaults")
        _m, _a, proto = t._snapshot_state_full(None)
        assert "allowColumnDefaults" not in proto["writerFeatures"]

    def test_ict_drop_removes_provenance(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "i"))
        t.write(make_df(spark, 0, 3))
        t.enable_in_commit_timestamps()
        t.write(make_df(spark, 3, 2))
        t.drop_feature("inCommitTimestamp")
        m, _a, proto = t._snapshot_state_full(None)
        conf = m.get("configuration") or {}
        assert "delta.enableInCommitTimestamps" not in conf
        assert "delta.inCommitTimestampEnablementVersion" not in conf
        assert "inCommitTimestamp" not in proto["writerFeatures"]

    def test_unsupported_and_absent_refused(self, spark, tmp_path):
        t = self._dv_table(spark, tmp_path)
        with pytest.raises(ValueError, match="not in the writer protocol"):
            t.drop_feature("identityColumns")
        t2 = DeltaTable(str(tmp_path / "m"))
        t2.create(
            T.StructType([T.StructField("id", T.LongType())]),
            mapping_mode="name",
        )
        t2.write(spark.range(1).select("id"))
        t2.delete(spark, "id = 99")  # fences DV alongside mapping
        with pytest.raises(NotImplementedError, match="columnMapping"):
            t2.drop_feature("columnMapping")


class TestVacuumProtocolCheck:
    """Reader-writer feature vacuumProtocolCheck: VACUUM consults the
    writer protocol; enable/read/vacuum/drop lifecycle."""

    def test_enable_vacuum_and_drop(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 10).repartition(2))
        t.enable_vacuum_protocol_check()
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minReaderVersion"] == 3
        assert "vacuumProtocolCheck" in proto["readerFeatures"]
        assert "vacuumProtocolCheck" in proto["writerFeatures"]
        # reads, writes, and vacuum all still function under the fence
        t.write(make_df(spark, 10, 5))
        assert t.read(spark).count() == 15
        t.compact(spark)
        assert t.vacuum(retention_ms=0, force=True)  # superseded files go
        assert t.read(spark).count() == 15
        # behavioral feature: no log traces, drop needs no truncation
        t.drop_feature("vacuumProtocolCheck")
        _m, _a, proto = t._snapshot_state_full(None)
        assert "vacuumProtocolCheck" not in (proto.get("writerFeatures") or [])
        assert proto["minReaderVersion"] == 1
        t.write(make_df(spark, 15, 2))
        assert t.read(spark).count() == 17

    def test_vacuum_refuses_unknown_writer_feature(self, spark, tmp_path):
        import json as _json
        import os as _os

        t = DeltaTable(str(tmp_path / "f"))
        t.write(make_df(spark, 0, 5))
        # a foreign engine fences a writer feature this client lacks;
        # its vacuum obligations are unknown -> VACUUM must refuse
        with open(_os.path.join(t._log_dir, f"{1:020d}.json"), "w") as fh:
            fh.write(
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 7,
                            "writerFeatures": [
                                "appendOnly",
                                "invariants",
                                "futureCompactionThing",
                            ],
                        }
                    }
                )
                + "\n"
            )
        with pytest.raises(NotImplementedError, match="futureCompactionThing"):
            t.vacuum(retention_ms=0, force=True)

    def test_mapped_table_upgrade_carries_column_mapping(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "m"))
        t.create(
            T.StructType([T.StructField("id", T.LongType())]),
            mapping_mode="name",
        )
        t.write(spark.range(3).select("id"))
        t.enable_vacuum_protocol_check()
        _m, _a, proto = t._snapshot_state_full(None)
        assert "columnMapping" in proto["readerFeatures"]
        assert t.read(spark).count() == 3


class TestAutoCheckpoint:
    """delta.checkpointInterval: every interval-th commit auto-writes a
    classic checkpoint right after publishing — delta-spark's policy,
    with no explicit checkpoint() calls anywhere in the test."""

    def _checkpoints(self, t):
        import os

        return sorted(
            n
            for n in os.listdir(t._log_dir)
            if n.endswith(".checkpoint.parquet")
        )

    def test_interval_checkpoints_every_nth_commit(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))  # v0
        assert self._checkpoints(t) == []
        t.set_table_properties({"delta.checkpointInterval": "3"})  # v1
        t.write(make_df(spark, 5, 5).coalesce(1))  # v2
        assert self._checkpoints(t) == []
        t.write(make_df(spark, 10, 5).coalesce(1))  # v3 -> checkpoint
        assert self._checkpoints(t) == [f"{3:020d}.checkpoint.parquet"]
        t.write(make_df(spark, 15, 5).coalesce(1))  # v4
        t.write(make_df(spark, 20, 5).coalesce(1))  # v5
        t.write(make_df(spark, 25, 5).coalesce(1))  # v6 -> checkpoint
        assert self._checkpoints(t) == [
            f"{3:020d}.checkpoint.parquet",
            f"{6:020d}.checkpoint.parquet",
        ]
        # the checkpointed table reads back whole, and a FRESH instance
        # (cold cache) keeps honoring the property
        assert t.read(spark).count() == 30
        t2 = DeltaTable(t.path)
        t2.write(make_df(spark, 30, 5).coalesce(1))  # v7
        t2.write(make_df(spark, 35, 5).coalesce(1))  # v8
        t2.write(make_df(spark, 40, 5).coalesce(1))  # v9 -> checkpoint
        assert f"{9:020d}.checkpoint.parquet" in self._checkpoints(t2)
        assert t2.read(spark).count() == 45

    def test_no_property_never_auto_checkpoints(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(4):
            t.write(make_df(spark, i * 5, 5).coalesce(1))
        assert self._checkpoints(t) == []

    def test_unset_property_stops_the_policy(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))  # v0
        t.set_table_properties({"delta.checkpointInterval": "2"})  # v1
        t.write(make_df(spark, 5, 5).coalesce(1))  # v2 -> checkpoint
        assert len(self._checkpoints(t)) == 1
        t.set_table_properties({"delta.checkpointInterval": "0"})  # v3
        t.write(make_df(spark, 10, 5).coalesce(1))  # v4: no checkpoint
        assert len(self._checkpoints(t)) == 1


class TestConflictCheckerRetry:
    """WriteSerializable conflict checking for predicate-scoped
    mutations: a DELETE/UPDATE that loses the race to a pure append
    whose file stats REFUTE the predicate retries transparently; an
    append that could hold matching rows (or any non-append) surfaces
    ConcurrentWriteError."""

    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 10)
            .select(F.col("id"), (F.col("id") % 5).alias("grp"))
            .coalesce(1)
        )
        return t

    def _race_append(self, t, df):
        """Fire a REAL concurrent append inside the victim's snapshot
        window (hook the instance's snapshot reader, once)."""
        other = DeltaTable(t.path)
        orig = t._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                other.write(df)
            return out

        t._snapshot_state_full = hooked
        return fired

    def test_delete_retries_past_provably_disjoint_append(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        racer = spark.range(100, 103).select(
            F.col("id"), F.lit(9).cast("long").alias("grp")
        ).coalesce(1)
        fired = self._race_append(t, racer)
        t.delete(spark, "grp = 1")  # must retry, not raise
        assert fired["done"]
        got = t.read(spark)
        assert got.filter("grp = 1").count() == 0
        assert got.filter("grp = 9").count() == 3  # racer rows intact
        assert got.count() == 11  # 10 - 2 deleted + 3 appended

    def test_update_retries_past_provably_disjoint_append(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        racer = spark.range(100, 102).select(
            F.col("id"), F.lit(9).cast("long").alias("grp")
        ).coalesce(1)
        self._race_append(t, racer)
        t.update(spark, "grp = 2", {"id": "id + 1000"})
        got = {r.id for r in t.read(spark).filter("grp = 2").collect()}
        assert got == {1002, 1007}

    def test_replace_where_retries_past_disjoint_append(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        racer = spark.range(100, 102).select(
            F.col("id"), F.lit(9).cast("long").alias("grp")
        ).coalesce(1)
        self._race_append(t, racer)
        t.replace_where(
            spark.createDataFrame([(777, 1)], "id long, grp long"),
            "grp = 1",
        )
        got = t.read(spark)
        assert {r.id for r in got.filter("grp = 1").collect()} == {777}
        assert got.filter("grp = 9").count() == 2  # racer intact
        assert got.count() == 11  # 10 - 2 replaced + 1 + 2 appended

    def test_delete_conflicts_with_possibly_matching_append(
        self, spark, tmp_path
    ):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            ConcurrentWriteError,
        )

        t = self._table(spark, tmp_path)
        racer = spark.range(200, 203).select(
            F.col("id"), F.lit(1).cast("long").alias("grp")
        ).coalesce(1)  # rows the DELETE predicate WOULD match
        self._race_append(t, racer)
        with pytest.raises(ConcurrentWriteError):
            t.delete(spark, "grp = 1")

    def test_delete_conflicts_with_concurrent_remove(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            ConcurrentWriteError,
        )

        t = self._table(spark, tmp_path)
        other = DeltaTable(t.path)
        orig = t._snapshot_state_full
        fired = {"done": False}

        def hooked(version=None, **kw):
            out = orig(version, **kw)
            if not fired["done"]:
                fired["done"] = True
                # concurrent overwrite: remove actions — never retried
                other.write(
                    spark.range(50, 55)
                    .select(F.col("id"), (F.col("id") % 5).alias("grp"))
                    .coalesce(1),
                    mode="overwrite",
                )
            return out

        t._snapshot_state_full = hooked
        with pytest.raises(ConcurrentWriteError):
            t.delete(spark, "grp = 3")


class TestCopyInto:
    """File-granularity idempotent ingest: the loaded-file ledger rides
    the data commit atomically, replays commit nothing, modified landing
    files are refused, and racing batches serialize on the domain."""

    def _landing(self, spark, tmp_path, n_files=3, rows_per=10):
        land = tmp_path / "landing"
        land.mkdir()
        files = []
        for i in range(n_files):
            p = str(land / f"b{i}.parquet")
            make_df(spark, i * rows_per, rows_per).coalesce(1).toPandas().to_parquet(p)
            files.append(p)
        return files

    def test_idempotent_batches_and_atomic_ledger(self, spark, tmp_path):
        files = self._landing(spark, tmp_path)
        t = DeltaTable(str(tmp_path / "t"))
        t.create(spark.read.parquet(files[0]).schema)
        r1 = t.copy_into(spark, files[:2])
        assert (r1["ingested_files"], r1["skipped_files"]) == (2, 0)
        assert t.read(spark).count() == 20
        r2 = t.copy_into(spark, files)
        assert (r2["ingested_files"], r2["skipped_files"]) == (1, 2)
        assert t.read(spark).count() == 30
        # the ledger landed in the SAME commit as the data
        acts = list(t._read_commit(r2["version"]))
        assert any("add" in a for a in acts)
        assert any(
            a.get("domainMetadata", {}).get("domain") == t.COPY_DOMAIN
            for a in acts
        )
        # byte-identical replay: no commit at all
        v = t.latest_version()
        r3 = t.copy_into(spark, files)
        assert r3 == {
            "version": v,
            "ingested_files": 0,
            "skipped_files": 3,
        }
        assert t.latest_version() == v

    def test_modified_file_refused_then_force(self, spark, tmp_path):
        files = self._landing(spark, tmp_path)
        t = DeltaTable(str(tmp_path / "t"))
        t.create(spark.read.parquet(files[0]).schema)
        t.copy_into(spark, files)
        make_df(spark, 100, 3).coalesce(1).toPandas().to_parquet(files[1])
        with pytest.raises(ValueError, match="changed since it was loaded"):
            t.copy_into(spark, files)
        assert t.read(spark).count() == 30  # untouched by the refusal
        r = t.copy_into(spark, files, force=True)
        assert (r["ingested_files"], r["skipped_files"]) == (1, 2)
        # force re-ingests the rewritten file wholesale (documented:
        # the original 10 rows it once contributed remain)
        assert t.read(spark).count() == 33

    def test_requires_existing_table(self, spark, tmp_path):
        files = self._landing(spark, tmp_path, n_files=1)
        t = DeltaTable(str(tmp_path / "t"))
        with pytest.raises(ValueError, match="does not exist"):
            t.copy_into(spark, files)

    def test_racing_batches_conflict_on_ledger(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            ConcurrentWriteError,
        )

        files = self._landing(spark, tmp_path)
        t = DeltaTable(str(tmp_path / "t"))
        t.create(spark.read.parquet(files[0]).schema)
        t.copy_into(spark, files[:1])

        # a concurrent COPY INTO publishes the next version (ledger
        # update admitting files[1]) in the REAL race window — after our
        # batch reads the ledger, before its write commits. The stale
        # derivation would clobber that admission (double-ingest on the
        # next replay), so the domain conflict check must refuse.
        orig = t.domain_metadata
        fired = {"done": False}

        def hooked(version=None):
            out = orig(version)
            if not fired["done"]:
                fired["done"] = True
                v = t.latest_version() + 1
                with open(
                    os.path.join(t.path, "_delta_log", f"{v:020d}.json"),
                    "w",
                ) as fh:
                    fh.write(
                        json.dumps(
                            {
                                "domainMetadata": {
                                    "domain": t.COPY_DOMAIN,
                                    "configuration": json.dumps(
                                        {files[1]: "0:0"}
                                    ),
                                    "removed": False,
                                }
                            }
                        )
                        + "\n"
                    )
            return out

        t.domain_metadata = hooked
        with pytest.raises(ConcurrentWriteError, match="copyInto.loadedFiles"):
            t.copy_into(spark, files)
        # the winner's ledger was not clobbered and no file re-ingested
        assert t.read(spark).count() == 10
        assert json.loads(orig().get(t.COPY_DOMAIN)) == {files[1]: "0:0"}


class TestGeneratedPartitionPruning:
    """_generated_partition_conjuncts: predicates on the SOURCE column of
    a generated partition column derive prunable partition conjuncts —
    only through monotone forms, only for date-shaped literals."""

    def _derive(self, expr, conjuncts, part_cols=("d",)):
        import json

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            _generated_partition_conjuncts,
        )

        meta = {
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "ts", "type": "timestamp", "nullable": True,
                         "metadata": {}},
                        {"name": "d", "type": "date", "nullable": True,
                         "metadata": {"delta.generationExpression": expr}},
                    ],
                }
            ),
            "partitionColumns": list(part_cols),
        }
        return _generated_partition_conjuncts(conjuncts, meta, list(part_cols))

    def test_cast_as_date_bounds(self):
        got = self._derive(
            "CAST(ts AS DATE)",
            [("ts", ">=", "2024-03-02 03:00:00"), ("ts", "<", "2024-03-05 00:00:00")],
        )
        assert got == [("d", ">=", "2024-03-02"), ("d", "<=", "2024-03-05")]

    def test_strict_gt_relaxes_to_gte(self):
        # ts > midnight still allows rows ON that date: >= is the sound form
        assert self._derive(
            "DATE(ts)", [("ts", ">", "2024-03-02 00:00:00")]
        ) == [("d", ">=", "2024-03-02")]

    def test_equality_maps_to_equality(self):
        assert self._derive(
            "CAST(ts AS DATE)", [("ts", "=", "2024-03-02 12:00:00")]
        ) == [("d", "=", "2024-03-02")]

    def test_year_and_yyyymm_forms(self):
        assert self._derive(
            "YEAR(ts)", [("ts", ">=", "2024-03-02 00:00:00")]
        ) == [("d", ">=", 2024)]
        assert self._derive(
            "DATE_FORMAT(ts, 'yyyy-MM')", [("ts", "<=", "2024-03-02 00:00:00")]
        ) == [("d", "<=", "2024-03")]

    def test_unsupported_form_and_literal_bail(self):
        # MONTH wraps across years: deriving d >= 3 from ts >= March 2024
        # would wrongly prune January 2025 files
        assert self._derive("MONTH(ts)", [("ts", ">=", "2024-03-02")]) == []
        # numeric literal on the source column: no derivation
        assert self._derive("CAST(ts AS DATE)", [("ts", ">=", 42)]) == []
        # predicate on an unrelated column: no derivation
        assert self._derive(
            "CAST(ts AS DATE)", [("other", ">=", "2024-03-02")]
        ) == []

    def test_non_partition_generated_column_ignored(self):
        assert self._derive(
            "CAST(ts AS DATE)",
            [("ts", ">=", "2024-03-02 00:00:00")],
            part_cols=("other",),
        ) == []

    def test_scan_prunes_files_end_to_end(self, spark, tmp_path):
        """read(where=ts-range) on a generated-date-partitioned table must
        list only the matching partitions' files into the plan."""
        import pyspark.sql.functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            DeltaTable,
        )

        df = spark.range(0, 6).select(
            F.col("id"),
            F.expr(
                "timestamp('2024-03-01 00:00:00') + make_interval(0,0,0,id)"
            ).alias("ts"),
        )
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            df,
            partition_by=["d"],
            generated_columns={"d": "CAST(ts AS DATE)"},
        )
        out = t.read(spark, where="ts >= '2024-03-05 00:00:00'")
        rows = out.select("id").collect()
        assert {r.id for r in rows} == {4, 5}
        # the plan must reference only the two surviving partitions' files
        plan_files = {
            f for f in out.inputFiles() if "/d=" in f
        }
        assert plan_files and all(
            "d=2024-03-05" in f or "d=2024-03-06" in f for f in plan_files
        ), plan_files


class TestRecomputeStats:
    """recompute_stats: footer-derived stats for stats-less adds,
    dataChange=false commit, DVs and rows preserved."""

    def _strip_stats(self, table):
        import time as _time

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
            table.latest_version() + 1, actions, "FOREIGN"
        )

    def test_restores_stats_and_noop_when_present(self, spark, tmp_path):
        import json

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            DeltaTable,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 100).selectExpr("id", "id * 2 AS v"))
        # stats already present everywhere: recompute is a pure no-op
        # (no commit — the table version must not move)
        v = t.latest_version()
        assert t.recompute_stats() == {"version": v, "updated_files": 0}
        assert t.latest_version() == v

        self._strip_stats(t)
        res = t.recompute_stats()
        assert res["updated_files"] >= 1
        _m, adds = t._snapshot_state(None)
        assert all(a.get("stats") for a in adds)
        s = json.loads(adds[0]["stats"])
        assert s["numRecords"] >= 1 and "v" in (s.get("minValues") or {})
        # dataChange=false: a change-feed read over the recompute commit
        # must emit nothing
        ch = t.read_changes(
            spark, starting_version=res["version"],
            ending_version=res["version"],
        )
        assert ch.count() == 0

    def test_preserves_deletion_vectors(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            DeltaTable,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 50).selectExpr("id", "id * 3 AS v"))
        t.delete(spark, "id % 5 = 0")
        self._strip_stats(t)
        t.recompute_stats()
        _m, adds = t._snapshot_state(None)
        assert any(a.get("deletionVector") for a in adds)
        got = {r.id for r in t.read(spark).select("id").collect()}
        assert got == {i for i in range(50) if i % 5 != 0}

    def test_force_recomputes_everything(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            DeltaTable,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).selectExpr("id"))
        t.write(spark.range(10, 20).selectExpr("id"))
        _m, adds = t._snapshot_state(None)
        res = t.recompute_stats(force=True)
        assert res["updated_files"] == len(adds)


class TestDistributedFooterProbe:
    """recompute_stats(spark=) / convert_from_parquet(spark=): the
    executor-side footer pass must produce byte-identical stats to the
    serial driver loop (one code path for the payload — the shared
    footer_stats module — two for the I/O fan-out)."""

    def test_convert_distributed_matches_driver_footers(self, spark, tmp_path):
        import urllib.parse

        import pyarrow.parquet as pq

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.footer_stats import (  # noqa: E501
            file_stats,
        )

        d = str(tmp_path / "lake")
        spark.range(0, 200).selectExpr("id", "id * 2 AS v").repartition(
            6
        ).write.parquet(d)
        t = DeltaTable.convert_from_parquet(d, spark=spark)
        _m, adds = t._snapshot_state(None)
        assert len(adds) == 6
        for a in adds:
            fp = os.path.join(d, urllib.parse.unquote(a["path"]))
            assert json.loads(a["stats"]) == file_stats(
                pq.ParquetFile(fp).metadata
            )
            assert a["size"] == os.path.getsize(fp)
        # skipping armed: a contradicted predicate prunes every file
        assert t.read(spark, where="v > 1000000").count() == 0
        assert t.read(spark).count() == 200

    def test_convert_distributed_partitioned_and_mismatch(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "lake")
        spark.range(0, 60).select(
            "id", (F.col("id") % 3).cast("string").alias("p")
        ).write.partitionBy("p").parquet(d)
        t = DeltaTable.convert_from_parquet(
            d, partition_schema={"p": "string"}, spark=spark
        )
        assert t.read(spark, where="p = '1'").count() == 20
        # schema disagreement surfaces through the distributed pass too
        d2 = str(tmp_path / "mixed")
        os.makedirs(d2)
        spark.range(0, 5).coalesce(1).write.parquet(d2 + "/a")
        spark.range(0, 5).selectExpr("id", "id AS extra").coalesce(
            1
        ).write.parquet(d2 + "/b")
        import shutil

        for sub in ("a", "b"):
            for n in os.listdir(d2 + "/" + sub):
                if n.endswith(".parquet"):
                    shutil.move(f"{d2}/{sub}/{n}", f"{d2}/{sub}_{n}")
            shutil.rmtree(f"{d2}/{sub}")
        with pytest.raises(ValueError, match="schema mismatch"):
            DeltaTable.convert_from_parquet(d2, spark=spark)

    def test_recompute_distributed_matches_serial(self, spark, tmp_path):
        t1 = DeltaTable(str(tmp_path / "t1"))
        t2 = DeltaTable(str(tmp_path / "t2"))
        for t in (t1, t2):
            for lo in (0, 40, 80):
                t.write(
                    spark.range(lo, lo + 40)
                    .selectExpr("id", "id * 7 AS v")
                    .coalesce(1)
                )
            TestRecomputeStats._strip_stats(None, t)
        r1 = t1.recompute_stats()
        r2 = t2.recompute_stats(spark=spark)
        assert r1["updated_files"] == r2["updated_files"] == 3
        stats1 = {
            a["path"].rsplit("/", 1)[-1]: json.loads(a["stats"])
            for a in t1._snapshot_state(None)[1]
        }
        stats2 = {
            a["path"].rsplit("/", 1)[-1]: json.loads(a["stats"])
            for a in t2._snapshot_state(None)[1]
        }
        # file names differ (independent writes) but both tables hold the
        # same three value ranges — compare the stats payloads as sets
        canon = lambda d: sorted(  # noqa: E731
            json.dumps(s, sort_keys=True) for s in d.values()
        )
        assert canon(stats1) == canon(stats2)
        assert t2.read(spark, where="v < 10").count() == 2


class TestPackedDVSidecars:
    """One DELETE/UPDATE commit packs every touched file's DV into ONE
    sidecar file (the spec's `offset` layout) — a broad delete over a
    million files costs one driver PUT, not a million."""

    def test_one_sidecar_per_commit(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 4000)
            .selectExpr("id", "id * 2 AS v")
            .repartition(8)
        )
        t.delete(spark, "id % 10 = 0")  # touches all 8 files
        sidecars = [
            f
            for f in os.listdir(str(tmp_path / "t"))
            if f.startswith("deletion_vector_")
        ]
        assert len(sidecars) == 1, sidecars
        _m, adds = t._snapshot_state(None)
        descs = [a["deletionVector"] for a in adds if a.get("deletionVector")]
        assert len(descs) == 8
        # all descriptors share the sidecar, at distinct offsets
        assert len({d["pathOrInlineDv"] for d in descs}) == 1
        assert len({d["offset"] for d in descs}) == 8
        assert {r.id for r in t.read(spark).collect()} == {
            i for i in range(4000) if i % 10 != 0
        }
        # a second delete unions into a NEW packed sidecar; reads stay
        # correct through mixed offsets
        t.delete(spark, "id % 10 = 1")
        assert t.read(spark).count() == 3200
        # vacuum drops the superseded sidecar, keeps the live one
        dead = t.vacuum(retention_ms=0, force=True)
        assert any(f.startswith("deletion_vector_") for f in dead)
        live = [
            f
            for f in os.listdir(str(tmp_path / "t"))
            if f.startswith("deletion_vector_")
        ]
        assert len(live) == 1
        assert t.read(spark).count() == 3200

    def test_update_and_fully_deleted_files_pack(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        # file 0 fully deleted (dropped, no DV), others partially
        t.write(spark.range(0, 100).selectExpr("id", "id AS v").coalesce(1))
        t.write(spark.range(100, 300).selectExpr("id", "id AS v").repartition(4))
        t.delete(spark, "id < 100 OR id % 3 = 0")
        _m, adds = t._snapshot_state(None)
        assert all(a.get("deletionVector") for a in adds)
        got = {r.id for r in t.read(spark).collect()}
        assert got == {i for i in range(100, 300) if i % 3 != 0}
        t.update(spark, "id % 3 = 1", {"v": "v + 1000"})
        upd = t.read(spark)
        assert upd.filter("id % 3 = 1").count() > 0
        assert (
            upd.filter("id % 3 = 1").filter("v = id + 1000").count()
            == upd.filter("id % 3 = 1").count()
        )


class TestVersionChecksums:
    """Per-version .crc files (delta-spark's VersionChecksum): write,
    verify, divergence detection, cleanup expiry, and that the .crc
    name never perturbs commit listing."""

    def test_write_verify_and_tamper(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 100).selectExpr("id", "id * 2 AS v"))
        t.delete(spark, "id % 4 = 0")
        v = t.latest_version()
        p = t.write_checksum()
        assert p["numFiles"] >= 1 and p["numDeletedRecordsOpt"] == 25
        rep = t.verify_checksum()
        assert rep == {"version": v, "ok": True, "mismatches": []}
        # .crc files are invisible to commit listing / latest_version
        assert t.latest_version() == v
        # tamper: divergent aggregates named precisely
        bogus = dict(p)
        bogus["numFiles"] += 1
        with open(t._checksum_path(v), "w") as f:
            json.dump(bogus, f)
        bad = t.verify_checksum(v)
        assert not bad["ok"] and bad["mismatches"] == ["numFiles"]
        # checksums are PER version: an older version's crc stays valid
        t.write_checksum(v)
        t.write(spark.range(100, 110).selectExpr("id", "id * 2 AS v"))
        assert t.verify_checksum(v)["ok"]
        # the NEW version has no crc yet: nothing-to-verify is not a pass
        with pytest.raises(FileNotFoundError):
            t.verify_checksum(t.latest_version())

    def test_cleanup_expires_old_crc_files(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(spark.range(i * 10, i * 10 + 10).select("id"))
            t.write_checksum()
        t.checkpoint(spark)
        deleted = t.cleanup_metadata(retention_ms=0, force=True)
        assert any(n.endswith(".crc") for n in deleted)
        # the retained version's crc survives and still verifies
        assert t.verify_checksum(t.latest_version())["ok"]


class TestDistributedVacuum:
    """vacuum(spark=): executor-side listing + deletes must remove
    exactly the files the serial walk removes — partitioned layout,
    packed DV sidecars, and CDC files included."""

    def _build(self, spark, path):
        t = DeltaTable(path)
        t.write(
            spark.range(0, 60).selectExpr(
                "id", "CAST(id % 3 AS STRING) AS p"
            ),
            partition_by=["p"],
        )
        t.enable_change_data_feed()
        t.delete(spark, "id % 5 = 0")  # DV sidecar + CDC files
        t.compact(spark, target_files=1)  # tombstones originals + sheds DVs
        return t

    def test_matches_serial_semantics(self, spark, tmp_path):
        t1 = self._build(spark, str(tmp_path / "t1"))
        t2 = self._build(spark, str(tmp_path / "t2"))
        d1 = t1.vacuum(retention_ms=0, force=True)
        d2 = t2.vacuum(retention_ms=0, force=True, spark=spark)
        # same CLASSES of removal (file names differ per write)
        kind = lambda rels: sorted(  # noqa: E731
            (
                "dv" if r.startswith("deletion_vector_")
                else "cdc" if r.startswith("_change_data")
                else "data/" + (r.split("/", 1)[0] if "/" in r else "root")
            )
            for r in rels
        )
        assert kind(d1) == kind(d2) and len(d2) > 0
        # both tables still read identically after their vacuums
        assert (
            t1.read(spark).count() == t2.read(spark).count() == 48
        )
        # second distributed vacuum: nothing left to remove
        assert t2.vacuum(retention_ms=0, force=True, spark=spark) == []


class TestMergeTxnIdempotence:
    """DeltaMergeBuilder.execute(txn=): a replayed (appId, version)
    merge is a no-op — the foreachBatch streaming-upsert contract."""

    def test_replayed_merge_commits_nothing(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).selectExpr("id", "id AS v"))
        src = spark.range(5, 15).selectExpr("id", "id * 100 AS nv")

        def merge(ver):
            return (
                t.merge_into(src, "target.id = source.id")
                .when_matched_update(set={"v": "source.nv"})
                .when_not_matched_insert(
                    values={"id": "source.id", "v": "source.nv"}
                )
                .execute(spark, txn=("upsert", ver))
            )

        v1 = merge(1)
        assert t.read(spark).count() == 15
        assert t.last_txn_version("upsert") == 1
        # verbatim replay: no commit, no state change
        assert merge(1) == v1
        assert t.latest_version() == v1
        assert t.read(spark).filter("id = 5").collect()[0].v == 500
        # a NEW batch version applies
        v2 = merge(2)
        assert v2 == v1 + 1
        assert t.last_txn_version("upsert") == 2


class TestHiveLayoutGate:
    """_hive_layout_consistent (the one-scan fast-path precondition)
    must reject layout SHAPES Spark's basePath discovery chokes on —
    extra k=v segments and mixed directory depth — not just value
    mismatches (a foreign layout like `p=1/f1` + `p=1/q=2/f2` raises
    'conflicting directory structures' in partition discovery even
    though every logged value matches its segment)."""

    phys = staticmethod(lambda c: c)

    def _add(self, rel, pv):
        return {"path": rel, "partitionValues": pv}

    def test_consistent_layout_passes(self):
        adds = [
            self._add("p=1/a.parquet", {"p": "1"}),
            self._add("p=2/b.parquet", {"p": "2"}),
        ]
        assert DeltaTable._hive_layout_consistent(adds, ["p"], self.phys)

    def test_extra_segment_rejected(self):
        adds = [
            self._add("p=1/a.parquet", {"p": "1"}),
            self._add("p=1/q=2/b.parquet", {"p": "1"}),
        ]
        assert not DeltaTable._hive_layout_consistent(adds, ["p"], self.phys)

    def test_duplicate_key_depth_rejected(self):
        # same key twice: key-SET matches, depth does not
        adds = [
            self._add("p=1/a.parquet", {"p": "1"}),
            self._add("p=1/p=1/b.parquet", {"p": "1"}),
        ]
        assert not DeltaTable._hive_layout_consistent(adds, ["p"], self.phys)

    def test_union_path_still_reads_foreign_layout(self, spark, tmp_path):
        """A table whose adds sit at inconsistent depths must still read
        correctly through the literal-injection union path."""
        import shutil

        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 20).selectExpr(
                "id", "CAST(id % 2 AS STRING) AS p"
            ),
            partition_by=["p"],
        )
        # relocate one file a level deeper (foreign layout), keep the log
        _m, adds = t._snapshot_state(None)
        victim = sorted(a["path"] for a in adds)[0]
        src = os.path.join(t.path, victim)
        deep_rel = victim.rsplit("/", 1)[0] + "/extra=1/" + victim.rsplit("/", 1)[1]
        dst = os.path.join(t.path, deep_rel)
        os.makedirs(os.path.dirname(dst))
        shutil.move(src, dst)
        log = os.path.join(t.path, "_delta_log", "00000000000000000000.json")
        body = open(log).read().replace(victim, deep_rel)
        with open(log, "w") as f:
            f.write(body)
        _m2, adds2 = t._snapshot_state(None)
        assert not DeltaTable._hive_layout_consistent(
            adds2, ["p"], lambda c: c
        )
        got = t.read(spark)
        assert got.count() == 20
        assert got.filter("p = '0'").count() == 10


class TestChecksumTxnDomains:
    """VersionChecksum Option fields this client tracks exactly:
    setTransactions + domainMetadata ride the .crc, divergence is
    named, and a minimal foreign crc (options absent) still verifies
    — delta-spark's NON_ABSENT semantics."""

    def test_payload_carries_txns_and_domains(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id"), txn=("appA", 3))
        t.set_domain_metadata("com.example.domain", '{"k":"v"}')
        p = t.write_checksum()
        assert p["setTransactions"] == [
            {"appId": "appA", "version": 3,
             "lastUpdated": p["setTransactions"][0]["lastUpdated"]}
        ]
        assert [d["domain"] for d in p["domainMetadata"]] == [
            "com.example.domain"
        ]
        assert t.verify_checksum()["ok"]
        # newest txn per appId wins (spec SetTransaction replace)
        t.write(spark.range(10, 20).select("id"), txn=("appA", 4))
        p2 = t.write_checksum()
        assert [x["version"] for x in p2["setTransactions"]] == [4]

    def test_txn_divergence_named(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id"), txn=("appA", 1))
        v = t.latest_version()
        p = t.write_checksum()
        bogus = dict(p)
        bogus["setTransactions"] = [{"appId": "appA", "version": 99}]
        with open(t._checksum_path(v), "w") as f:
            json.dump(bogus, f)
        rep = t.verify_checksum(v)
        assert not rep["ok"] and "setTransactions" in rep["mismatches"]

    def test_minimal_foreign_crc_skips_absent_options(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id"), txn=("appA", 1))
        v = t.latest_version()
        full = t._checksum_payload(v)
        minimal = {
            k: full[k]
            for k in (
                "tableSizeBytes", "numFiles", "numMetadata", "numProtocol",
                "metadata", "protocol",
            )
        }
        with open(t._checksum_path(v), "w") as f:
            json.dump(minimal, f)
        assert t.verify_checksum(v)["ok"]


class TestCoPartitionSalt:
    """co_partition_bytes: a hot partition value's rewrite staging must
    fan out across ceil(bytes / 128 MiB) tasks instead of serializing
    into one — and the sub-128 MiB default stays exactly one file per
    value (the tiny-file fix co-partitioning exists for)."""

    def _stage(self, spark, tmp_path, name, **kw):
        t = DeltaTable(str(tmp_path / name))
        os.makedirs(t.path, exist_ok=True)
        df = spark.range(0, 10_000).selectExpr(
            "id", "CAST(id % 2 AS STRING) AS p"
        ).repartition(8)
        adds = t._stage_files(
            df, version=1, partition_by=["p"], mapping={},
            schema_json=None, co_partition=True, **kw,
        )
        by_val = {}
        for a in adds:
            by_val.setdefault(a["partitionValues"]["p"], []).append(a)
        return by_val

    def test_default_one_file_per_value(self, spark, tmp_path):
        by_val = self._stage(spark, tmp_path, "small")
        assert {len(v) for v in by_val.values()} == {1}

    def test_bytes_hint_fans_hot_values_out(self, spark, tmp_path):
        by_val = self._stage(
            spark, tmp_path, "hot",
            co_partition_bytes=600 * 1024 * 1024,  # ceil -> 5 buckets
        )
        assert all(2 <= len(v) <= 5 for v in by_val.values()), {
            k: len(v) for k, v in by_val.items()
        }
        # row integrity through the salted shuffle
        total = sum(
            json.loads(a["stats"])["numRecords"]
            for v in by_val.values()
            for a in v
        )
        assert total == 10_000


class TestDistributedMaintenanceSanity:
    """The spark= maintenance forms assume shared storage and must FAIL
    LOUDLY when the executors' view diverges from the log — a silent
    'vacuumed 0 files' or an opaque executor stack are both wrong."""

    def test_vacuum_raises_on_missing_referenced_file(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 30).selectExpr(
                "id", "CAST(id % 3 AS STRING) AS p"
            ),
            partition_by=["p"],
        )
        _m, adds = t._snapshot_state(None)
        victim = sorted(a["path"] for a in adds)[0]
        os.remove(os.path.join(t.path, victim))
        with pytest.raises(ValueError, match="missing"):
            t.vacuum(retention_ms=0, force=True, spark=spark)

    def test_footer_probe_names_failing_paths(self, spark, tmp_path):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (  # noqa: E501
            _distributed_footer_probe,
        )

        good = str(tmp_path / "good.parquet")
        spark.range(0, 5).coalesce(1).write.parquet(str(tmp_path / "g"))
        import shutil

        part = [
            n for n in os.listdir(str(tmp_path / "g"))
            if n.endswith(".parquet")
        ][0]
        shutil.move(os.path.join(str(tmp_path / "g"), part), good)
        with pytest.raises(ValueError) as ei:
            _distributed_footer_probe(
                spark,
                [("ok", good), ("gone", str(tmp_path / "nope.parquet"))],
            )
        msg = str(ei.value)
        assert "gone" in msg and "1 of 2" in msg
        # all-failed adds the no-shared-filesystem hint
        with pytest.raises(ValueError, match="shared"):
            _distributed_footer_probe(
                spark, [("gone", str(tmp_path / "nope.parquet"))]
            )
        # the happy path still returns stats keyed as given
        out = _distributed_footer_probe(spark, [("ok", good)])
        assert out["ok"]["stats"]["numRecords"] == 5


class TestDeepClone:
    """deep_clone_to: full independence — the clone survives source
    VACUUM, is streamable, carries DVs/stats/domains, and evolves on
    its own. Layout: relative adds keep their hive paths; cloning a
    shallow clone (absolute adds) cuts lineage into root-level files."""

    def _source(self, spark, path):
        t = DeltaTable(path)
        # repartition(1) pins the layout to ONE multi-row file per
        # partition value at ANY worker count: without it, 32-thread
        # sessions split 60 rows into 1-row files whose deletes remove
        # whole files (no DVs) while 8-thread sessions produce DV'd
        # multi-row files — the same test then exercised different
        # semantics per box (caught when it flipped with
        # SPARK_GRAFT_CPUS)
        t.write(
            spark.range(0, 60)
            .selectExpr("id", "CAST(id % 3 AS STRING) AS p")
            .repartition(1),
            partition_by=["p"],
        )
        t.delete(spark, "id % 5 = 0")  # DV on every partition's file
        return t

    def test_deep_clone_reads_and_survives_source_vacuum(
        self, spark, tmp_path
    ):
        src = self._source(spark, str(tmp_path / "src"))
        clone = src.deep_clone_to(str(tmp_path / "dst"))
        want = {i for i in range(60) if i % 5 != 0}
        assert {r.id for r in clone.read(spark).collect()} == want
        # partition pruning still works on the cloned hive layout
        assert clone.read(spark, where="p = '1'").count() == len(
            [i for i in want if i % 3 == 1]
        )
        # source compact + vacuum deletes the shared-no-more originals
        src.compact(spark, target_files=1)
        src.vacuum(retention_ms=0, force=True)
        assert {r.id for r in clone.read(spark).collect()} == want
        # a DV-carrying clone still refuses the file-source stream
        # (the shortcut would resurrect deleted rows) — deterministic
        # now that _source pins multi-row files
        with pytest.raises(NotImplementedError, match="deletion-vector"):
            clone.read_stream(spark)
        # a DV-LESS deep clone is STREAMABLE (shallow clones gate here:
        # no out-of-root files after the deep copy)
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (  # noqa: E501
            drain,
        )

        src2 = DeltaTable(str(tmp_path / "src2"))
        src2.write(
            spark.range(0, 40)
            .selectExpr("id", "CAST(id % 2 AS STRING) AS p")
            .repartition(1),
            partition_by=["p"],
        )
        clone2 = src2.deep_clone_to(str(tmp_path / "dst2"))
        q = (
            clone2.read_stream(spark)
            .writeStream.format("memory")
            .queryName("deep_clone_stream")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        got = spark.sql("SELECT count(*) AS n FROM deep_clone_stream")
        assert got.collect()[0].n == 40

    def test_deep_clone_of_shallow_clone_cuts_lineage(self, spark, tmp_path):
        src = self._source(spark, str(tmp_path / "src"))
        shallow = src.clone_to(str(tmp_path / "shallow"))
        deep = shallow.deep_clone_to(str(tmp_path / "deep"))
        want = {i for i in range(60) if i % 5 != 0}
        # nuking BOTH ancestors leaves the deep clone intact
        import shutil

        shutil.rmtree(str(tmp_path / "src"))
        shutil.rmtree(str(tmp_path / "shallow"))
        assert {r.id for r in deep.read(spark).collect()} == want
        _m, adds = deep._snapshot_state(None)
        assert all(not a["path"].startswith("/") for a in adds)

    def test_deep_clone_distributed_matches_serial(self, spark, tmp_path):
        src = self._source(spark, str(tmp_path / "src"))
        c1 = src.deep_clone_to(str(tmp_path / "d1"))
        c2 = src.deep_clone_to(str(tmp_path / "d2"), spark=spark)
        rows1 = {(r.id, r.p) for r in c1.read(spark).collect()}
        rows2 = {(r.id, r.p) for r in c2.read(spark).collect()}
        assert rows1 == rows2 and len(rows1) == 48

    def test_deep_clone_repacks_sidecar_dvs(self, spark, tmp_path):
        # big enough bitmaps to force 'u' sidecars (tiny ones inline)
        src = DeltaTable(str(tmp_path / "src"))
        src.write(
            spark.range(0, 4000)
            .selectExpr("id", "id * 2 AS v")
            .repartition(8)
        )
        src.delete(spark, "id % 10 = 0")
        _m, adds = src._snapshot_state(None)
        assert any(
            (a.get("deletionVector") or {}).get("storageType") == "u"
            for a in adds
        ), "precondition: source should carry sidecar DVs"
        clone = src.deep_clone_to(str(tmp_path / "dst"), spark=spark)
        # ONE packed sidecar for the whole clone commit, inside the root
        sidecars = [
            f
            for f in os.listdir(str(tmp_path / "dst"))
            if f.startswith("deletion_vector_")
        ]
        assert len(sidecars) == 1, sidecars
        want = {i for i in range(4000) if i % 10 != 0}
        # nuke the source: the clone's DVs must not reference it
        import shutil

        shutil.rmtree(str(tmp_path / "src"))
        assert {r.id for r in clone.read(spark).collect()} == want

    def test_deep_clone_carries_domains_and_evolves_independently(
        self, spark, tmp_path
    ):
        src = DeltaTable(str(tmp_path / "src"))
        src.write(spark.range(0, 10).selectExpr("id", "id AS v"))
        src.set_domain_metadata("com.example.app", '{"x":"1"}')
        clone = src.deep_clone_to(str(tmp_path / "dst"))
        *_rest, domains = clone._snapshot_state_full(None, with_domains=True)
        assert "com.example.app" in domains
        # independent histories: writes to one never touch the other
        clone.write(spark.range(10, 20).selectExpr("id", "id AS v"))
        assert src.read(spark).count() == 10
        assert clone.read(spark).count() == 20
        meta_src, _ = src._snapshot_state(None)
        meta_dst, _ = clone._snapshot_state(None)
        assert meta_src["id"] != meta_dst["id"]


class TestGenerateManifest:
    """generate_manifest: symlink_format_manifest layout, staleness
    replacement, and the DV / column-mapping refusals a symlink reader
    depends on for correctness."""

    def test_partitioned_layout_and_staleness(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.range(0, 40).selectExpr(
                "id", "CAST(id % 2 AS STRING) AS p"
            ),
            partition_by=["p"],
        )
        rels = t.generate_manifest()
        assert rels == [
            "_symlink_format_manifest/p=0/manifest",
            "_symlink_format_manifest/p=1/manifest",
        ]
        # every listed URI exists and is an active file
        _m, adds = t._snapshot_state(None)
        active = {
            os.path.basename(a["path"]) for a in adds
        }
        import urllib.parse as _up

        listed = []
        for rel in rels:
            with open(os.path.join(t.path, rel)) as f:
                listed += [ln for ln in f.read().splitlines() if ln]
        assert all(ln.startswith("file:/") for ln in listed)
        assert {os.path.basename(_up.unquote(u)) for u in listed} == active
        # compaction supersedes files; regeneration must not list them
        t.compact(spark, target_files=1)
        rels2 = t.generate_manifest()
        listed2 = []
        for rel in rels2:
            with open(os.path.join(t.path, rel)) as f:
                listed2 += [ln for ln in f.read().splitlines() if ln]
        _m2, adds2 = t._snapshot_state(None)
        assert {os.path.basename(_up.unquote(u[len("file:"):])) for u in listed2} == {
            os.path.basename(a["path"]) for a in adds2
        }
        assert not (set(listed2) & set(listed)), "stale URIs survived"

    def test_refuses_dv_and_mapped_tables(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "dv"))
        t.write(spark.range(0, 100).selectExpr("id", "id AS v").coalesce(1))
        t.delete(spark, "id % 2 = 0")
        with pytest.raises(ValueError, match="deletion vectors"):
            t.generate_manifest()
        m = DeltaTable(str(tmp_path / "mapped"))
        m.write(spark.range(0, 10).selectExpr("id", "id AS v"))
        m.enable_column_mapping()
        with pytest.raises(ValueError, match="column-mapped"):
            m.generate_manifest()


class TestLogCompaction:
    """Minor log compaction (`<s>.<e>.compacted.json`): reconciled net
    actions substitute for the per-commit JSON tail in snapshot replay —
    bit-identical state, survives commit-JSON cleanup, invisible to
    history/CDF/pyds, range-validated, GC'd by cleanup keyed on END."""

    def _state(self, t, version=None):
        meta, adds, proto = t._snapshot_state_full(version)
        return (
            meta["id"],
            sorted((a["path"], a.get("dataChange")) for a in adds),
            proto,
        )

    def _build(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1))          # v0
        t.write(make_df(spark, 10, 5).coalesce(1))         # v1
        t.delete(spark, "id >= 10")                        # v2: removes v1 file
        t.set_table_properties({"delta.appendOnly": "false"})  # v3: metaData
        t.write(make_df(spark, 20, 5).coalesce(1))         # v4
        return t

    def test_snapshot_via_compaction_is_bit_identical(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        before = self._state(t)
        rows_before = sorted(r.id for r in t.read(spark).collect())
        name = t.compact_log(0, 4)
        assert name == f"{0:020d}.{4:020d}.compacted.json"
        # the walk now uses the compacted file (loud if it mis-parses)
        assert t._compaction_ranges() == [(0, 4)]
        assert self._state(t) == before
        assert sorted(r.id for r in t.read(spark).collect()) == rows_before

    def test_reconciliation_semantics(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        t.compact_log(0, 4)
        actions = t._read_compaction(0, 4)
        adds = [a["add"]["path"] for a in actions if "add" in a]
        removes = [a["remove"]["path"] for a in actions if "remove" in a]
        # the v1 file was added then removed inside the range: it must
        # appear ONLY as a remove tombstone
        assert not set(adds) & set(removes)
        assert len(removes) == 1
        # latest metaData (with the v3 property) and protocol present
        metas = [a["metaData"] for a in actions if "metaData" in a]
        assert len(metas) == 1
        assert metas[0]["configuration"].get("delta.appendOnly") == "false"
        assert sum(1 for a in actions if "protocol" in a) == 1
        # no commitInfo / cdc in a compaction
        assert not any("commitInfo" in a or "cdc" in a for a in actions)

    def test_survives_commit_json_removal(self, spark, tmp_path):
        """The capability the feature exists for: state reconstructs
        from the compaction alone when the range's JSONs are gone."""
        t = self._build(spark, tmp_path)
        before = self._state(t)
        t.compact_log(0, 3)
        for v in range(4):
            os.remove(os.path.join(t._log_dir, f"{v:020d}.json"))
        assert self._state(t) == before
        assert t.read(spark).count() == 10
        # end-of-range time travel works; mid-range is LOUDLY gone
        assert self._state(t, 3)[0] == before[0]
        with pytest.raises(ValueError, match="not found"):
            t._snapshot_state_full(2)

    def test_partial_tail_compaction_composes_with_json_tail(
        self, spark, tmp_path
    ):
        t = self._build(spark, tmp_path)
        before = self._state(t)
        t.compact_log(1, 3)  # mid-range compaction; v0 and v4 stay JSON
        assert self._state(t) == before

    def test_checkpoint_then_tail_compaction(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        t.checkpoint(spark)                             # at v4
        t.write(make_df(spark, 30, 5).coalesce(1))      # v5
        t.write(make_df(spark, 40, 5).coalesce(1))      # v6
        before = self._state(t)
        name = t.compact_log()  # defaults: checkpoint+1 .. latest
        assert name == f"{5:020d}.{6:020d}.compacted.json"
        assert self._state(t) == before
        assert t.read(spark).count() == 20

    def test_txn_and_domains_newest_wins(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 0, 5).coalesce(1), txn=("app", 1))  # v0
        t.write(make_df(spark, 10, 5).coalesce(1), txn=("app", 7))  # v1
        t.compact_log(0, 1)
        txns = [a["txn"] for a in t._read_compaction(0, 1) if "txn" in a]
        assert txns == [{"appId": "app", "version": 7}] or (
            len(txns) == 1
            and txns[0]["appId"] == "app"
            and txns[0]["version"] == 7
        )

    def test_range_validation(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        with pytest.raises(ValueError, match="at least"):
            t.compact_log(2, 2)
        with pytest.raises(ValueError, match="past the latest"):
            t.compact_log(0, 99)
        os.remove(os.path.join(t._log_dir, f"{1:020d}.json"))
        with pytest.raises(ValueError, match="missing"):
            t.compact_log(0, 4)

    def test_cleanup_keys_on_end_version(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        t.compact_log(0, 2)   # will sit fully below the checkpoint
        t.compact_log(0, 4)   # straddles it (end == checkpoint version)
        t.checkpoint(spark)   # at v4
        deleted = t.cleanup_metadata(retention_ms=0, force=True)
        assert f"{0:020d}.{2:020d}.compacted.json" in deleted
        assert f"{0:020d}.{4:020d}.compacted.json" not in deleted
        assert t._compaction_ranges() == [(0, 4)]

    def test_compaction_invisible_to_history_and_cdf(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(make_df(spark, 90, 1).coalesce(1))
        t.enable_change_data_feed()
        t.write(make_df(spark, 0, 5).coalesce(1))
        t.write(make_df(spark, 10, 5).coalesce(1))
        hist_before = [
            (r.version, r.operation) for r in t.history(spark).collect()
        ]
        cdf_before = sorted(
            (r.id, r._change_type, r._commit_version)
            for r in t.read_changes(spark, starting_version=0).collect()
        )
        t.compact_log(0, 2)
        assert [
            (r.version, r.operation) for r in t.history(spark).collect()
        ] == hist_before
        assert sorted(
            (r.id, r._change_type, r._commit_version)
            for r in t.read_changes(spark, starting_version=0).collect()
        ) == cdf_before
