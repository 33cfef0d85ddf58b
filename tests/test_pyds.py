"""Spark 4 Python Data Source API: the Delta client as
spark.read.format("pydelta") — schema discovery, executor-side Arrow
reads, DV application, column mapping, time travel, and option-scoped
file pruning (see sources/pyds.py for why pushFilters is deliberately
absent on this Spark version)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources import (
    pyds,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
    DeltaTable,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 5).alias("g"),
        F.concat(F.lit("d"), (F.col("id") % 3).cast("string")).alias("day"),
    )
    t.write(df, partition_by=["day"])
    t.delete(spark, "g = 2")
    pyds.register(spark)
    return t


class TestPyDeltaSource:
    def test_read_applies_dvs_and_partition_values(self, spark, table):
        out = spark.read.format("pydelta").option("path", table.path).load()
        assert set(out.columns) == {"id", "g", "day"}
        rows = {(r.id, r.day) for r in out.collect()}
        assert rows == {
            (i, f"d{i % 3}") for i in range(100) if i % 5 != 2
        }

    def test_shared_dataframe_not_poisoned_by_filtered_action(self, spark, table):
        # the hazard that rules out pushFilters on Spark 4.1: a filtered
        # action then an unfiltered one on the SAME DataFrame
        out = spark.read.format("pydelta").option("path", table.path).load()
        assert out.count() == 80
        assert out.filter("day = 'd1'").count() == 26
        assert out.count() == 80  # scan must be filter-independent

    def test_where_option_prunes_and_filters_exactly(self, spark, table):
        w = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("where", "day = 'd1'")
            .load()
        )
        assert w.count() == 26
        rdr = pyds.PyDeltaReader({"path": table.path, "where": "day = 'd1'"}, w.schema)
        full = pyds.PyDeltaReader({"path": table.path}, w.schema)
        assert 0 < len(rdr.partitions()) < len(full.partitions())
        # row-exactness within surviving files: mid-file range predicate
        r = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("where", "id >= 90")
            .load()
        )
        assert {x.id for x in r.collect()} == {
            i for i in range(90, 100) if i % 5 != 2
        }

    def test_version_and_timestamp_travel(self, spark, table):
        v0 = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("versionAsOf", "0")
            .load()
        )
        assert v0.count() == 100
        import time as _time

        ts_now = int(_time.time() * 1000) + 60_000
        latest = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("timestampAsOf", str(ts_now))
            .load()
        )
        assert latest.count() == 80

    def test_column_mapped_table_reads_logical_names(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "cm"))
        t.write(
            spark.createDataFrame(
                [("A", 1.5), ("B", 2.5)], "sym string, px double"
            )
        )
        t.enable_column_mapping()
        t.rename_column("px", "price")
        t.write(spark.createDataFrame([("C", 3.5)], "sym string, price double"))
        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", t.path).load()
        assert out.columns == ["sym", "price"]
        assert sorted(r.price for r in out.collect()) == [1.5, 2.5, 3.5]


class TestPyDeltaWhereSoundness:
    """Round-4 second self-review regressions: the where option's row
    filtering IS the parsed conjunct list, so unsupported predicates
    must ERROR (DeltaTable.read can be lenient — it re-applies the
    predicate; this source cannot)."""

    def test_unsupported_where_raises(self, spark, table):
        for bad in ("id = 1 OR id = 2", "NOT (id = 1)", "abs(id) >= 9 AND id >= 8"):
            with pytest.raises(Exception, match="unsupported predicate"):
                (
                    spark.read.format("pydelta")
                    .option("path", table.path)
                    .option("where", bad)
                    .load()
                    .count()
                )

    def test_both_travel_options_rejected(self, spark, table):
        with pytest.raises(Exception, match="not both"):
            (
                spark.read.format("pydelta")
                .option("path", table.path)
                .option("versionAsOf", "0")
                .option("timestampAsOf", "1")
                .load()
                .count()
            )

    def test_travel_resolves_old_schema(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "ev"))
        t.write(spark.createDataFrame([(1,)], "id long"))
        t.write(
            spark.createDataFrame([(2, "x")], "id long, tag string"),
            merge_schema=True,
        )
        pyds.register(spark)
        v0 = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .option("versionAsOf", "0")
            .load()
        )
        assert v0.columns == ["id"]
        assert [r.id for r in v0.collect()] == [1]
        latest = spark.read.format("pydelta").option("path", t.path).load()
        assert set(latest.columns) == {"id", "tag"}

    def test_date_partitioned_table_reads(self, spark, tmp_path):
        import datetime

        t = DeltaTable(str(tmp_path / "dp"))
        df = spark.createDataFrame(
            [(i, datetime.date(2026, 1, 1 + i % 3)) for i in range(9)],
            "id long, d date",
        )
        t.write(df, partition_by=["d"])
        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", t.path).load()
        rows = {(r.id, r.d) for r in out.collect()}
        assert rows == {(i, datetime.date(2026, 1, 1 + i % 3)) for i in range(9)}

    def test_schema_evolved_table_null_fills_old_files(self, spark, tmp_path):
        # the latest-version read of an evolved table must surface NULLs
        # for pre-evolution files, not crash requesting absent columns
        t = DeltaTable(str(tmp_path / "ev2"))
        t.write(spark.createDataFrame([(1,)], "id long"))
        t.write(
            spark.createDataFrame([(2, "x")], "id long, tag string"),
            merge_schema=True,
        )
        pyds.register(spark)
        out = spark.read.format("pydelta").option("path", t.path).load()
        rows = {(r.id, r.tag) for r in out.collect()}
        assert rows == {(1, None), (2, "x")}

    def test_where_with_quoted_keyword_literal(self, spark, table):
        # 'or'/'in'/'not' INSIDE a string literal is data, not an operator
        w = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("where", "day = 'd1' AND day >= 'd0'")
            .load()
        )
        assert w.count() == 26
        ok = (
            spark.read.format("pydelta")
            .option("path", table.path)
            .option("where", "day = 'not in order'")
            .load()
        )
        assert ok.count() == 0


class TestPyDeltaStreamSource:
    """Log-tailing streaming source: offsets are log versions; each
    micro-batch reads exactly the commits in (start, end]; recovery
    replays from the checkpointed version. Streams partitioned AND
    column-mapped tables (the file-stream twin cannot)."""

    def _drain(self, spark, path, out, extra_opts=None):
        reader = spark.readStream.format("pydelta").option("path", path)
        for k, v in (extra_opts or {}).items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out + "/data")
            .option("checkpointLocation", out + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        err = q.exception()
        if err:
            raise err
        return spark.read.parquet(out + "/data")

    def test_partitioned_stream_and_incremental_restart(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(
                spark.range(i * 10, i * 10 + 10).select(
                    F.col("id"),
                    F.concat(F.lit("p"), (F.col("id") % 2).cast("string")).alias(
                        "part"
                    ),
                ),
                partition_by=["part"],
            )
        pyds.register(spark)
        out = str(tmp_path / "out")
        df = self._drain(spark, t.path, out)
        assert df.count() == 30
        assert {r.id for r in df.collect()} == set(range(30))
        assert {r.part for r in df.select("part").distinct().collect()} == {
            "p0",
            "p1",
        }
        # append a commit; re-drain the SAME checkpoint: only new rows land
        t.write(
            spark.range(100, 105).select(
                F.col("id"), F.lit("p0").alias("part")
            ),
            partition_by=["part"],
        )
        df2 = self._drain(spark, t.path, out)
        assert df2.count() == 35  # exactly-once across restarts

    def test_mapped_table_streams_logical_names(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [("A", 1.5), ("B", 2.5)], "sym string, px double"
            )
        )
        t.enable_column_mapping()
        t.rename_column("px", "price")
        t.write(
            spark.createDataFrame([("C", 3.5)], "sym string, price double")
        )
        pyds.register(spark)
        df = self._drain(spark, t.path, str(tmp_path / "out"))
        assert set(df.columns) == {"sym", "price"}
        assert {(r.sym, r.price) for r in df.collect()} == {
            ("A", 1.5),
            ("B", 2.5),
            ("C", 3.5),
        }

    def test_starting_version_scopes_the_tail(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        t.write(spark.range(5, 9).select("id"))
        pyds.register(spark)
        df = self._drain(
            spark,
            t.path,
            str(tmp_path / "out"),
            extra_opts={"startingVersion": "1"},
        )
        assert {r.id for r in df.collect()} == {5, 6, 7, 8}

    def test_where_filters_rows_and_survives_restart(self, spark, tmp_path):
        """Stream `where`: exact row filtering on data commits, file
        pruning by logged stats, and the filter holds across a
        checkpoint restart (the composition that must never
        under-filter)."""
        t = DeltaTable(str(tmp_path / "t"))
        # two value-disjoint files per commit: stats can prune one
        t.write(spark.range(0, 50).selectExpr("id", "id AS v").coalesce(1))
        t.write(
            spark.range(50, 100).selectExpr("id", "id AS v").coalesce(1)
        )
        pyds.register(spark)
        out = str(tmp_path / "out")
        df = self._drain(
            spark, t.path, out, extra_opts={"where": "v >= 60 AND v < 80"}
        )
        assert {r.id for r in df.collect()} == set(range(60, 80))
        # restart with new commits: one prunable (all v < 60), one not
        t.write(
            spark.range(100, 120).selectExpr("id", "id - 90 AS v").coalesce(1)
        )  # v in [10, 30): pruned whole by stats
        t.write(
            spark.range(120, 140).selectExpr("id", "id - 50 AS v").coalesce(1)
        )  # v in [70, 90): 70..79 pass
        df2 = self._drain(
            spark, t.path, out, extra_opts={"where": "v >= 60 AND v < 80"}
        )
        got = {r.id for r in df2.collect()}
        assert got == set(range(60, 80)) | set(range(120, 130))

    def test_where_prunes_files_by_stats(self, spark, tmp_path):
        """A commit whose every file is stats-refuted plans ZERO
        partitions (the pruning is visible in the plan, not just the
        row count)."""
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (  # noqa: E501
            PyDeltaStreamReader,
        )

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 50).selectExpr("id", "id AS v").coalesce(1))
        t.write(
            spark.range(50, 100).selectExpr("id", "id AS v").coalesce(1)
        )
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.LongType()),
            ]
        )
        r = PyDeltaStreamReader({"path": t.path, "where": "v > 200"}, schema)
        parts = r.partitions({"version": -1}, {"version": t.latest_version()})
        assert parts == []
        r2 = PyDeltaStreamReader({"path": t.path, "where": "v > 60"}, schema)
        parts2 = r2.partitions({"version": -1}, {"version": t.latest_version()})
        assert len(parts2) == 1  # first file (v in [0,50)) pruned

    def test_remove_actions_refuse_midstream(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        t.write(spark.range(5, 9).select("id"), mode="overwrite")
        pyds.register(spark)
        with pytest.raises(Exception, match="rewrites data"):
            self._drain(spark, t.path, str(tmp_path / "out"))

    def test_dv_commits_refuse_midstream(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        # single file so a 1-row delete is PARTIAL: remove + DV re-add
        t.write(spark.range(0, 5).coalesce(1).select("id"))
        t.delete(spark, "id = 2")
        pyds.register(spark)
        with pytest.raises(Exception, match="rewrites data|deletion vector"):
            self._drain(spark, t.path, str(tmp_path / "out"))

    def test_optimize_commit_streams_transparently(self, spark, tmp_path):
        """dataChange=false rearrangements (OPTIMIZE) emit nothing and
        need no option — the stream neither fails nor double-reads."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        t.write(spark.range(5, 10).select("id"))
        t.compact(spark, target_files=1)
        t.write(spark.range(10, 15).select("id"))
        pyds.register(spark)
        df = self._drain(spark, t.path, str(tmp_path / "out"))
        assert sorted(r.id for r in df.collect()) == list(range(15))

    def test_ignore_deletes_skips_delete_only_commits(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        t.write(spark.range(5, 10).select("id"))
        # every row of the first file matches -> whole-file remove, no
        # add: a delete-ONLY commit (the ignoreDeletes shape)
        t.delete(spark, "id < 5")
        t.write(spark.range(10, 12).select("id"))
        pyds.register(spark)
        with pytest.raises(Exception, match="ignoreDeletes"):
            self._drain(spark, t.path, str(tmp_path / "o1"))
        df = self._drain(
            spark,
            t.path,
            str(tmp_path / "o2"),
            extra_opts={"ignoreDeletes": "true"},
        )
        # the stream tails the LOG: rows appended before the delete were
        # already emitted when their commit streamed (delta-spark
        # semantics — ignoreDeletes skips the delete, not history)
        assert sorted(r.id for r in df.collect()) == list(range(12))

    def test_skip_change_commits_skips_rewrites(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        t.update(spark, "id = 2", {"id": "id + 100"})
        t.write(spark.range(5, 8).select("id"))
        pyds.register(spark)
        # ignoreDeletes must NOT mask a rewrite commit (it has adds)
        with pytest.raises(Exception, match="skipChangeCommits"):
            self._drain(
                spark,
                t.path,
                str(tmp_path / "o1"),
                extra_opts={"ignoreDeletes": "true"},
            )
        df = self._drain(
            spark,
            t.path,
            str(tmp_path / "o2"),
            extra_opts={"skipChangeCommits": "true"},
        )
        # the rewrite commit is skipped ENTIRELY: the post-image 102
        # never streams (no duplicate of row 2 in any form)
        assert sorted(r.id for r in df.collect()) == list(range(8))

    def test_id_mode_table_streams_by_field_id(self, spark, tmp_path):
        """id-mode tables stream: executors resolve each file's columns
        through the footer's parquet field ids, exactly like the batch
        reader — commit-by-commit tailing included."""
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            mapping_mode="id",
        )
        t.write(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, sym string")
        )
        t.write(spark.createDataFrame([(3, "c")], "id long, sym string"))
        pyds.register(spark)
        df = self._drain(spark, t.path, str(tmp_path / "out"))
        assert set(df.columns) == {"id", "sym"}
        assert {(r.id, r.sym) for r in df.collect()} == {
            (1, "a"),
            (2, "b"),
            (3, "c"),
        }

    def test_ignore_changes_option_refused(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 3).select("id"))
        pyds.register(spark)
        with pytest.raises(Exception, match="skipChangeCommits"):
            self._drain(
                spark,
                t.path,
                str(tmp_path / "out"),
                extra_opts={"ignoreChanges": "true"},
            )


class TestPyDeltaWriters:
    """pydelta reads of files a writer staged into column-mapped tables:
    `DeltaTable.write` appends after a rename, and the pydelta reader,
    the JVM scan and `to_pandas` all resolve the physical names and
    field ids in the staged footers."""

    def test_container_mapped_roundtrip_both_directions(
        self, spark, tmp_path
    ):
        """Round-6 verdict item 5, pydelta side: a column-mapped table
        whose ARRAY elements and MAP values are structs, with a field
        renamed INSIDE each container — the pydelta reader projects
        both file generations to logical names, and an append after the
        rename stages container-nested physical names that every reader
        (JVM scan, to_pandas, pydelta) then resolves."""
        pyds.register(spark)
        ta = DeltaTable(str(tmp_path / "ta"))
        ta.write(
            spark.createDataFrame(
                [(1, [(1, 2)], {"k": (10,)})],
                "id long, xs array<struct<x:int,y:int>>, "
                "mp map<string,struct<c:int>>",
            )
        )
        ta.enable_column_mapping()
        ta.rename_column("xs.x", "ex")       # through the array element
        ta.rename_column("mp.c", "gamma")    # through the map value
        # append to the renamed mapped target
        ta.write(
            spark.createDataFrame(
                [(2, [(3, 4)], {"k": (20,)})],
                "id long, xs array<struct<ex:int,y:int>>, "
                "mp map<string,struct<gamma:int>>",
            )
        )
        # pydelta READ: both generations project to logical names
        got = {
            r.id: r
            for r in spark.read.format("pydelta")
            .option("path", ta.path)
            .load()
            .collect()
        }
        assert (got[1].xs[0].ex, got[1].xs[0].y) == (1, 2)
        assert got[1].mp["k"].gamma == 10
        assert (got[2].xs[0].ex, got[2].xs[0].y) == (3, 4)
        assert got[2].mp["k"].gamma == 20
        # JVM scan and to_pandas agree on the post-rename file
        jvm = ta.read(spark).filter("id = 2").collect()[0]
        assert (jvm.xs[0].ex, jvm.mp["k"].gamma) == (3, 20)
        pdf = ta.to_pandas().set_index("id")
        assert pdf.loc[2, "xs"][0]["ex"] == 3
        assert dict(pdf.loc[2, "mp"])["k"]["gamma"] == 20
        # and the staged footer really carries PHYSICAL names inside
        # the containers (regression: a logical-name footer reads back
        # all-NULL through the mapping)
        import pyarrow.parquet as pq
        import json as _json
        import os as _os
        import urllib.parse as _up

        meta, adds = ta._snapshot_state(None)
        fj = next(
            f
            for f in _json.loads(meta["schemaString"])["fields"]
            if f["name"] == "xs"
        )
        phys_ex = fj["type"]["elementType"]["fields"][0]["metadata"][
            "delta.columnMapping.physicalName"
        ]
        assert phys_ex == "x"  # identity at enable time
        newest = max(adds, key=lambda a: a["modificationTime"])
        sch = pq.read_schema(
            _os.path.join(ta.path, _up.unquote(newest["path"]))
        )
        xs_field = sch.field(
            next(
                i for i, n in enumerate(sch.names)
                if _json.loads(meta["schemaString"])["fields"][1][
                    "metadata"
                ]["delta.columnMapping.physicalName"] == n
            )
        )
        assert xs_field.type.value_type.field(0).name == "x"

    def test_container_id_mode_roundtrip_both_directions(
        self, spark, tmp_path
    ):
        """The id-mode twin of the container round-trip (round-7 verdict
        'what's missing' #4): struct fields inside ARRAY elements and
        MAP values, RENAMED, on an id-mapped table — an append stages
        physical names AND parquet field ids through the container
        paths, and every reader (JVM field-id scan, to_pandas, pydelta)
        resolves the staged file."""
        pyds.register(spark)
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField(
                        "xs",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("x", T.IntegerType()),
                                    T.StructField("y", T.IntegerType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField(
                        "mp",
                        T.MapType(
                            T.StringType(),
                            T.StructType(
                                [T.StructField("c", T.IntegerType())]
                            ),
                        ),
                    ),
                ]
            ),
            mapping_mode="id",
        )
        t.write(
            spark.createDataFrame(
                [(1, [(1, 2)], {"k": (10,)})],
                "id long, xs array<struct<x:int,y:int>>, "
                "mp map<string,struct<c:int>>",
            )
        )
        t.rename_column("xs.x", "ex")
        t.rename_column("mp.c", "gamma")
        t.write(
            spark.createDataFrame(
                [(2, [(3, 4)], {"k": (20,)})],
                "id long, xs array<struct<ex:int,y:int>>, "
                "mp map<string,struct<gamma:int>>",
            )
        )
        got = {r.id: r for r in t.read(spark).collect()}
        assert (got[1].xs[0].ex, got[1].mp["k"].gamma) == (1, 10)
        assert (got[2].xs[0].ex, got[2].mp["k"].gamma) == (3, 20)
        pdf = t.to_pandas().set_index("id")
        assert pdf.loc[2, "xs"][0]["ex"] == 3
        assert dict(pdf.loc[2, "mp"])["k"]["gamma"] == 20
        back = {
            r.id: r
            for r in spark.read.format("pydelta")
            .option("path", t.path)
            .load()
            .collect()
        }
        assert (back[2].xs[0].ex, back[2].mp["k"].gamma) == (3, 20)
        # the staged footer carries parquet FIELD IDS through the
        # array-element path (id resolution, not name luck)
        import json as _json
        import os as _os
        import urllib.parse as _up

        import pyarrow.parquet as pq

        _meta, adds = t._snapshot_state(None)
        newest = max(adds, key=lambda a: a["modificationTime"])
        sch = pq.read_schema(
            _os.path.join(t.path, _up.unquote(newest["path"]))
        )
        el = sch.field(1).type.value_field.type
        ids = {
            (el.field(i).metadata or {}).get(b"PARQUET:field_id")
            for i in range(el.num_fields)
        }
        assert None not in ids and len(ids) == 2

    def test_batch_write_to_id_mapped_table(self, spark, tmp_path):
        """id-mode target: staged footers carry parquet field ids on
        every (nested) field, so the field-id-resolving readers see the
        appended rows."""
        pyds.register(spark)
        t = DeltaTable(str(tmp_path / "t"))
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField(
                        "s",
                        T.StructType(
                            [
                                T.StructField("x", T.IntegerType()),
                                T.StructField("y", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
            mapping_mode="id",
        )
        t.write(
            spark.createDataFrame(
                [(1, (10, "a"))], "id long, s struct<x:int,y:string>"
            )
        )
        t.write(
            spark.createDataFrame(
                [(2, (20, "b"))], "id long, s struct<x:int,y:string>"
            )
        )
        got = {(r.id, r.s.x, r.s.y) for r in t.read(spark).collect()}
        assert got == {(1, 10, "a"), (2, 20, "b")}
        # the staged file's footer really carries field ids (not names):
        # the pure-python id-resolving reader agrees
        pdf = t.to_pandas()
        assert len(pdf) == 2
        back = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .load()
            .collect()
        )
        assert {(r.id, r.s.x, r.s.y) for r in back} == got

    def test_batch_write_to_name_mapped_table(self, spark, tmp_path):
        """Name-mode column-mapped target: staged files, footer stats,
        partitionValues, and hive dirs all use PHYSICAL names; logical
        reads agree across every reader."""
        pyds.register(spark)
        t = DeltaTable(str(tmp_path / "t"))
        t.write(
            spark.createDataFrame(
                [("A", 1.0, "g1"), ("B", 2.0, "g2")],
                "sym string, px double, grp string",
            ),
            partition_by=["grp"],
        )
        t.enable_column_mapping()
        t.rename_column("px", "price")
        t.write(
            spark.createDataFrame(
                [("C", 3.0, "g1")], "sym string, price double, grp string"
            ),
            partition_by=["grp"],
        )
        got = {
            (r.sym, r.price, r.grp) for r in t.read(spark).collect()
        }
        assert got == {("A", 1.0, "g1"), ("B", 2.0, "g2"), ("C", 3.0, "g1")}
        # the committed add keys partitionValues by the PHYSICAL name
        mapping = t._column_mapping(t._snapshot_state(None)[0])
        phys_grp = mapping["grp"]
        import json as _json

        last_adds = [
            a["add"]
            for a in t._read_commit(t.latest_version())
            if "add" in a
        ]
        assert last_adds and all(
            phys_grp in (a.get("partitionValues") or {}) for a in last_adds
        )
        # footer stats key physical names too (data skipping contract)
        assert all(
            mapping["price"] in _json.loads(a["stats"]).get("minValues", {})
            for a in last_adds
        )
        # the pure-python reader agrees with the Spark read
        back = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .load()
            .collect()
        )
        assert {(r.sym, r.price, r.grp) for r in back} == got
        # NESTED struct fields rename too — including a nested-field
        # rename applied after the first write
        tn = DeltaTable(str(tmp_path / "tn"))
        tn.write(
            spark.createDataFrame(
                [((1, 2), "a")], "s struct<x:int,y:int>, k string"
            )
        )
        tn.enable_column_mapping()
        tn.rename_column("s.y", "z")
        tn.write(
            spark.createDataFrame(
                [((3, 4), "b")], "s struct<x:int,z:int>, k string"
            )
        )
        rows = {(r.s.x, r.s.z, r.k) for r in tn.read(spark).collect()}
        assert rows == {(1, 2, "a"), (3, 4, "b")}
        assert {
            (r.s.x, r.s.z, r.k)
            for r in spark.read.format("pydelta")
            .option("path", tn.path)
            .load()
            .collect()
        } == rows


class TestPyDeltaStreamCdf:
    """readChangeFeed=true on the streaming source: DV'd and rewritten
    tables become streamable — deletes arrive as tagged change rows
    (read_changes' diff semantics, per micro-batch)."""

    def _drain_cdf(self, spark, path, out, ck):
        q = (
            spark.readStream.format("pydelta")
            .option("path", path)
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
        return spark.read.parquet(out)

    def test_insert_delete_update_changes(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id"))
        t.delete(spark, "id < 3")
        t.write(spark.range(10, 15).select("id"))
        t.update(spark, "id = 12", {"id": "112"})
        pyds.register(spark)
        df = self._drain_cdf(
            spark, t.path, str(tmp_path / "out"), str(tmp_path / "ck")
        )
        rows = {
            (r.id, r._change_type, r._commit_version) for r in df.collect()
        }
        assert {(i, "insert", 0) for i in range(10)} <= rows
        assert {(i, "delete", 1) for i in range(3)} <= rows
        assert {(i, "insert", 2) for i in range(10, 15)} <= rows
        assert (12, "delete", 3) in rows and (112, "insert", 3) in rows
        assert len(rows) == 10 + 3 + 5 + 2

    def test_incremental_cdf_restart(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 6).select("id"))
        pyds.register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        df = self._drain_cdf(spark, t.path, out, ck)
        assert df.count() == 6
        # a delete lands AFTER the first drain; only its delta arrives
        t.delete(spark, "id % 2 = 0")
        df = self._drain_cdf(spark, t.path, out, ck)
        got = {(r.id, r._change_type) for r in df.collect()}
        assert len(got) == 6 + 3
        assert {(0, "delete"), (2, "delete"), (4, "delete")} <= got

    def test_optimize_emits_nothing(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 8).select("id").repartition(4))
        t.compact(spark)  # dataChange=false rewrite
        pyds.register(spark)
        df = self._drain_cdf(
            spark, t.path, str(tmp_path / "out"), str(tmp_path / "ck")
        )
        assert df.count() == 8
        assert {r._change_type for r in df.collect()} == {"insert"}
        assert df.filter("_commit_version = 1").count() == 0

    def test_where_filters_change_rows(self, spark, tmp_path):
        """Stream CDF + `where`: row filtering applies to insert AND
        delete change rows (never stats pruning — change files carry no
        stats), and composes across a restart."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id"))
        t.delete(spark, "id < 4")
        pyds.register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

        def drain():
            q = (
                spark.readStream.format("pydelta")
                .option("path", t.path)
                .option("readChangeFeed", "true")
                .option("where", "id >= 2 AND id < 8")
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
            return spark.read.parquet(out)

        got = {(r.id, r._change_type) for r in drain().collect()}
        assert got == {(i, "insert") for i in range(2, 8)} | {
            (2, "delete"),
            (3, "delete"),
        }
        t.delete(spark, "id = 7 OR id = 9")
        got2 = {(r.id, r._change_type) for r in drain().collect()}
        assert got2 == got | {(7, "delete")}  # 9 filtered out


class TestPyDeltaHonestGates:
    """Options or invariants this source cannot honor must refuse
    loudly — silent under-filtering / invariant bypass is the bug class
    these gates exist for."""

    def test_stream_reader_refuses_travel_and_bad_where(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        pyds.register(spark)
        # a `where` the strict parser cannot fully decompose must error
        # up front — on a stream, silent under-filtering is wrong rows
        # forever
        with pytest.raises(Exception, match="(?i)conjunct|predicate|parse"):
            (
                spark.readStream.format("pydelta")
                .option("path", t.path)
                .option("where", "id > 1 OR id < 0")
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / "ck_badwhere"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination(60)
            )
        for opt, val in (
            ("versionAsOf", "0"),
            ("timestampAsOf", str(10**15)),
        ):
            with pytest.raises(Exception, match="STREAMING source"):
                (
                    spark.readStream.format("pydelta")
                    .option("path", t.path)
                    .option(opt, val)
                    .load()
                    .writeStream.format("noop")
                    .option(
                        "checkpointLocation", str(tmp_path / f"ck_{opt}")
                    )
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination(60)
                )

    def test_write_surface_is_retired(self, spark, tmp_path):
        """The source is read-only: ``df.write.format("pydelta")``
        refuses at ``save()`` and a ``writeStream.format("pydelta")``
        query fails when it initialises its writer, before any batch
        (writes go through `DeltaTable.write` and
        `start_delta_append_stream`). The target keeps its version, its
        rows and its files — nothing staged, nothing committed."""
        import glob
        import os
        import urllib.parse as _up

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id"))
        pyds.register(spark)
        version = t.latest_version()

        def on_disk():
            return {
                os.path.relpath(p, t.path)
                for p in glob.glob(
                    os.path.join(t.path, "**", "*.parquet"), recursive=True
                )
            }

        live = {_up.unquote(a["path"]) for a in t._snapshot_state(None)[1]}
        assert on_disk() == live
        with pytest.raises(Exception, match="writer"):
            spark.range(5, 8).select("id").write.format("pydelta").option(
                "path", t.path
            ).mode("append").save()
        src = str(tmp_path / "src")
        spark.range(5, 8).select("id").coalesce(1).write.parquet(src)
        with pytest.raises(Exception, match="streamWriter"):
            q = (
                spark.readStream.schema("id long")
                .parquet(src)
                .writeStream.format("pydelta")
                .option("path", t.path)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)
        assert t.latest_version() == version
        assert t.read(spark).count() == 5
        assert on_disk() == live

    def test_batch_cdf_requires_starting_version(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "b"))
        t.write(spark.range(0, 3).select("id"))
        pyds.register(spark)
        with pytest.raises(Exception, match="startingVersion"):
            spark.read.format("pydelta").option("path", t.path).option(
                "readChangeFeed", "true"
            ).load().collect()


class TestPyDeltaBatchCdf:
    """Batch readChangeFeed on the pydelta source (delta-spark's
    .option("readChangeFeed", true).option("startingVersion", N)
    [.option("endingVersion", M)]): one bounded range through the same
    diff planner the streaming CDF source uses per micro-batch."""

    def _table(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id").coalesce(1))  # v0
        t.delete(spark, "id < 3")                             # v1
        t.write(spark.range(10, 15).select("id").coalesce(1))  # v2
        pyds.register(spark)
        return t

    def _load(self, spark, path, start, end=None):
        r = (
            spark.read.format("pydelta")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", str(start))
        )
        if end is not None:
            r = r.option("endingVersion", str(end))
        return r.load()

    def test_full_history(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        got = self._load(spark, t.path, 0)
        by = {
            (r["_change_type"], r["_commit_version"]): r["n"]
            for r in got.groupBy("_change_type", "_commit_version")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert by == {
            ("insert", 0): 10,
            ("delete", 1): 3,
            ("insert", 2): 5,
        }
        # deleted row IDENTITY, not just counts
        assert {
            r.id for r in got.filter("_change_type = 'delete'").collect()
        } == {0, 1, 2}

    def test_range_is_inclusive_of_start_and_end(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        got = self._load(spark, t.path, 1, end=1)
        assert {
            (r["_change_type"], r["_commit_version"])
            for r in got.select("_change_type", "_commit_version")
            .distinct()
            .collect()
        } == {("delete", 1)}
        assert got.count() == 3

    def test_update_images_via_cdc_files(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "u"))
        t.write(
            spark.range(0, 6)
            .select(F.col("id"), (F.col("id") * 10).alias("v"))
            .coalesce(1)
        )
        t.enable_change_data_feed()  # v1
        t.update(spark, "id = 2", {"v": "v + 1"})  # v2: cdc pre/post
        pyds.register(spark)
        got = self._load(spark, t.path, 2).filter("id = 2")
        rows = {r["_change_type"]: r["v"] for r in got.collect()}
        assert rows == {"update_preimage": 20, "update_postimage": 21}

    def test_out_of_range_versions_refused(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(Exception, match="after the latest"):
            self._load(spark, t.path, 99).collect()
        with pytest.raises(Exception, match="out of range"):
            self._load(spark, t.path, 1, end=99).collect()

    def test_cdf_refuses_time_travel_combo(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(Exception, match="versionAsOf"):
            (
                spark.read.format("pydelta")
                .option("path", t.path)
                .option("readChangeFeed", "true")
                .option("startingVersion", "0")
                .option("versionAsOf", "1")
                .load()
                .collect()
            )

    def test_cdf_where_filters_rows_exactly(self, spark, tmp_path):
        """Round-6 verdict item 7: `where` composes with readChangeFeed
        as exact ROW filtering (change partitions carry no file stats,
        so there is nothing to prune — but the executor conjunct filter
        applies to inserts, deletes, and cdc images alike)."""
        t = self._table(spark, tmp_path)
        got = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .option("where", "id <= 1")
            .load()
        )
        rows = {
            (r.id, r["_change_type"], r["_commit_version"])
            for r in got.collect()
        }
        assert rows == {
            (0, "insert", 0),
            (1, "insert", 0),
            (0, "delete", 1),
            (1, "delete", 1),
        }
        # agrees with client-side filtering of the unfiltered feed
        unf = {
            (r.id, r["_change_type"], r["_commit_version"])
            for r in self._load(spark, t.path, 0).filter("id <= 1").collect()
        }
        assert rows == unf
        # cdc-file commits (true update images) filter too
        u = DeltaTable(str(tmp_path / "u"))
        u.write(
            spark.range(0, 6)
            .select(F.col("id"), (F.col("id") * 10).alias("v"))
            .coalesce(1)
        )
        u.enable_change_data_feed()  # v1
        u.update(spark, "id >= 2", {"v": "v + 1"})  # v2 cdc images
        imgs = (
            spark.read.format("pydelta")
            .option("path", u.path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "2")
            .option("where", "id = 3")
            .load()
        )
        assert {
            (r["_change_type"], r["v"]) for r in imgs.collect()
        } == {("update_preimage", 30), ("update_postimage", 31)}

    def test_cdf_refuses_expired_commit_prefix(self, spark, tmp_path):
        """After cleanup_metadata expires the log prefix, the per-path
        prior-state replay is impossible — a DV re-add of a
        pre-checkpoint file would be emitted as a full-file insert
        (double-reading live rows). Must refuse loudly, exactly like
        DeltaTable.read_changes does."""
        t = self._table(spark, tmp_path)
        t.checkpoint(spark)
        t.cleanup_metadata(retention_ms=0, force=True)
        start = t._commit_versions()[-1]
        with pytest.raises(Exception, match="expired|not in the log"):
            self._load(spark, t.path, start).collect()

    def test_batch_cdf_agrees_with_read_changes(self, spark, tmp_path):
        # same table, same range: the batch pydelta feed must match the
        # JVM-path DeltaTable.read_changes row-for-row
        t = self._table(spark, tmp_path)
        mine = {
            (r.id, r["_change_type"], r["_commit_version"])
            for r in self._load(spark, t.path, 0).collect()
        }
        jvm = {
            (r.id, r["_change_type"], r["_commit_version"])
            for r in t.read_changes(spark, starting_version=0).collect()
        }
        assert mine == jvm


class TestPyDeltaRateLimiting:
    """maxFilesPerTrigger / maxBytesPerTrigger admission control: whole
    commits per micro-batch up to the budget, always at least one; the
    first batch of a run is unbounded (the Python DS API calls
    latestOffset before initialOffset — see the reader docstring), every
    later batch of the run is bounded; exactly-once is never traded."""

    def _start(self, spark, path, out, opts):
        reader = spark.readStream.format("pydelta").option("path", path)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out + "/data")
            .option("checkpointLocation", out + "/ckpt")
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    def _wait_rows(self, spark, out, target, timeout=90):
        import time as _time

        deadline = _time.time() + timeout
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out + "/data").count() >= target:
                    return
            except Exception:
                pass
            _time.sleep(0.5)
        raise AssertionError(f"sink never reached {target} rows")

    def test_max_files_bounds_batches_after_the_first(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id").coalesce(1))  # v0
        pyds.register(spark)
        out = str(tmp_path / "out")
        q = self._start(spark, t.path, out, {"maxFilesPerTrigger": "2"})
        try:
            self._wait_rows(spark, out, 10)  # first (unbounded) batch done
            for i in range(1, 5):  # v1..v4, one file each
                t.write(
                    spark.range(i * 10, i * 10 + 10).select("id").coalesce(1)
                )
            self._wait_rows(spark, out, 50)
            batches = [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
        finally:
            q.stop()
        assert sum(batches) == 50
        # every batch after the first admits at most 2 one-file commits
        assert all(b <= 20 for b in batches[1:]), batches
        assert len(batches) >= 3, batches
        got = spark.read.parquet(out + "/data")
        assert got.count() == 50
        assert {r.id for r in got.collect()} == set(range(50))

    def test_max_bytes_admits_at_least_one_commit(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id").coalesce(1))
        pyds.register(spark)
        out = str(tmp_path / "out")
        # 1-byte budget: every commit exceeds it, so each batch admits
        # exactly one commit (the >=1 floor) — never zero, never stuck
        q = self._start(spark, t.path, out, {"maxBytesPerTrigger": "1"})
        try:
            self._wait_rows(spark, out, 10)
            for i in range(1, 4):  # v1..v3
                t.write(
                    spark.range(i * 10, i * 10 + 10).select("id").coalesce(1)
                )
            self._wait_rows(spark, out, 40)
            batches = [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
        finally:
            q.stop()
        assert sum(batches) == 40
        assert all(b == 10 for b in batches[1:]), batches

    def test_exactly_once_across_restart_with_rate_limit(
        self, spark, tmp_path
    ):
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(3):
            t.write(spark.range(i * 10, i * 10 + 10).select("id").coalesce(1))
        pyds.register(spark)
        out = str(tmp_path / "out")
        q = self._start(spark, t.path, out, {"maxFilesPerTrigger": "1"})
        try:
            self._wait_rows(spark, out, 30)
        finally:
            q.stop()
        t.write(spark.range(100, 105).select("id").coalesce(1))
        q2 = self._start(spark, t.path, out, {"maxFilesPerTrigger": "1"})
        try:
            self._wait_rows(spark, out, 35)
        finally:
            q2.stop()
        got = spark.read.parquet(out + "/data")
        assert got.count() == 35  # nothing lost, nothing replayed
        assert got.select("id").distinct().count() == 35

    def test_rate_limit_composes_with_cdf_and_where(self, spark, tmp_path):
        """maxFilesPerTrigger + readChangeFeed + where together: commits
        admit whole per budget, change rows are derived per bounded
        batch, the row filter applies to every change type — and the
        total is exactly-once."""
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).select("id").coalesce(1))  # v0
        pyds.register(spark)
        out = str(tmp_path / "out")
        q = self._start(
            spark,
            t.path,
            out,
            {
                "maxFilesPerTrigger": "1",
                "readChangeFeed": "true",
                "where": "id < 25",
            },
        )
        try:
            self._wait_rows(spark, out, 10)  # first unbounded batch
            t.write(spark.range(10, 20).select("id").coalesce(1))  # v1
            t.write(spark.range(20, 30).select("id").coalesce(1))  # v2: 20-24 pass
            t.delete(spark, "id % 10 = 3")  # v3: deletes 3, 13, 23 pass
            self._wait_rows(spark, out, 10 + 10 + 5 + 3)
            batches = [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
        finally:
            q.stop()
        got = {
            (r.id, r._change_type)
            for r in spark.read.parquet(out + "/data").collect()
        }
        assert got == (
            {(i, "insert") for i in range(25)}
            | {(3, "delete"), (13, "delete"), (23, "delete")}
        )
        assert sum(batches) == 28
        # post-first batches stay bounded: one commit each (10 inserts,
        # 5 filtered inserts, 3 filtered deletes — never coalesced)
        assert all(b <= 10 for b in batches[1:]), batches

    def test_invalid_budgets_refused(self, spark, tmp_path):
        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 5).select("id").coalesce(1))
        pyds.register(spark)
        with pytest.raises(Exception, match="maxFilesPerTrigger"):
            (
                spark.readStream.format("pydelta")
                .option("path", t.path)
                .option("maxFilesPerTrigger", "0")
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / "c"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination(60)
            )


class TestStreamVsLogCompaction:
    """Minor log compaction + cleanup of an already-consumed commit
    range must be invisible to an incremental pydelta stream: the next
    drain reads only post-checkpoint commits, which compaction never
    deletes — and batch reads through the compaction stay identical."""

    def _drain(self, spark, path, out):
        reader = spark.readStream.format("pydelta").option("path", path)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out + "/data")
            .option("checkpointLocation", out + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        err = q.exception()
        if err:
            raise err
        return spark.read.parquet(out + "/data")

    def test_compaction_and_cleanup_mid_stream(self, spark, tmp_path):
        import os

        t = DeltaTable(str(tmp_path / "t"))
        for i in range(4):  # v0..v3
            t.write(spark.range(i * 10, i * 10 + 10).coalesce(1))
        pyds.register(spark)
        out = str(tmp_path / "out")
        got = self._drain(spark, t.path, out)
        assert got.count() == 40
        # consumed range gets checkpointed, compacted, and EXPIRED
        t.checkpoint(spark)  # at v3
        t.write(spark.range(100, 110).coalesce(1))  # v4 (post-checkpoint)
        t.compact_log(0, 3)
        t.cleanup_metadata(retention_ms=0, force=True)  # v0..v2 JSONs go
        assert t._commit_versions()[0] == 3
        # incremental drain sees exactly the new commit
        got2 = self._drain(spark, t.path, out)
        assert got2.count() == 50
        assert {r.id for r in got2.collect()} == set(range(40)) | set(
            range(100, 110)
        )
        # batch read (pure-python planner) still walks the compaction
        batch = (
            spark.read.format("pydelta").option("path", t.path).load()
        )
        assert batch.count() == 50


class TestPartitionBinPacking:
    """The planner mirrors Spark's FileSourceScan policy: partitions
    scale with BYTES, not file count — a many-small-files table packs
    several files per executor task (one Python-worker round-trip each),
    while 128 MiB files keep one-file-per-partition."""

    def _mk(self, n, size):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            PyDeltaPartition,
        )

        return [
            PyDeltaPartition(f"/x/f{i}.parquet", {}, {}, [], [], size_hint=size)
            for i in range(n)
        ]

    def test_small_files_pack_to_parallelism_floor(self):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            PyDeltaMultiPartition,
            _pack_partitions,
        )

        tasks = self._mk(150, 100 * 1024)  # 150 x 100 KiB
        packed = _pack_partitions(tasks, {"defaultparallelism": "32"})
        # cost = 150 x ~4.1 MiB ~ 615 MiB; split ~ 19 MiB -> ~32 bins
        assert 20 <= len(packed) <= 40
        # nothing lost, order preserved
        flat = [
            t
            for p in packed
            for t in (p.tasks if isinstance(p, PyDeltaMultiPartition) else [p])
        ]
        assert [t.file_path for t in flat] == [t.file_path for t in tasks]

    def test_large_files_stay_one_per_partition(self):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            PyDeltaMultiPartition,
            _pack_partitions,
        )

        tasks = self._mk(10, 128 * 1024 * 1024)
        packed = _pack_partitions(tasks, {"defaultparallelism": "4"})
        assert len(packed) == 10
        assert not any(isinstance(p, PyDeltaMultiPartition) for p in packed)

    def test_single_task_passthrough(self):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            _pack_partitions,
        )

        tasks = self._mk(1, 5)
        assert _pack_partitions(tasks, {}) is tasks
        assert _pack_partitions([], {}) == []

    def test_option_overrides_bound_partition_bytes(self):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.pyds import (
            _pack_partitions,
        )

        tasks = self._mk(8, 10 * 1024 * 1024)
        packed = _pack_partitions(
            tasks,
            {
                "maxpartitionbytes": str(16 * 1024 * 1024),
                "opencostinbytes": "0",
                "defaultparallelism": "1",
            },
        )
        # 8 x 10 MiB with a 16 MiB ceiling -> pairs would overflow; the
        # ceiling (not the parallelism floor) governs
        assert len(packed) == 8

    def test_many_small_files_table_plans_packed(self, spark, tmp_path):
        """End to end: a 20-tiny-file table reads through packed
        partitions with identical results."""
        t = DeltaTable(str(tmp_path / "t"))
        for i in range(20):
            t.write(spark.range(i * 5, i * 5 + 5).coalesce(1))
        pyds.register(spark)
        df = (
            spark.read.format("pydelta")
            .option("path", t.path)
            .option("defaultparallelism", "4")
            .load()
        )
        assert df.rdd.getNumPartitions() <= 8
        assert sorted(r.id for r in df.collect()) == list(range(100))


class TestVariantShredding:
    """Shredded-variant reads: typed paths from typed_value leaves;
    residual binaries, non-primitive leaves, and writer-side residual
    needs all refuse loudly (sources/shredding.py)."""

    def _table(self, spark, tmp_path, rows, shredded=None):
        import pyarrow as pa

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.shredding import (
            write_shredded_variant_table,
        )

        tbl = pa.table(
            {
                "id": pa.array(range(len(rows)), type=pa.int64()),
                "payload": pa.array(rows, type=pa.string()),
            }
        )
        return write_shredded_variant_table(
            str(tmp_path / "t"),
            tbl,
            "payload",
            shredded or {"k": "long", "t": "string"},
            n_files=2,
        )

    def _read(self, spark, path, ddl):
        pyds.register(spark)
        return (
            spark.read.format("pydelta")
            .option("path", path)
            .schema(ddl)
            .load()
        )

    def test_typed_paths_and_nulls(self, spark, tmp_path):
        t = self._table(
            spark,
            tmp_path,
            ['{"k": 7, "t": "a"}', '{"t": "b"}', None, '{"k": 9}'],
        )
        got = {
            r.id: (r.payload.k if r.payload else None,
                   r.payload.t if r.payload else None)
            for r in self._read(
                spark, t.path, "id long, payload struct<k: long, t: string>"
            ).collect()
        }
        assert got == {0: (7, "a"), 1: (None, "b"), 2: (None, None),
                       3: (9, None)}

    def test_never_shredded_field_reads_null(self, spark, tmp_path):
        t = self._table(spark, tmp_path, ['{"k": 1}'], {"k": "long"})
        row = self._read(
            spark, t.path, "id long, payload struct<k: long, nope: string>"
        ).collect()[0]
        assert row.payload.k == 1 and row.payload.nope is None

    def test_protocol_fenced_both_sides(self, spark, tmp_path):
        t = self._table(spark, tmp_path, ['{"k": 1}'], {"k": "long"})
        _m, _a, proto = t._snapshot_state_full(None)
        assert proto["minReaderVersion"] == 3
        assert "variantShredding" in proto["readerFeatures"]
        assert "variantShredding" in proto["writerFeatures"]

    def test_unshredded_variant_read_still_gates(self, spark, tmp_path):
        t = self._table(spark, tmp_path, ['{"k": 1}'], {"k": "long"})
        pyds.register(spark)
        with pytest.raises(Exception, match="VARIANT|variant"):
            # no .schema() -> log schema (variant) -> loud gate
            spark.read.format("pydelta").option("path", t.path).load().collect()

    def test_residual_binary_value_refuses(self, spark, tmp_path):
        import pyarrow.parquet as pq
        import pyarrow as pa
        import glob
        import os

        t = self._table(spark, tmp_path, ['{"k": 1}', '{"k": 2}'],
                        {"k": "long"})
        # corrupt one file: give row 0 a residual top-level binary value
        fp = sorted(glob.glob(os.path.join(t.path, "*.parquet")))[0]
        tbl = pq.read_table(fp)
        pay = tbl.column("payload").combine_chunks()
        mv = pa.StructArray.from_arrays(
            [
                pay.field("metadata"),
                pa.array([b"\x01"] * len(pay), type=pa.binary()),
                pay.field("typed_value"),
            ],
            names=["metadata", "value", "typed_value"],
        )
        pq.write_table(
            tbl.set_column(
                tbl.column_names.index("payload"),
                pa.field("payload", mv.type),
                mv,
            ),
            fp,
        )
        with pytest.raises(Exception, match="residual"):
            self._read(
                spark, t.path, "id long, payload struct<k: long>"
            ).collect()

    def test_writer_refuses_residual_needs(self, spark, tmp_path):
        with pytest.raises(NotImplementedError, match="outside the shredding"):
            self._table(spark, tmp_path, ['{"k": 1, "x": 2}'], {"k": "long"})
        with pytest.raises(NotImplementedError, match="does not match"):
            self._table(spark, tmp_path / "b", ['{"k": "s"}'], {"k": "long"})
        with pytest.raises(NotImplementedError, match="non-object"):
            self._table(spark, tmp_path / "c", ['[1,2]'], {"k": "long"})

    def test_dist_writer_roundtrips_and_refuses_executor_side(
        self, spark, tmp_path
    ):
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.shredding import (
            write_shredded_variant_table_dist,
        )

        df = spark.createDataFrame(
            [(0, '{"k": 7, "t": "a"}'), (1, '{"t": "b"}'), (2, None),
             (3, '{"k": 9}')],
            "id long, payload string",
        ).repartition(3)
        t = write_shredded_variant_table_dist(
            str(tmp_path / "d"), df, "payload", {"k": "long", "t": "string"}
        )
        got = {
            r.id: (r.payload.k if r.payload else None,
                   r.payload.t if r.payload else None)
            for r in self._read(
                spark, t.path, "id long, payload struct<k: long, t: string>"
            ).collect()
        }
        assert got == {0: (7, "a"), 1: (None, "b"), 2: (None, None),
                       3: (9, None)}
        # one staged file per non-empty partition, log fenced both sides
        _m, adds, proto = t._snapshot_state_full(None)
        assert 1 <= len(adds) <= 3
        assert "variantShredding" in proto["readerFeatures"]
        # refuse-loudly contract holds from the EXECUTOR too
        bad = spark.createDataFrame(
            [(0, '{"k": 1, "extra": 2}')], "id long, payload string"
        )
        with pytest.raises(Exception, match="outside the shredding"):
            write_shredded_variant_table_dist(
                str(tmp_path / "bad"), bad, "payload", {"k": "long"}
            )

    def test_column_mapped_shredded_read_refused(self, spark, tmp_path):
        # ADVICE r10: under column mapping the files carry physical
        # nested names, _is_shredded_layout misses the layout, and the
        # positional rebuild would serve metadata/value/typed_value AS
        # the declared struct fields — gate it like to_pandas does
        t = self._table(spark, tmp_path, ['{"k": 1}'], {"k": "long"})
        t.enable_column_mapping()
        with pytest.raises(Exception, match="column-mapped"):
            self._read(
                spark, t.path, "id long, payload struct<k: long>"
            ).collect()

    def test_unshred_widening_lossless_only(self):
        # ADVICE r10: a blanket arrow cast PARSES string leaves into
        # declared numerics — only lossless numeric widenings may serve
        import pyarrow as pa

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.shredding import (
            EMPTY_METADATA,
            unshred_struct_array,
        )
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            _spark_to_arrow_type,
        )
        from pyspark.sql import types as T

        def shredded(leaf):
            k = pa.StructArray.from_arrays([leaf], names=["typed_value"])
            tv = pa.StructArray.from_arrays([k], names=["k"])
            return pa.StructArray.from_arrays(
                [
                    pa.array([EMPTY_METADATA] * len(leaf), type=pa.binary()),
                    tv,
                ],
                names=["metadata", "typed_value"],
            )

        arr32 = shredded(pa.array([1, 2], type=pa.int32()))
        out = unshred_struct_array(
            arr32,
            T.StructType([T.StructField("k", T.LongType())]),
            _spark_to_arrow_type,
        )
        assert out.field("k").type == pa.int64()
        assert out.field("k").to_pylist() == [1, 2]
        # int -> double is NOT lossless (above 2^53): refused
        with pytest.raises(NotImplementedError, match="lossless"):
            unshred_struct_array(
                arr32,
                T.StructType([T.StructField("k", T.DoubleType())]),
                _spark_to_arrow_type,
            )
        # string leaf declared long: arrow would PARSE it — refused
        arr_s = shredded(pa.array(["1", "2"], type=pa.string()))
        with pytest.raises(NotImplementedError, match="lossless"):
            unshred_struct_array(
                arr_s,
                T.StructType([T.StructField("k", T.LongType())]),
                _spark_to_arrow_type,
            )

    def test_to_pandas_shredded(self, spark, tmp_path):
        t = self._table(
            spark,
            tmp_path,
            ['{"k": 7, "t": "a"}', '{"t": "b"}', None],
        )
        pdf = t.to_pandas(shredded={"payload": "k: long, t: string"})
        got = {
            int(r.id): (None, None)
            if r.payload is None or not isinstance(r.payload, dict)
            else (r.payload.get("k"), r.payload.get("t"))
            for r in pdf.itertuples()
        }
        assert got == {0: (7, "a"), 1: (None, "b"), 2: (None, None)}
        # without shredded= the variant gate still refuses, pointing at it
        with pytest.raises(NotImplementedError, match="shredded"):
            t.to_pandas()
        with pytest.raises(ValueError, match="not variant"):
            t.to_pandas(shredded={"id": "k: long"})


class TestOffRepoWorkerShipping:
    """The driver consumes this engine from OUTSIDE the repo (cwd
    elsewhere, repo only on the driver's sys.path) — Python data-source
    workers then cannot `import cryptopulse_...` by name, so register()
    must ship EVERY referenced module by value. Round-10 regression: a
    new top-level import in pyds.py (shredding) reached workers as a
    by-reference pickle and every pydelta query failed off-repo while
    in-repo pytest stayed green."""

    def test_pydelta_read_with_offrepo_cwd(self, spark, tmp_path):
        import subprocess
        import sys
        from pathlib import Path

        REPO = Path(__file__).resolve().parents[1]

        t = DeltaTable(str(tmp_path / "t"))
        t.write(spark.range(0, 10).coalesce(1))
        script = tmp_path / "offrepo.py"
        script.write_text(
            "import sys\n"
            f"sys.path.insert(0, {str(REPO)!r})\n"
            "from pyspark.sql import SparkSession\n"
            "from cryptopulse_real_time_arbitrage_detection_lakehouse_spark"
            ".sources import pyds\n"
            "spark = (SparkSession.builder.master('local[2]')"
            ".config('spark.sql.shuffle.partitions','2').getOrCreate())\n"
            "pyds.register(spark)\n"
            "n = (spark.read.format('pydelta')"
            f".option('path', {t.path!r}).load().count())\n"
            "assert n == 10, n\n"
            "print('OFFREPO_OK')\n"
        )
        out = subprocess.run(
            [sys.executable, str(script)],
            cwd="/tmp",
            capture_output=True,
            text=True,
            timeout=300,
            env={
                k: v
                for k, v in __import__("os").environ.items()
                if k != "PYTHONPATH"
            },
        )
        assert "OFFREPO_OK" in out.stdout, out.stderr[-2000:]
