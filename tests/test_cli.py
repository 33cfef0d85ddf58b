"""CLI dispatch (the reference's shell-driven operation, SURVEY.md 3.1-3.2):
list/query/pipeline must work against an injected session."""

from __future__ import annotations

import json

import pytest

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main

from test_streaming import make_raw_ticks


class TestCli:
    def test_list_prints_registry(self, capsys):
        assert main(["list"]) == 0
        out = capsys.readouterr().out
        assert "gold_candles_1m" in out and "(oracle)" in out

    def test_list_tag_filter(self, capsys):
        assert main(["list", "--tag", "kmeans"]) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert out and all("kmeans" in line for line in out)

    def test_query_shows_rows(self, spark, capsys):
        assert main(["query", "distinct_symbols"], spark=spark) == 0
        assert "S0" in capsys.readouterr().out

    def test_query_unknown_name_raises(self, spark):
        with pytest.raises(KeyError):
            main(["query", "no_such_query"], spark=spark)

    def test_pipeline_sequential(self, spark, tmp_path, capsys):
        raw = str(tmp_path / "raw")
        log_dir = tmp_path / "logs"
        make_raw_ticks(spark, n=120).write.parquet(raw)
        rc = main(
            [
                "pipeline", "--raw-dir", raw, "--out-root", str(tmp_path / "out"),
                "--log-dir", str(log_dir),
            ],
            spark=spark,
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "bronze: 120 rows" in out and "silver: 120 rows" in out
        assert "gold:" in out

        # --log-dir: each hop's per-batch progress records, as JSON lines
        logs = {}
        for name in ("bronze_ingest", "silver_parse", "gold_candles"):
            lines = (log_dir / f"{name}.log").read_text().splitlines()
            logs[name] = [json.loads(line) for line in lines]
            assert any("addBatch" in r["durationMs"] for r in logs[name]), name
        gold = next(r for r in logs["gold_candles"] if r["numInputRows"])
        assert gold["stateOperators"]
        assert "watermark" in gold["eventTime"]


def test_query_catalog_is_current():
    """QUERIES.md must match the live registry (regenerate with
    tools/gen_query_catalog.py when adding queries)."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    rc = subprocess.run(
        [sys.executable, str(repo / "tools" / "gen_query_catalog.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert rc.returncode == 0, rc.stdout + rc.stderr


class TestDeltaMaintenanceCli:
    def test_delta_subcommands_roundtrip(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import (
            main,
        )
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        for i in range(3):
            t.write(
                spark.range(i * 10, i * 10 + 10).select(
                    F.col("id"), (F.col("id") % 4).alias("g")
                ).coalesce(1)
            )
        assert main(["delta", "--path", root, "delete", "g = 1"], spark=spark) == 0
        out = capsys.readouterr().out
        assert "DELETE committed version" in out
        assert t.read(spark).count() == 30 - 8  # ids 1,5,...29 -> 8 rows? g=id%4==1
        assert main(["delta", "--path", root, "compact", "--target-files", "1"], spark=spark) == 0
        assert main(["delta", "--path", root, "checkpoint"], spark=spark) == 0
        assert main(
            ["delta", "--path", root, "vacuum", "--retention-hours", "0",
             "--force"],
            spark=spark,
        ) == 0
        out = capsys.readouterr().out
        assert "vacuumed" in out
        assert main(["delta", "--path", root, "history"], spark=spark) == 0
        out = capsys.readouterr().out
        assert "OPTIMIZE" in out and "DELETE" in out
        assert t.read(spark).count() == 30 - 8


class TestCliUpdateAndClone:
    def test_update_and_clone_verbs(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        t.write(
            spark.range(0, 20).select(
                F.col("id"), (F.col("id") * 1.0).alias("v")
            )
        )
        rc = main(
            ["delta", "--path", root, "update", "id < 5", "v=v + 100"],
            spark=spark,
        )
        assert rc == 0
        assert "UPDATE committed version 1" in capsys.readouterr().out
        assert t.read(spark).filter("v >= 100").count() == 5

        fork = str(tmp_path / "fork")
        rc = main(["delta", "--path", root, "clone", fork], spark=spark)
        assert rc == 0
        assert "cloned to" in capsys.readouterr().out
        assert DeltaTable(fork).read(spark).count() == 20

        rc = main(
            ["delta", "--path", root, "update", "id < 5", "nonsense"],
            spark=spark,
        )
        assert rc == 2


class TestCliFeatureLifecycleVerbs:
    def test_convert_setdefault_reorg_dropfeature(
        self, spark, tmp_path, capsys
    ):
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        # convert: a plain parquet dir becomes a Delta table in place
        root = str(tmp_path / "lake")
        spark.range(0, 30).select(
            F.col("id"), (F.col("id") % 3).alias("g")
        ).repartition(2).write.parquet(root)
        rc = main(["delta", "--path", root, "convert"], spark=spark)
        assert rc == 0
        assert "converted" in capsys.readouterr().out
        t = DeltaTable(root)
        assert t.read(spark).count() == 30

        # set-default on an existing column, then drop it with '-'
        rc = main(
            ["delta", "--path", root, "set-default", "g", "7"], spark=spark
        )
        assert rc == 0
        assert "SET DEFAULT 7" in capsys.readouterr().out
        t.write(spark.range(30, 32).select("id"))
        assert t.read(spark).filter("g = 7").count() == 2
        rc = main(
            ["delta", "--path", root, "set-default", "g", "-"], spark=spark
        )
        assert rc == 0
        assert "DROP DEFAULT" in capsys.readouterr().out

        # delete -> reorg -> drop-feature: the full DV retirement arc
        rc = main(["delta", "--path", root, "delete", "g = 1"], spark=spark)
        assert rc == 0
        capsys.readouterr()
        rc = main(["delta", "--path", root, "reorg"], spark=spark)
        assert rc == 0
        assert "REORG committed" in capsys.readouterr().out
        rc = main(
            [
                "delta",
                "--path",
                root,
                "drop-feature",
                "deletionVectors",
                "--truncate-history",
            ],
            spark=spark,
        )
        assert rc == 0
        assert "DROP FEATURE deletionVectors" in capsys.readouterr().out
        _m, _a, proto = t._snapshot_state_full(None)
        assert "deletionVectors" not in (proto.get("writerFeatures") or [])
        assert t.read(spark).filter("g = 1").count() == 0

    def test_fsck_repair_verb(self, spark, tmp_path, capsys):
        import os

        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        t.write(spark.range(0, 5).select("id").coalesce(1))
        t.write(spark.range(5, 9).select("id").coalesce(1))
        # healthy table: fsck is a no-op
        rc = main(["delta", "--path", root, "fsck"], spark=spark)
        assert rc == 0
        assert "all referenced files present" in capsys.readouterr().out
        # simulate external loss of the first commit's file
        _m, adds = t._snapshot_state(None)
        victim = sorted(a["path"] for a in adds)[0]
        os.remove(os.path.join(root, victim))
        with pytest.raises(Exception):
            t.read(spark).count()  # scans fail on the missing file
        rc = main(["delta", "--path", root, "fsck", "--dry-run"], spark=spark)
        assert rc == 0
        out = capsys.readouterr().out
        assert "dry run: 1 missing" in out and victim in out
        rc = main(["delta", "--path", root, "fsck"], spark=spark)
        assert rc == 0
        assert "dropped 1 missing" in capsys.readouterr().out
        # the log now agrees with reality: scans work, survivors intact
        # (paths embed the commit version, so sorted-first = commit 0's
        # file = rows 0-4)
        got = sorted(r.id for r in t.read(spark).collect())
        assert got == [5, 6, 7, 8]

    def test_cluster_by_verb(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        t.write(
            spark.range(0, 40)
            .select(F.col("id"), (F.col("id") % 5).alias("g"))
            .repartition(4)
        )
        rc = main(["delta", "--path", root, "cluster-by", "g"], spark=spark)
        assert rc == 0
        assert "CLUSTER BY (g) committed" in capsys.readouterr().out
        assert t.cluster_by() == ["g"]
        # a bare compact then executes the declared layout
        rc = main(
            ["delta", "--path", root, "compact", "--target-files", "2"],
            spark=spark,
        )
        assert rc == 0
        assert "OPTIMIZE committed" in capsys.readouterr().out
        assert t.read(spark).count() == 40

    def test_sync_identity_verb(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import main
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        t.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("sym", T.StringType()),
                ]
            ),
            identity_columns={"id": (1, 1)},
        )
        t.write(
            spark.range(0, 4).select(
                F.col("id").cast("string").alias("sym")
            ).coalesce(1)
        )
        rc = main(["delta", "--path", root, "sync-identity"], spark=spark)
        assert rc == 0
        assert "SYNC IDENTITY committed" in capsys.readouterr().out
        assert t._identity_columns(t._snapshot_state(None)[0])["id"][
            "highWaterMark"
        ] == 4


class TestCliCompactLog:
    def test_compact_log_verb(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.cli import (
            main,
        )
        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
            DeltaTable,
        )

        root = str(tmp_path / "t")
        t = DeltaTable(root)
        for i in range(3):
            t.write(
                spark.range(i * 10, i * 10 + 10)
                .select(F.col("id"))
                .coalesce(1)
            )
        assert (
            main(
                ["delta", "--path", root, "compact-log", "--start", "0",
                 "--end", "2"],
                spark=spark,
            )
            == 0
        )
        out = capsys.readouterr().out
        assert "wrote log compaction" in out
        assert t._compaction_ranges() == [(0, 2)]
        assert t.read(spark).count() == 30


class TestRenderVerb:
    """The dashboard twin (reference src/dashboard/app.py): KPI + lossless
    min/max-downsampled chart, emitted as self-contained HTML or JSON."""

    def test_render_html_is_self_contained(self, spark, tmp_path):
        out = tmp_path / "dash.html"
        assert (
            main(["render", "--out", str(out)], spark=spark) == 0
        )
        s = out.read_text()
        # one panel per symbol, each with an SVG range band, a data
        # table, and an accessible name; no external resources
        assert s.count("class='panel'") == 3
        assert s.count("<svg") == 3 and s.count("class='band'") == 3
        assert s.count("<table>") == 3
        assert "aria-label='S0 30-minute high/low range'" in s
        assert "http://" not in s and "https://" not in s
        assert "NaN" not in s

    def test_render_json_payload(self, spark, capsys):
        assert (
            main(
                ["render", "--format", "json", "--symbol", "S1"],
                spark=spark,
            )
            == 0
        )
        import json

        payload = json.loads(capsys.readouterr().out)
        assert set(payload["kpis"]) == {"S1"} == set(payload["series"])
        k = payload["kpis"]["S1"]
        assert k["delta"] == pytest.approx(k["close"] - k["prev_close"])
        kinds = {p["kind"] for p in payload["series"]["S1"]}
        assert kinds == {"high", "low"}
