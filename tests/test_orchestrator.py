"""Concurrent orchestrator suite (SURVEY.md section 3.1; reference
``src/jobs/orchestration.py:27-59``): all three medallion hops running at
the same time in one session, cascading through tables, must produce
exactly the sequential drain's result — plus the supervision contracts
(log redirection, failure propagation, fan-out stop).
"""

from __future__ import annotations

import json
import os

import pytest

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming import (
    JobSpec,
    MedallionOrchestrator,
    run_medallion_available_now,
    run_medallion_concurrent,
)

from test_streaming import make_raw_ticks


def read_sorted(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        tuple(str(v) for v in row) for row in df.drop("ingest_ts").collect()
    )


class TestConcurrentPipeline:
    def test_concurrent_equals_sequential_drain(self, spark, tmp_path):
        """The reference's steady-state topology (three concurrent jobs) and
        the bounded sequential drain are the same function over bounded
        input: identical bronze/silver/gold tables."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=400).write.parquet(raw_dir)

        # idle events are throttled by this interval (default 10s); tighten
        # so quiescence detection sees idleness promptly in the test.
        spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "1s")
        log_dir = str(tmp_path / "logs")
        conc = run_medallion_concurrent(
            spark,
            raw_dir=raw_dir,
            out_root=str(tmp_path / "conc"),
            log_dir=log_dir,
            timeout_sec=180,
        )
        seq = run_medallion_available_now(
            spark, raw_dir=raw_dir, out_root=str(tmp_path / "seq")
        )

        for layer in ("bronze", "silver", "gold"):
            assert read_sorted(spark, conc[layer]) == read_sorted(
                spark, seq[layer]
            ), f"{layer} diverged between concurrent and sequential runs"
        # gold actually emitted rows (watermark passed at least one window)
        assert len(read_sorted(spark, conc["gold"])) > 0

        # log redirection twin: one log per job, with lifecycle events
        for name in ("bronze_ingest_live", "silver_parse_live", "gold_candles_live"):
            path = os.path.join(log_dir, f"{name}.log")
            assert os.path.exists(path), f"missing log for {name}"
            events = [json.loads(line)["event"] for line in open(path)]
            assert events[0] == "started"
            assert "progress" in events
            assert events[-1] == "terminated"

        # each progress line carries the hop's full progress: phase
        # durations, watermark, state-store size and the rates
        gold = [
            json.loads(line)
            for line in open(os.path.join(log_dir, "gold_candles_live.log"))
        ]
        rec = next(
            r for r in gold if r["event"] == "progress" and r["numInputRows"]
        )
        assert {"addBatch", "triggerExecution", "walCommit"} <= set(
            rec["durationMs"]
        )
        assert rec["watermark"].startswith(("19", "20"))
        assert rec["stateOperators"]
        for op in rec["stateOperators"]:
            assert op["numRowsTotal"] >= 0
            assert op["memoryUsedBytes"] > 0
            assert op["numRowsDroppedByWatermark"] >= 0
        assert rec["processedRowsPerSecond"] > 0
        assert "inputRowsPerSecond" in rec

    def test_failed_job_propagates_and_stops_siblings(self, spark, tmp_path):
        """A crashed child must surface its exception and take the rest of
        the pipeline down — the reference's Popen children die silently."""
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=50).write.parquet(raw_dir)

        def start_ok():
            stream = spark.readStream.schema("key binary, value binary, timestamp timestamp").parquet(raw_dir)
            return (
                stream.writeStream.format("noop")
                .queryName("ok_job")
                .option("checkpointLocation", str(tmp_path / "ck_ok"))
                .start()
            )

        def start_bad():
            stream = spark.readStream.schema("key binary, value binary, timestamp timestamp").parquet(raw_dir)

            def boom(batch_df, batch_id):
                raise RuntimeError("orchestrated job crash")

            return (
                stream.writeStream.foreachBatch(boom)
                .queryName("bad_job")
                .option("checkpointLocation", str(tmp_path / "ck_bad"))
                .start()
            )

        orch = MedallionOrchestrator(
            spark,
            [JobSpec("ok_job", start_ok), JobSpec("bad_job", start_bad)],
        )
        orch.start_all()
        try:
            with pytest.raises(Exception, match="orchestrated job crash"):
                orch.await_quiescent(timeout_sec=120)
            # fan-out stop ran: nothing is left active
            assert all(not q.isActive for q in orch.queries.values())
        finally:
            orch.stop_all()

    def test_stop_all_is_idempotent(self, spark, tmp_path):
        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=20).write.parquet(raw_dir)

        def start_job():
            stream = spark.readStream.schema("key binary, value binary, timestamp timestamp").parquet(raw_dir)
            return (
                stream.writeStream.format("noop")
                .queryName("idem_job")
                .option("checkpointLocation", str(tmp_path / "ck"))
                .start()
            )

        with MedallionOrchestrator(spark, [JobSpec("idem_job", start_job)]) as orch:
            orch.await_quiescent(timeout_sec=120)
            orch.stop_all()  # explicit stop, then __exit__ stops again
        assert all(not q.isActive for q in orch.queries.values())


class TestConcurrentRestart:
    def test_rerun_on_same_root_is_idempotent(self, spark, tmp_path):
        """Re-running the concurrent pipeline over the same out_root must
        replay nothing: every hop resumes from its checkpoint, finds no
        new files, and the tables are byte-identical to the first run —
        the exactly-once contract (T5) holding across the supervised
        topology, not just single queries."""
        raw_dir = str(tmp_path / "raw")
        # 400 ticks span 20 event-minutes: the 10-minute watermark then
        # finalizes ~half the windows (n=200 would finalize none).
        make_raw_ticks(spark, n=400).write.parquet(raw_dir)
        spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "1s")
        root = str(tmp_path / "out")

        paths = run_medallion_concurrent(
            spark, raw_dir=raw_dir, out_root=root, timeout_sec=180
        )
        first = {layer: read_sorted(spark, p) for layer, p in paths.items()}
        assert len(first["gold"]) > 0

        paths2 = run_medallion_concurrent(
            spark, raw_dir=raw_dir, out_root=root, timeout_sec=180
        )
        second = {layer: read_sorted(spark, p) for layer, p in paths2.items()}
        assert first == second


class TestAuditParity:
    def test_json_logs_reconcile_with_observe_counters(self, spark, tmp_path):
        """X82 closure: the per-query JSON logs and the observe() audit
        metrics are two views of the same execution — every batch's
        observedMetrics must land in the log, and their sum must equal
        both the listener's row counter and the rows actually written."""
        from pyspark.sql import functions as F

        from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.observability import (
            observe_stream,
        )

        raw_dir = str(tmp_path / "raw")
        make_raw_ticks(spark, n=60).write.parquet(raw_dir)
        out = str(tmp_path / "out")
        log_dir = str(tmp_path / "logs")
        spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "1s")

        def start_job():
            stream = spark.readStream.schema(
                "key binary, value binary, timestamp timestamp"
            ).parquet(raw_dir)
            audited = observe_stream(
                stream, "ingest_audit", {"n_rows": F.count(F.lit(1))}
            )
            return (
                audited.writeStream.format("parquet")
                .queryName("audited_job")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .start()
            )

        orch = MedallionOrchestrator(
            spark, [JobSpec("audited_job", start_job)], log_dir=log_dir
        )
        orch.start_all()
        try:
            orch.await_quiescent(timeout_sec=120)
            listener_rows = orch._listener.state["audited_job"]["rows"]
        finally:
            orch.stop_all()

        records = [
            json.loads(line)
            for line in open(os.path.join(log_dir, "audited_job.log"))
        ]
        observed_total = sum(
            r["observedMetrics"]["ingest_audit"]["n_rows"]
            for r in records
            if r.get("observedMetrics")
        )
        input_total = sum(
            r["numInputRows"] for r in records if r["event"] == "progress"
        )
        written = spark.read.parquet(out).count()
        assert observed_total == written == input_total == listener_rows == 60
