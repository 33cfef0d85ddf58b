"""Concurrent in-process orchestrator (SURVEY.md section 3.1 twin).

The reference's ``src/jobs/orchestration.py:27-59`` supervises the pipeline
as four OS processes: ``subprocess.Popen`` per job, started 2 s apart,
stdout/stderr redirected to ``logs/<name>.{out,err}``, SIGINT fanned out to
every child. Layers communicate only through durable storage.

Spark's idiomatic twin runs the SAME topology as concurrent streaming
queries inside one session: a ``SparkSession`` schedules any number of
micro-batch queries at once, each with its own checkpointed source offsets,
and the hops still communicate only through tables — bronze's parquet sink
directory IS silver's file-source directory, exactly the reference's
Delta-table handoff. One JVM instead of three is strictly cheaper (shared
executor pool, shared scan cache) and loses nothing: per-query isolation in
Spark is checkpoint-level, not process-level.

The reference's observability shape maps 1:1:

- log redirection            -> `PipelineListener` writes every
  started/progress/idle/terminated event as a JSON line to
  ``<log_dir>/<query_name>.log`` (the engine's own progress JSON, richer
  than captured stdout);
- staggered starts           -> ``stagger_sec`` between ``start()`` calls;
- SIGINT fan-out kill        -> `stop_all` (also run on ``__exit__``);
- crashed child detection    -> `check_failures` re-raises the first
  failed query's exception instead of leaving it silently dead (the
  reference's ``Popen`` children can die unnoticed until Ctrl-C).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

__all__ = [
    "JobSpec",
    "MedallionOrchestrator",
    "PipelineListener",
    "run_medallion_concurrent",
]


def _finite(rate: float | None) -> float | None:
    """A progress rate as JSON-safe: NaN (no elapsed time) becomes null."""
    return rate if rate is not None and math.isfinite(rate) else None


class PipelineListener(StreamingQueryListener):
    """Streaming log redirection + liveness state (orchestration.py:39-40).

    Two jobs in one listener:

    - if ``log_dir`` is set, append one JSON line per lifecycle event to
      ``<log_dir>/<name>.log``, keyed by query name;
    - always maintain `state`: per query name, the total rows ingested and
      whether the query's most recent signal was real input or idleness.
      This is what quiescence detection polls — with the default ASAP
      trigger an idle query emits no further progress events (its
      ``lastProgress`` freezes on the final data batch), so the only
      reliable drain signal is the engine's own idle/zero-row events.

    Callbacks run on the engine's listener-bus thread — dict updates and
    file appends only, no Spark calls, so a slow disk can never
    back-pressure the streams.
    """

    def __init__(self, log_dir: str | None = None) -> None:
        self._log_dir = log_dir
        if log_dir is not None:
            os.makedirs(log_dir, exist_ok=True)
        self._names: dict[str, str] = {}  # query id -> log name
        #: query name -> {"rows": int, "idle": bool, "terminated": bool}
        self.state: dict[str, dict] = {}

    def _append(self, name: str, record: dict) -> None:
        if self._log_dir is None:
            return
        path = os.path.join(self._log_dir, f"{name}.log")
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(record) + "\n")

    def _name(self, query_id) -> str:
        return self._names.get(str(query_id), str(query_id))

    def onQueryStarted(self, event) -> None:
        name = event.name or str(event.id)
        self._names[str(event.id)] = name
        self.state[name] = {"rows": 0, "idle": False, "terminated": False}
        self._append(name, {"event": "started", "id": str(event.id), "runId": str(event.runId)})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        name = self._name(p.id)
        st = self.state.setdefault(name, {"rows": 0, "idle": False, "terminated": False})
        st["rows"] += p.numInputRows
        # a zero-row progress is a no-data batch (watermark flush) — counts
        # as idleness for drain detection, same as an explicit idle event.
        st["idle"] = p.numInputRows == 0
        record = {
            "event": "progress",
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "timestamp": p.timestamp,
            # per-batch phases (addBatch, getBatch, queryPlanning,
            # walCommit, commitOffsets, ...), the event-time watermark,
            # state-store size per stateful operator and the rates
            "durationMs": dict(p.durationMs),
            "watermark": (p.eventTime or {}).get("watermark"),
            "stateOperators": [
                {
                    "numRowsTotal": op.numRowsTotal,
                    "memoryUsedBytes": op.memoryUsedBytes,
                    "numRowsDroppedByWatermark": op.numRowsDroppedByWatermark,
                }
                for op in p.stateOperators or []
            ],
            "inputRowsPerSecond": _finite(p.inputRowsPerSecond),
            "processedRowsPerSecond": _finite(p.processedRowsPerSecond),
        }
        # observe()-attached audit metrics ride the same progress event;
        # recording them here is what lets the JSON logs reconcile with
        # the engine-side counters (the two observability surfaces must
        # agree — tests/test_orchestrator.py::TestAuditParity)
        om = p.observedMetrics
        if om:
            record["observedMetrics"] = {
                n: (row.asDict() if hasattr(row, "asDict") else dict(row))
                for n, row in om.items()
            }
        self._append(name, record)

    def onQueryIdle(self, event) -> None:
        name = self._name(event.id)
        st = self.state.setdefault(name, {"rows": 0, "idle": False, "terminated": False})
        st["idle"] = True
        self._append(name, {"event": "idle", "timestamp": event.timestamp})

    def onQueryTerminated(self, event) -> None:
        name = self._name(event.id)
        st = self.state.setdefault(name, {"rows": 0, "idle": False, "terminated": False})
        st["terminated"] = True
        self._append(name, {"event": "terminated", "exception": event.exception})


@dataclass(frozen=True)
class JobSpec:
    """One supervised job: a name plus a zero-argument starter returning a
    live `StreamingQuery` (mirrors the reference's ``PROGRAMS`` table,
    ``orchestration.py:8-13``). ``name`` must equal the query's
    ``queryName`` — it is the key that joins supervision state to the
    listener's per-query event stream."""

    name: str
    start: Callable[[], StreamingQuery]


class MedallionOrchestrator:
    """Supervise N concurrent streaming queries in one session.

    Usage::

        with MedallionOrchestrator(spark, jobs, log_dir=...) as orch:
            orch.await_quiescent(timeout_sec=120)
        # __exit__ stops every query (reference's SIGINT fan-out)
    """

    def __init__(
        self,
        spark: SparkSession,
        jobs: list[JobSpec],
        *,
        log_dir: str | None = None,
        stagger_sec: float = 0.0,
    ) -> None:
        self._spark = spark
        self._jobs = jobs
        self._stagger = stagger_sec
        self._listener: PipelineListener | None = None
        self._log_dir = log_dir
        self.queries: dict[str, StreamingQuery] = {}

    def __enter__(self) -> "MedallionOrchestrator":
        self.start_all()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.stop_all()

    def start_all(self) -> None:
        """Start every job in declaration order, ``stagger_sec`` apart
        (orchestration.py:51's 2-second stagger; 0 is fine here because a
        file-source stream over a not-yet-populated directory simply finds
        no files — there is no topic-does-not-exist race to paper over)."""
        self._listener = PipelineListener(self._log_dir)
        self._spark.streams.addListener(self._listener)
        for i, job in enumerate(self._jobs):
            if i and self._stagger:
                time.sleep(self._stagger)
            self.queries[job.name] = job.start()

    def check_failures(self) -> None:
        """Re-raise the first failed query's exception (with every other
        query stopped first, so a crash can't strand its siblings)."""
        for q in self.queries.values():
            if not q.isActive and q.exception() is not None:
                err = q.exception()
                self.stop_all()
                raise err

    def await_quiescent(
        self, *, idle_rounds: int = 4, poll_sec: float = 0.5, timeout_sec: float = 300.0
    ) -> None:
        """Block until the whole cascade has drained.

        A query is at rest only when ALL of these hold, and the whole
        cascade must stay at rest for ``idle_rounds`` consecutive polls:

        - it has committed at least one batch (``lastProgress``);
        - its most recent listener event is idle or a zero-row progress —
          this is what proves the watermark's no-data FLUSH batch (which
          emits finalized windows with ``numInputRows == 0``) has already
          committed, not merely been scheduled;
        - ``status.isDataAvailable`` is false (covers mid-data-batch: true
          from input discovery until the consuming batch commits);
        - ``status.isTriggerActive`` is false (covers mid-no-data-batch:
          the flush batch has no pending source data, so it is invisible
          to ``isDataAvailable`` — stopping during it truncates the gold
          output, observed as an InterruptedException in the sink).

        ``isTriggerActive`` also flickers on for routine no-data offset
        checks under the ASAP trigger; that only resets the counter and
        costs another poll, never a wrong answer.

        Quiescence must be judged across ALL hops at once and held for
        ``idle_rounds`` consecutive polls — silver being at rest means
        nothing while bronze is mid-commit on files silver hasn't
        discovered, and the downstream trigger needs a beat to notice new
        files. Any hop with an active trigger, pending data, or a growing
        listener row total resets the counter for the whole cascade.

        A query that never commits a single batch (a source directory
        that stays empty forever) never satisfies the at-rest conditions
        and the call times out — deliberately: "drained" is meaningless
        for a pipeline that never started.
        """
        deadline = time.monotonic() + timeout_sec
        idle = 0
        last_total = -1
        while time.monotonic() < deadline:
            self.check_failures()
            assert self._listener is not None
            at_rest = True
            for name, q in self.queries.items():
                st = q.status
                seen = self._listener.state.get(name)
                if (
                    seen is None
                    or not seen["idle"]
                    or q.lastProgress is None
                    or st["isDataAvailable"]
                    or st["isTriggerActive"]
                ):
                    at_rest = False
                    break
            total = sum(s["rows"] for s in self._listener.state.values())
            if at_rest and total == last_total:
                idle += 1
                if idle >= idle_rounds:
                    return
            else:
                idle = 0
            last_total = total
            time.sleep(poll_sec)
        self.stop_all()
        raise TimeoutError(f"pipeline not quiescent within {timeout_sec}s")

    def stop_all(self) -> None:
        """Fan-out stop (orchestration.py:17-25 SIGINT handler twin).

        Cleanup never raises: ``awaitTermination`` on a query that died
        with an error re-raises that error, but surfacing failures is
        `check_failures`'s job — a failed sibling must not abort the
        stopping of the others.
        """
        for q in self.queries.values():
            if q.isActive:
                q.stop()
        for q in self.queries.values():
            try:
                q.awaitTermination(30)
            except Exception:
                pass  # already-failed query; reported via check_failures
        if self._listener is not None:
            # onQueryTerminated is delivered asynchronously on the listener
            # bus — removing the listener right after awaitTermination races
            # the delivery and can drop the terminated event from the JSON
            # logs. Poll briefly until every started query's terminated
            # event has landed (bounded: a dropped event must not hang stop).
            deadline = time.monotonic() + 10.0
            while time.monotonic() < deadline:
                if all(
                    self._listener.state.get(name, {}).get("terminated")
                    for name in self.queries
                ):
                    break
                time.sleep(0.05)
            self._spark.streams.removeListener(self._listener)
            self._listener = None


def run_medallion_concurrent(
    spark: SparkSession,
    *,
    raw_dir: str,
    out_root: str,
    watermark: str = "10 minutes",
    log_dir: str | None = None,
    timeout_sec: float = 300.0,
) -> dict[str, str]:
    """The reference's real topology: bronze, silver, and gold running AT
    THE SAME TIME, cascading through tables, until the bounded input drains.

    Contrast `run_medallion_available_now` (sequential bounded drains —
    simplest for tests): here all three hops start immediately with the
    default ASAP micro-batch trigger, so silver begins parsing bronze's
    first committed files while bronze is still ingesting later ones —
    the reference's steady-state shape. Results are identical: each hop
    sees the same total input, watermarks end at the same horizon, and
    append mode emits the same finalized windows.
    """
    from ..schemas import BRONZE_SCHEMA, KAFKA_SHAPED_SCHEMA, SILVER_SCHEMA
    from .jobs import bronze_ingest, gold_stream, silver_stream
    from .sinks import start_parquet_stream
    from .sources import read_parquet_stream

    paths = {layer: os.path.join(out_root, layer) for layer in ("bronze", "silver", "gold")}
    ckpt = {layer: os.path.join(out_root, "_checkpoints", layer) for layer in paths}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)

    def start_bronze() -> StreamingQuery:
        raw = read_parquet_stream(spark, raw_dir, KAFKA_SHAPED_SCHEMA)
        return start_parquet_stream(
            bronze_ingest(raw),
            path=paths["bronze"],
            checkpoint=ckpt["bronze"],
            available_now=False,
            query_name="bronze_ingest_live",
        )

    def start_silver() -> StreamingQuery:
        bronze = read_parquet_stream(spark, paths["bronze"], BRONZE_SCHEMA)
        return start_parquet_stream(
            silver_stream(bronze),
            path=paths["silver"],
            checkpoint=ckpt["silver"],
            available_now=False,
            query_name="silver_parse_live",
        )

    def start_gold() -> StreamingQuery:
        silver = read_parquet_stream(spark, paths["silver"], SILVER_SCHEMA)
        return start_parquet_stream(
            gold_stream(silver, watermark=watermark),
            path=paths["gold"],
            checkpoint=ckpt["gold"],
            available_now=False,
            query_name="gold_candles_live",
        )

    jobs = [
        JobSpec("bronze_ingest_live", start_bronze),
        JobSpec("silver_parse_live", start_silver),
        JobSpec("gold_candles_live", start_gold),
    ]
    with MedallionOrchestrator(spark, jobs, log_dir=log_dir) as orch:
        orch.await_quiescent(timeout_sec=timeout_sec)
    return paths
