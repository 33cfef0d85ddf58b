"""Structured Streaming layer: sources, sinks, and the medallion jobs.

The reference hard-wires ``readStream``/``writeStream`` into each job
(``/root/reference/src/jobs/ingestion_bronze.py:43-63``,
``process_silver.py:87-124``, ``gold_layer.py:47-92``), which is what makes
it untestable. Here every transform is a pure ``DataFrame -> DataFrame``
function shared with the batch/oracle path, and this package adds only the
stream plumbing around them: bounded sources for tests
(``trigger(availableNow=True)`` drains), checkpointed append sinks, the
watermark policy, and one pipeline runner, `run_medallion_available_now`,
which drains the hops in turn and can log each hop's per-batch progress
records. The pytest streaming suite proves stream==batch
equivalence, watermark late-data semantics, and checkpoint-restart
idempotence (SURVEY.md section 5.2.3).
"""

from .jobs import (
    bronze_ingest,
    dedup_ticks_stream,
    gold_stream,
    run_medallion_available_now,
    silver_stream,
    venue_pair_stream_join,
)
from .sinks import (
    kafka_records,
    start_console_stream,
    start_kafka_stream,
    start_delta_append_stream,
    start_merge_stream,
    start_parquet_stream,
)
from .sources import (
    kafka_raw_stream,
    rate_replay_ticks,
    read_parquet_stream,
)

__all__ = [
    "bronze_ingest",
    "dedup_ticks_stream",
    "gold_stream",
    "kafka_raw_stream",
    "kafka_records",
    "rate_replay_ticks",
    "read_parquet_stream",
    "run_medallion_available_now",
    "silver_stream",
    "start_console_stream",
    "start_kafka_stream",
    "start_delta_append_stream",
    "start_merge_stream",
    "start_parquet_stream",
    "venue_pair_stream_join",
]
