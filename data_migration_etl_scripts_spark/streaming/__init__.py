"""Structured Streaming surface.

The reference has NO streaming (SURVEY.md §2.8) — its ``while True`` +
TOP N + watermark loop is micro-batch incremental ingestion. This
module is the Spark-native upgrade path for the same contract:

- :func:`stream_pipeline` — a pipeline's transform applied through
  ``readStream`` + ``foreachBatch``, with exactly-once sink semantics
  from the streaming checkpoint and ``cdc.commit_batch`` keyed by batch
  id (the batch runner commits the same way, keyed by watermark).
- :func:`windowed_event_aggregate` / :func:`stream_sessionize` —
  event-time windows + watermarks for late data, the streaming analog
  of the batch sessionization query.
"""

from data_migration_etl_scripts_spark.streaming.runner import (  # noqa: F401
    stream_incremental_pipeline,
    stream_pipeline,
)
from data_migration_etl_scripts_spark.streaming.windows import (  # noqa: F401
    stream_sessionize,
    windowed_event_aggregate,
)
