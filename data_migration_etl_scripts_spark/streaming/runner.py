"""Streaming micro-batch runner: the CDC loop as Structured Streaming.

``stream_pipeline`` reads a directory as a file stream (new files =
new batches — the file-arrival analog of `pk > watermark`), applies
the SAME transform callable an IncrementalPipeline uses (gates raise
inside foreachBatch, failing the query before the batch commits), and
commits each batch through ``cdc.commit_batch`` keyed by its batch id.
The streaming checkpoint replaces the EtlCDC watermark table; a batch
replayed after a crash between its commit and the checkpoint commit
finds its ``batch-<name>-<batch_id>`` commit record and is skipped
instead of appended again — exactly-once per batch, strictly stronger
than the reference's at-least-once contract (SURVEY.md §2.1 S11).

``trigger_available_now`` drains everything currently in the source
then stops — the streaming equivalent of the reference's "loop until
extract() returns empty" (``Template_Tables/makes.py:117-127``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_migration_etl_scripts_spark.cdc import commit_batch, committed_batch


def stream_pipeline(
    spark: SparkSession,
    catalog,
    name: str,
    source_dir: str,
    schema: T.StructType | str,
    sink_table: str,
    transform: Callable[[DataFrame, datetime], DataFrame] = lambda df, ts: df,
    batch_ts: datetime | None = None,
    source_format: str = "parquet",
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    expectations: Callable[[DataFrame], DataFrame] | None = None,
    extra_sinks=(),
):
    """Run (or start) the streaming version of a pipeline.

    ``expectations`` mirrors IncrementalPipeline.expectations: the
    transformed batch is checked before the commit; a violation fails the
    query before the batch commits, so a fixed rerun resumes cleanly
    from the checkpoint.

    Returns the StreamingQuery (terminated already when
    ``await_termination`` with availableNow).
    """
    ts = batch_ts or datetime.now(timezone.utc)
    reader = spark.readStream.format(source_format).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_dir)

    checkpoint = os.path.join(catalog.scratch_dir, f"_checkpoints/{name}")

    tables = [sink_table, *(t for t, _ in extra_sinks)]

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        if committed_batch(catalog, name, tables, batch_id) is not None:
            return  # committed before a crash cut the checkpoint commit
        out = transform(batch_df, ts)
        if expectations is not None:
            from data_migration_etl_scripts_spark.operators.expectations import (
                enforce,
            )

            enforce(expectations(out))  # fails the query pre-commit
        commit_batch(catalog, name, sink_table, extra_sinks, out, batch_id)

    query = (
        stream.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_incremental_pipeline(
    spark: SparkSession,
    catalog,
    pipeline,
    source_dir: str,
    schema: T.StructType | str,
    **kwargs,
):
    """Run ANY batch ``IncrementalPipeline`` spec as a file stream.

    The registry configs (DIMENSION_CONFIGS / ENTITY_CONFIGS /
    SYNC_CONFIGS / GATED_ENTITY_CONFIGS) build pipelines whose
    ``transform`` closes over the catalog for its lookups — streaming
    them requires NOTHING extra: the same transform runs inside
    foreachBatch, RI gates raise pre-commit (failing the query so a
    fixed rerun resumes from the checkpoint), expectations gate the
    batch, and extra sinks (dual-output crosswalks) commit with the
    main sink. Batch and streaming are the same pipeline spec with
    a different extract: ``pk > watermark`` becomes file arrival.
    """
    return stream_pipeline(
        spark,
        catalog,
        pipeline.name,
        source_dir,
        schema,
        pipeline.sink_table,
        transform=pipeline.transform,
        expectations=pipeline.expectations,
        extra_sinks=pipeline.extra_sinks,
        **kwargs,
    )
