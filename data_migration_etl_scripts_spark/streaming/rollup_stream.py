"""Streaming aggregate maintenance: keep a mergeable-partials rollup
(`operators/rollup.py`) fresh from a file stream, exactly-once.

Each micro-batch folds its own partials into the persisted rollup —
history facts are never rescanned, and the per-batch work is
O(batch) + O(rollup rows).

Exactly-once without a transaction log: the rollup state is VERSIONED
BY BATCH ID (``rollup/v=<batch_id>``). A batch always folds the latest
version STRICTLY BELOW its own id and (over)writes its own version, so
a crash-replayed batch re-derives the identical output from the
identical input instead of double-counting — the same replay-safe
batch-directory pattern as ``cdc.commit_batch``. Superseded
versions are pruned, keeping the state O(rollup) not O(batches).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from data_migration_etl_scripts_spark.operators import rollup as ru

_V_RE = re.compile(r"^v=(\d+)$")


def _versions(rollup_dir: str) -> list[int]:
    if not os.path.isdir(rollup_dir):
        return []
    out = []
    for d in os.listdir(rollup_dir):
        m = _V_RE.match(d)
        if m and os.path.exists(os.path.join(rollup_dir, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame | None:
    """Latest committed rollup state, or None before the first batch."""
    vs = _versions(rollup_dir)
    if not vs:
        return None
    return spark.read.parquet(os.path.join(rollup_dir, f"v={vs[-1]}"))


def fold_batch_into_rollup(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    rollup_dir: str,
    group_cols: list[str],
    measure_cols: list[str],
    keep_versions: int = 2,
) -> None:
    """Fold one batch into the versioned rollup state (idempotent under
    replay of the same ``batch_id``: it always starts from the newest
    version BELOW ``batch_id``)."""
    prior_vs = [v for v in _versions(rollup_dir) if v < batch_id]
    partials = ru.rollup_partials(batch_df, group_cols, measure_cols)
    if prior_vs:
        prior = spark.read.parquet(os.path.join(rollup_dir, f"v={prior_vs[-1]}"))
        merged = ru.merge_partials(prior, partials, group_cols, measure_cols)
    else:
        merged = partials
    merged.write.mode("overwrite").parquet(os.path.join(rollup_dir, f"v={batch_id}"))
    # prune superseded versions (keep the fold source for one replay window)
    for v in _versions(rollup_dir)[:-keep_versions]:
        shutil.rmtree(os.path.join(rollup_dir, f"v={v}"), ignore_errors=True)


def stream_rollup_maintenance(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    schema: str,
    group_cols: list[str],
    measure_cols: list[str],
    await_termination: bool = True,
):
    """Drain ``source_dir`` (availableNow) folding every file's rows
    into the rollup. ``state_dir`` holds rollup/ and checkpoint/. Call
    repeatedly as files land — the checkpoint skips processed files,
    and the versioned fold makes crash replays no-ops."""
    rollup_dir = os.path.join(state_dir, "rollup")
    checkpoint = os.path.join(state_dir, "checkpoint")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_batch_into_rollup(
            spark, batch_df, batch_id, rollup_dir, group_cols, measure_cols
        )

    query = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(source_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
