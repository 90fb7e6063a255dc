"""Watermark-based CDC incremental batch runner.

The reference's execution model (SURVEY.md §3): per table, loop
``extract -> transform -> load`` where extract reads a per-table
watermark from ``app.EtlCDC(TableName, MaxIndex)`` and pulls the next
``TOP N`` rows with ``pk > watermark ORDER BY pk``; load appends the
batch and advances the watermark in one transaction
(``Template_Tables/makes.py:34-127``).

Spark-first re-expression:
- watermark table = a tiny parquet key/value table read and written
  on the driver with pyarrow (no Spark job) and replaced atomically
  with ``os.replace`` on each advance; ``run_incremental`` reads it
  once per call (on a real deployment: Delta + MERGE INTO);
- extraction = ``where(pk > wm).orderBy(pk).limit(N)`` — Catalyst
  pushes the range predicate into the scan (parquet row-group pruning /
  JDBC WHERE);
- failure model = the reference's at-least-once: a batch whose RI gate
  trips raises BEFORE any write; a crash between write and watermark
  advance re-processes the batch on restart (pair with
  ``anti_join_existing`` for the idempotent pipelines, exactly as the
  reference does — SURVEY.md §7.4 risk 4);
- ``batch_ts`` is injectable for deterministic tests (the reference
  stamps ``datetime.now()`` — §7.4 risk 1).

Scale note: the micro-batch loop is a *driver* loop; each iteration
runs the batch's distributed jobs, and the watermark read and advance
add none. Batch size plays the role of the reference's TOP N
(100..15000 rows there; set orders of magnitude higher on a cluster).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from data_migration_etl_scripts_spark.gates import observed_gate


class WatermarkStore:
    """Tiny (table_name -> max_index) state table, kept on the driver.

    The reference reads ``app.EtlCDC`` and upserts it with one T-SQL
    MERGE per batch (``Template_Tables/makes.py:34-47, 101-110``): one
    row, one statement. The table here is a handful of rows, so it is
    read and rewritten with ``pyarrow`` on the driver and starts no
    Spark job. ``advance`` writes the whole table to a hidden temporary
    file in the directory and ``os.replace``-s it over one fixed part
    name, so a crash at any point leaves either the old table or the
    new one, never none. The directory stays a plain parquet table
    with :attr:`SCHEMA` that Spark can read. On a cluster the same
    state is a Delta table advanced with MERGE INTO.

    ``spark`` stays in the signature for existing callers; the store
    never uses it.
    """

    SCHEMA = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("max_index", T.LongType(), False),
        ]
    )
    _ARROW_SCHEMA = to_arrow_schema(SCHEMA)
    _PART = "part-00000-watermarks.parquet"

    def __init__(self, spark: SparkSession, path: str):
        self.path = path

    def _read(self) -> dict[str, int]:
        """Every ``part-*`` file of the directory (none = ``{}``). A key
        present more than once keeps its largest value: watermarks only
        move forward, so the largest is the latest (a table written by
        an older Spark-based store, or a cleanup cut short, can hold
        several part files)."""
        state: dict[str, int] = {}
        for f in glob.glob(os.path.join(self.path, "part-*")):
            t = pq.read_table(f, columns=["table_name", "max_index"])
            for name, mx in zip(
                t.column("table_name").to_pylist(), t.column("max_index").to_pylist()
            ):
                state[name] = max(mx, state.get(name, mx))
        return state

    def get(self, table_name: str) -> int | None:
        """None = never run (do NOT assume 0: source keys may start at 0
        or be negative; the reference's ISNULL(MaxIndex,0) default would
        silently skip a pk=0 row)."""
        return self._read().get(table_name)

    def advance(self, table_name: str, new_max: int) -> None:
        state = self._read()
        current = state.get(table_name)
        if current is not None and new_max < current:
            raise ValueError(
                f"watermark for {table_name} must be monotone: {new_max} < {current}"
            )
        state[table_name] = new_max
        table = pa.table(
            [list(state), list(state.values())], schema=self._ARROW_SCHEMA
        )
        os.makedirs(self.path, exist_ok=True)
        # dot-prefixed: Spark and _read both skip it until it is renamed
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix=".wm-", suffix=".parquet")
        try:
            with os.fdopen(fd, "wb") as fh:
                pq.write_table(table, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(self.path, self._PART))
        except BaseException:
            os.unlink(tmp)
            raise
        # the new part holds every key, so any older part is redundant
        for f in glob.glob(os.path.join(self.path, "part-*")):
            if os.path.basename(f) != self._PART:
                os.remove(f)


@dataclass
class IncrementalPipeline:
    """One table's extract/transform/load spec.

    ``transform(batch_df, batch_ts)`` returns the load-ready DataFrame;
    RI gates inside transform raise IncrementalDependencyError to abort
    the batch before the write (reference contract).
    ``extra_sinks`` enables dual-output loads (entity + sync crosswalk,
    reference ``Main_Modules/ProductManagement/categories.py:111-128``):
    each maps the transformed batch to a second DataFrame.
    """

    name: str
    source: Callable[[], DataFrame]
    watermark_col: str
    sink_table: str
    transform: Callable[[DataFrame, datetime], DataFrame] = lambda df, ts: df
    extra_sinks: Sequence[tuple[str, Callable[[DataFrame], DataFrame]]] = field(
        default_factory=tuple
    )
    #: optional declarative quality gate: maps the load-ready batch to an
    #: expectations report (operators/expectations.expectation_report);
    #: any violation aborts the batch pre-write, like an RI gate. All
    #: declared checks cost ONE extra aggregate scan of the batch total.
    expectations: Callable[[DataFrame], DataFrame] | None = None


@dataclass
class BatchResult:
    batches: int
    rows: int
    final_watermark: int | None
    #: the watermark the run started from (None = never run before)
    start_watermark: int | None = None


def _validate_staged(staging: str) -> list[str]:
    """Torn-write guard for the staged batch: a parquet file begins
    and ends with the 4-byte magic ``PAR1``, so a truncated or
    corrupted part (crash mid-flush, full disk) is detectable with one
    8-byte read per file. Called before ANY downstream write consumes
    the staging directory — a corrupt part aborts the batch with the
    sink untouched and the watermark unadvanced, and the next run
    replays the batch from the source (chaos-tested in
    tests/test_dag_chaos.py). O(#files) driver-side reads; a
    distributed commit protocol does strictly more."""
    parts = sorted(glob.glob(os.path.join(staging, "part-*")))
    for f in parts:
        size = os.path.getsize(f)
        head = tail = b""
        if size >= 12:
            with open(f, "rb") as fh:
                head = fh.read(4)
                fh.seek(-4, os.SEEK_END)
                tail = fh.read(4)
        if head != b"PAR1" or tail != b"PAR1":
            raise IOError(
                f"staged part {os.path.basename(f)!r} is corrupt "
                f"(size={size}, magic {head!r}/{tail!r}) — aborting "
                "promotion; sink untouched, batch will replay"
            )
    return parts


def _promote_staged(staging: str, sink: str) -> None:
    """Move staged part files into the sink directory (same filesystem
    rename — atomic per file; parquet append IS adding files).

    Parts are re-validated at promotion time (see
    :func:`_validate_staged` — the loop calls it BEFORE any dual-sink
    append, so a torn file aborts before anything downstream is
    written; the re-check here keeps the invariant even for direct
    callers)."""
    parts = _validate_staged(staging)
    os.makedirs(sink, exist_ok=True)
    for f in parts:
        shutil.move(f, os.path.join(sink, os.path.basename(f)))
    shutil.rmtree(staging, ignore_errors=True)


def run_incremental(
    catalog,
    pipeline: IncrementalPipeline,
    batch_size: int | None = 1000,
    batch_ts: datetime | None = None,
    max_batches: int | None = None,
    observe_gates: Sequence[str] = (),
    idempotent: bool = False,
) -> BatchResult:
    """Drive the micro-batch loop until the source is exhausted.

    ``batch_size=None`` drains all rows past the watermark in ONE batch
    with no sort — use this for full loads. A numeric ``batch_size``
    compiles to TakeOrderedAndProject, which allocates a top-N heap of
    that capacity per partition: keep it in the 1e3..1e6 range (the
    reference uses 100..15000), never "a huge number meaning all".

    ``observe_gates``: RI-gate columns checked via ``df.observe``
    metrics that ride along with the WRITE action — one scan per batch
    instead of gate-scan + write-scan. The batch lands in a staging
    directory first; only a clean gate promotes the files into the
    sink (rename, no rewrite) and advances the watermark, so a tripped
    gate leaves the sink untouched — same abort contract as the
    action-based ``require_no_nulls``, at half the I/O. This is the
    shape to use when a batch is too big to scan twice.

    ``idempotent``: each batch writes into a DETERMINISTIC
    per-watermark subdirectory of the sink (``batch-<max_index>``)
    with overwrite semantics. A crash between write and watermark
    advance then re-runs the SAME batch into the SAME directory on
    restart — no duplicates, upgrading the reference's at-least-once
    contract to effective exactly-once without a transaction log
    (SURVEY.md §7.4 risk 4). Requires nothing from readers:
    catalog.read lists sink directories recursively.
    """
    store = WatermarkStore(catalog.spark, os.path.join(catalog.scratch_dir, "_etl_cdc"))
    ts = batch_ts or datetime.now(timezone.utc)
    wm_col = pipeline.watermark_col
    total_rows, batches = 0, 0
    # read once: this loop is the only writer of the pipeline's watermark
    wm = start_wm = store.get(pipeline.name)

    while max_batches is None or batches < max_batches:
        source = pipeline.source()
        remaining = source if wm is None else source.where(F.col(wm_col) > F.lit(wm))
        if batch_size is None:
            batch = remaining
        else:
            # WATERMARK-ALIGNED batching: take the first batch_size rows
            # to find the boundary value, then include EVERY row <= it.
            # With a unique watermark column this is exactly the limit;
            # with a NON-unique one (roles' GroupID, any fact keyed by a
            # parent id) a plain limit could cut mid-group — the rows
            # tied with the boundary beyond the limit would be skipped
            # FOREVER once the watermark advances past their value.
            head = (
                remaining.orderBy(F.col(wm_col))
                .limit(batch_size)
                .agg(
                    F.max(wm_col).alias("mx"),
                    F.sum(F.col(wm_col).isNull().cast("long")).alias("n_null"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()[0]
            )
            if head["n"] == 0:
                break
            # NULLs sort FIRST, so any null-watermark row lands in the
            # head batch. They must fail loudly: the `<=` boundary
            # filter below is null-safe-false (silent drop), and once
            # the watermark advances, `> wm` excludes them FOREVER.
            # (The pre-r5 behavior was worse in a different way — an
            # all-null head made head_mx None and the loop broke with
            # non-null rows still pending.)
            if head["n_null"]:
                raise ValueError(
                    f"{pipeline.name}: watermark column {wm_col!r} has "
                    f"{head['n_null']} NULL row(s) — watermark-aligned "
                    "batching requires a non-null watermark; clean the "
                    "source or run with batch_size=None"
                )
            head_mx = head["mx"]
            batch = remaining.where(F.col(wm_col) <= F.lit(head_mx))
        # cache: the batch feeds transform + watermark max + (maybe) dual sinks
        batch = batch.cache()
        try:
            agg = batch.agg(
                F.count(F.lit(1)).alias("n"), F.max(wm_col).alias("mx")
            ).collect()[0]
            if agg["n"] == 0:
                break
            loaded = pipeline.transform(batch, ts)  # action-gates raise here, pre-write
            if pipeline.expectations is not None:
                from data_migration_etl_scripts_spark.operators.expectations import (
                    enforce,
                )

                enforce(pipeline.expectations(loaded))  # aborts pre-write
            if observe_gates:
                observed, gate = observed_gate(
                    loaded, *observe_gates, context=pipeline.name
                )
                staging = os.path.join(
                    catalog.scratch_dir, "_staging", pipeline.name
                )
                shutil.rmtree(staging, ignore_errors=True)
                observed.write.mode("overwrite").parquet(staging)
                try:
                    gate.check()  # metrics came free with the write
                except Exception:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise
                sink_path = os.path.join(catalog.scratch_dir, pipeline.sink_table)
                # torn-write guard BEFORE any dual-sink append: a
                # corrupt staged part must abort while nothing
                # downstream has been written yet
                _validate_staged(staging)
                staged = catalog.spark.read.parquet(staging)
                for sink_name, project in pipeline.extra_sinks:
                    catalog.write(project(staged), sink_name, mode="append")
                _promote_staged(staging, sink_path)
            elif idempotent:
                suffix = os.path.join("", f"batch-{int(agg['mx'])}")
                catalog.write(
                    loaded, os.path.join(pipeline.sink_table, suffix), mode="overwrite"
                )
                for sink_name, project in pipeline.extra_sinks:
                    catalog.write(
                        project(loaded), os.path.join(sink_name, suffix), mode="overwrite"
                    )
            else:
                catalog.write(loaded, pipeline.sink_table, mode="append")
                for sink_name, project in pipeline.extra_sinks:
                    catalog.write(project(loaded), sink_name, mode="append")
            wm = int(agg["mx"])
            store.advance(pipeline.name, wm)
            total_rows += int(agg["n"])
            batches += 1
        finally:
            batch.unpersist()

    return BatchResult(
        batches=batches, rows=total_rows, final_watermark=wm, start_watermark=start_wm
    )


def run_scoped(
    catalog,
    pipeline: IncrementalPipeline,
    predicate,
    batch_ts: datetime | None = None,
) -> int:
    """Manual scoped re-run: apply the pipeline's transform+load to the
    rows matching ``predicate``, IGNORING and NOT ADVANCING the
    watermark.

    This is the engine form of the reference's ``zTEST`` scripts
    (``Main_Modules/zTEST/items.py:40-70``): re-process one account /
    one key range to patch data after a fix, without disturbing the
    incremental state. Idempotency is the transform's job — pair with
    ``anti_join_existing`` exactly as the reference's re-runs do.
    Returns the number of rows written.
    """
    ts = batch_ts or datetime.now(timezone.utc)
    batch = pipeline.source().where(predicate)
    loaded = pipeline.transform(batch, ts)
    n = loaded.count()
    if n:
        catalog.write(loaded, pipeline.sink_table, mode="append")
        for sink_name, project in pipeline.extra_sinks:
            catalog.write(project(loaded), sink_name, mode="append")
    return n
