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
- extraction = ``where(pk > wm)``, then one bookkeeping query per
  batch that returns the batch's row count and end watermark: the
  sorted head of N + 1 rows, or a plain aggregate for a full drain; a
  batch cut inside the source adds one unsorted aggregate that aligns
  its end with ties (:func:`_next_batch`). The transform reads the
  source again, bounded by ``pk <= end``; nothing is cached. Catalyst
  pushes both range predicates into the scan (parquet row-group
  pruning / JDBC WHERE);
- failure model = one commit per batch (:func:`commit_batch`): staged
  write, gate check, part validation, then one rename per sink into
  ``batch-<pipeline>-<key>``, the main sink last with a commit record;
  the watermark advances after. A batch committed before a crash is
  rolled forward from its record on restart (:func:`committed_batch`),
  never recomputed, so each batch lands exactly once, even when its
  transform anti-joins against its own sink (SURVEY.md §7.4 risk 4).
  ``run_scoped`` keys every call afresh, so its re-runs append (pair
  them with ``anti_join_existing``, as the reference's re-runs do);
- ``batch_ts`` is injectable for deterministic tests (the reference
  stamps ``datetime.now()`` — §7.4 risk 1).

Scale note: the micro-batch loop is a *driver* loop; each iteration
runs the batch's distributed jobs, and the watermark read and advance
add none. Batch size plays the role of the reference's TOP N
(100..15000 rows there; set orders of magnitude higher on a cluster).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import tempfile
import uuid
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


def _validate_staged(staging: str) -> None:
    """Torn-write guard for a staged directory: a parquet file begins
    and ends with the 4-byte magic ``PAR1``, so a truncated or
    corrupted part (crash mid-flush, full disk) is detectable with one
    8-byte read per file. A corrupt part aborts the batch before
    anything is renamed into a sink, and the watermark stays put, so
    the next run replays the batch from the source (chaos-tested in
    tests/test_dag_chaos.py). O(#files) driver-side reads; a
    distributed commit protocol does strictly more."""
    for f in sorted(glob.glob(os.path.join(staging, "part-*"))):
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


#: commit record inside the main sink's batch directory; Spark skips
#: ``_``-prefixed files when it lists a table
_COMMIT_RECORD = "_batch.json"


def _batch_dir(catalog, table: str, name: str, key: int | str) -> str:
    return os.path.join(catalog.scratch_dir, table, f"batch-{name}-{key}")


def committed_batch(
    catalog, name: str, tables: Sequence[str], key: int | str
) -> dict | None:
    """The commit record of batch ``key`` of pipeline ``name`` if that
    batch committed, else None.

    ``tables`` lists the main sink first, then the extra sinks. With no
    record, whatever a commit cut between its renames left in an extra
    sink is removed here (and the sink directory with it, if that empties
    it), so the recomputed batch sees the sinks as they were before it.
    """
    main = _batch_dir(catalog, tables[0], name, key)
    try:
        with open(os.path.join(main, _COMMIT_RECORD)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        pass
    for table in tables:
        target = _batch_dir(catalog, table, name, key)
        shutil.rmtree(target, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(target))  # only if now empty
    return None


def commit_batch(
    catalog,
    name: str,
    sink_table: str,
    extra_sinks: Sequence[tuple[str, Callable[[DataFrame], DataFrame]]],
    df: DataFrame,
    key: int | str,
    gates: Sequence[str] = (),
    record: dict | None = None,
) -> None:
    """Land one load-ready batch of pipeline ``name`` in ``sink_table``
    and every extra sink, exactly once per ``key``.

    ``df`` is written once to ``_staging/<name>/<sink_table>`` (the
    ``gates`` null counts ride that write), the gates are checked and
    the parts validated. Each extra sink is built from the staged files,
    read with ``df``'s schema (no inference job), and staged the same
    way. Each staged directory is then renamed to
    ``<sink>/batch-<name>-<key>``, the main sink last, carrying
    ``record``: the batch counts as committed (:func:`committed_batch`)
    only once every sink holds it. A failure before the renames leaves
    every sink untouched, and a failed rename leaves no empty sink
    directory that the commit made for it; an existing batch directory
    is never replaced.
    """
    staging = os.path.join("_staging", name)
    created = []  # sink directories this commit made
    try:
        if gates:
            df, gate = observed_gate(df, *gates, context=name)
        main = catalog.write(df, os.path.join(staging, sink_table))
        if gates:
            gate.check()  # metrics came free with the staged write
        _validate_staged(main)
        batch = catalog.spark.read.schema(df.schema).parquet(main)
        staged = {}
        for table, project in extra_sinks:
            staged[table] = catalog.write(project(batch), os.path.join(staging, table))
            _validate_staged(staged[table])
        with open(os.path.join(main, _COMMIT_RECORD), "w") as fh:
            json.dump(record or {}, fh)
        staged[sink_table] = main  # renamed last: its record marks the commit
        for table, path in staged.items():
            target = _batch_dir(catalog, table, name, key)
            sink = os.path.dirname(target)
            if not os.path.isdir(sink):
                os.makedirs(sink)
                created.append(sink)
            os.rename(path, target)
    finally:
        shutil.rmtree(os.path.join(catalog.scratch_dir, staging), ignore_errors=True)
        for sink in created:  # a cut commit leaves no empty sink behind
            with contextlib.suppress(OSError):
                os.rmdir(sink)  # only if the rename into it never happened


def _next_batch(
    remaining: DataFrame, wm_col: str, batch_size: int | None, name: str
) -> tuple[int, int] | None:
    """``(rows, end watermark)`` of the next batch of ``remaining``, or
    None when it is empty: one Spark query, two for a full batch.

    With ``batch_size=None`` the batch is everything left, ending at its
    maximum. A numeric ``batch_size`` gives a WATERMARK-ALIGNED batch:
    the first ``batch_size`` rows in watermark order plus every row tied
    with the last of them. With a unique watermark column this is
    exactly the limit; with a NON-unique one (roles' GroupID, any fact
    keyed by a parent id) a plain limit could cut mid-group, and the
    rows tied with the boundary beyond the limit would be skipped
    FOREVER once the watermark advanced past their value.
    """
    wm = F.col(wm_col)
    stats = (
        F.count(F.lit(1)).alias("n"),
        F.max(wm).alias("mx"),
        F.count_if(wm.isNull()).alias("n_null"),
    )
    if batch_size is None:
        n, end, n_null = remaining.agg(*stats).collect()[0]
    else:
        if batch_size < 1:
            raise ValueError(f"{name}: batch_size must be >= 1 or None, got {batch_size}")
        # one row past the batch tells whether anything is left beyond it
        n, end, n_null = (
            remaining.orderBy(wm).limit(batch_size + 1).agg(*stats).collect()[0]
        )
    if n == 0:
        return None
    if n_null and batch_size is not None:
        # NULLs sort FIRST, so any null-watermark row lands in the head.
        # They must fail loudly: the `<=` batch bound is null-safe-false
        # (silent drop), and once the watermark advances, `> wm`
        # excludes them FOREVER.
        raise ValueError(
            f"{name}: watermark column {wm_col!r} has "
            f"{n_null} NULL row(s) — watermark-aligned "
            "batching requires a non-null watermark; clean the "
            "source or run with batch_size=None"
        )
    if end is None:
        raise ValueError(
            f"{name}: watermark column {wm_col!r} is NULL in all {n} remaining "
            "row(s) — there is no end watermark to advance to"
        )
    if batch_size is not None and n > batch_size:
        # Full batch. ``cut`` (the head's max) is the (batch_size+1)-th
        # value. If fewer than batch_size rows lie below it, the
        # batch_size-th value ties with it: the batch is every row <= cut.
        # Otherwise it ends at the largest value below the cut.
        cut = end
        below = wm < F.lit(cut)
        n_lt, mx_lt, n_le = (
            remaining.where(wm <= F.lit(cut))
            .agg(F.count_if(below), F.max(F.when(below, wm)), F.count(F.lit(1)))
            .collect()[0]
        )
        n, end = (n_lt, mx_lt) if n_lt == batch_size else (n_le, cut)
    return n, int(end)


def run_incremental(
    catalog,
    pipeline: IncrementalPipeline,
    batch_size: int | None = 1000,
    batch_ts: datetime | None = None,
    max_batches: int | None = None,
    observe_gates: Sequence[str] = (),
) -> BatchResult:
    """Drive the micro-batch loop until the source is exhausted.

    ``batch_size=None`` drains all rows past the watermark in ONE batch
    with no sort — use this for full loads. A numeric ``batch_size``
    compiles to TakeOrderedAndProject, which allocates a top-N heap of
    that capacity per partition: keep it in the 1e3..1e6 range (the
    reference uses 100..15000), never "a huge number meaning all".

    Query budget per batch, before the transform: one Spark query finds
    the batch's rows and end watermark (a count/max aggregate with
    ``batch_size=None``, else the sorted head of ``batch_size + 1``
    rows); only a full numeric batch adds a second, unsorted aggregate
    over ``wm <= cut`` that places its end at a tie boundary. The
    source and sink reads add no schema-inference job (``Catalog.read``
    takes a Spark-written table's schema from its footer). The
    transform reads the source bounded by ``wm <= end``, so rows that
    arrive past the end wait for the next batch; null-watermark rows
    ride the first ``batch_size=None`` batch and are refused by a
    numeric one.

    ``observe_gates``: RI-gate columns checked via ``df.observe``
    metrics that ride the staged write of :func:`commit_batch` — one
    scan per batch instead of gate-scan + write-scan. A tripped gate
    leaves every sink untouched and the watermark unadvanced, the same
    abort contract as the action-based ``require_no_nulls`` at half the
    I/O. This is the shape to use when a batch is too big to scan twice.

    Each batch commits to ``batch-<name>-<start watermark>`` directories
    (``none`` for a pipeline's first batch). A batch committed before a
    crash that kept its watermark from advancing is rolled forward, not
    recomputed: the watermark advances to the batch's recorded end, and
    its rows count in the result as if it had just been loaded.
    """
    store = WatermarkStore(catalog.spark, os.path.join(catalog.scratch_dir, "_etl_cdc"))
    ts = batch_ts or datetime.now(timezone.utc)
    wm_col = pipeline.watermark_col
    tables = [pipeline.sink_table, *(t for t, _ in pipeline.extra_sinks)]
    total_rows, batches = 0, 0
    # read once: this loop is the only writer of the pipeline's watermark
    wm = start_wm = store.get(pipeline.name)

    while max_batches is None or batches < max_batches:
        key = "none" if wm is None else wm
        done = committed_batch(catalog, pipeline.name, tables, key)
        if done is not None:
            wm = done["end"]
            store.advance(pipeline.name, wm)
            total_rows += done["rows"]
            batches += 1
            continue
        source = pipeline.source()
        remaining = source if wm is None else source.where(F.col(wm_col) > F.lit(wm))
        bounds = _next_batch(remaining, wm_col, batch_size, pipeline.name)
        if bounds is None:
            break
        rows, end = bounds
        # bounded by the counted end: rows arriving past it wait for the
        # next batch. Null-watermark rows can only be left in a first
        # batch_size=None batch, and ride it.
        batch = remaining.where((F.col(wm_col) <= F.lit(end)) | F.col(wm_col).isNull())
        loaded = pipeline.transform(batch, ts)  # action-gates raise here, pre-write
        if pipeline.expectations is not None:
            from data_migration_etl_scripts_spark.operators.expectations import enforce

            enforce(pipeline.expectations(loaded))  # aborts pre-write
        commit_batch(catalog, pipeline.name, pipeline.sink_table, pipeline.extra_sinks,
                     loaded, key, observe_gates, {"end": end, "rows": rows})
        wm = end
        store.advance(pipeline.name, wm)
        total_rows += rows
        batches += 1

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
    incremental state. Each call commits under a fresh key, so a re-run
    appends: idempotency is the transform's job — pair with
    ``anti_join_existing`` exactly as the reference's re-runs do.
    Returns the number of rows written.
    """
    ts = batch_ts or datetime.now(timezone.utc)
    batch = pipeline.source().where(predicate)
    loaded = pipeline.transform(batch, ts)
    n = loaded.count()
    if n:
        commit_batch(catalog, pipeline.name, pipeline.sink_table,
                     pipeline.extra_sinks, loaded, f"scoped-{uuid.uuid4().hex}")
    return n
