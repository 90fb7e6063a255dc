"""CDC watermark runner: the reference's extract->transform->load loop
semantics (full drain, resume no-op, RI-gate abort before write,
monotone watermark, dual-output sinks)."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import cdc as cdc_mod
from data_migration_etl_scripts_spark.catalog import Catalog
from data_migration_etl_scripts_spark.cdc import (
    IncrementalPipeline,
    WatermarkStore,
    run_incremental,
)
from data_migration_etl_scripts_spark.gates import (
    IncrementalDependencyError,
    require_no_nulls,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, base_dir=SF_DIR, scratch_dir=str(tmp_path))


def orders_pipeline(cat, **kw):
    return IncrementalPipeline(
        name="orders",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_v2",
        **kw,
    )


def test_full_load_then_resume_noop(cat):
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    r1 = run_incremental(cat, orders_pipeline(cat), batch_size=600)
    assert r1.rows == 1500 and r1.batches == 3
    assert r1.start_watermark is None
    assert r1.final_watermark == 1499 == store.get("orders")
    assert cat.read("orders_v2").count() == 1500

    r2 = run_incremental(cat, orders_pipeline(cat), batch_size=600)
    assert r2.rows == 0 and r2.batches == 0
    assert r2.start_watermark == r2.final_watermark == 1499
    assert cat.read("orders_v2").count() == 1500  # no double-insert


def test_batch_size_none_single_drain(cat):
    r = run_incremental(cat, orders_pipeline(cat), batch_size=None)
    assert r.batches == 1 and r.rows == 1500
    # a second pipeline appending into the same sink: its first batch
    # has the same start key but a directory named for its pipeline
    again = dataclasses.replace(orders_pipeline(cat), name="orders_again")
    assert run_incremental(cat, again, batch_size=None).rows == 1500
    assert cat.read("orders_v2").count() == 3000


def test_incremental_picks_up_only_new_rows(cat, spark):
    run_incremental(cat, orders_pipeline(cat), batch_size=None)
    # simulate new source rows arriving beyond the watermark
    newer = cat.read("orders").withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000)
    )
    pipe = IncrementalPipeline(
        name="orders",
        source=lambda: cat.read("orders").unionByName(newer),
        watermark_col="o_orderkey",
        sink_table="orders_v2",
    )
    r = run_incremental(cat, pipe, batch_size=1000)
    assert r.rows == 1500  # only the new keys
    assert r.final_watermark == 11_499


def test_gate_aborts_without_write_or_advance(cat):
    def gated(df, ts):
        out = df.withColumn("new_id", F.lit(None).cast("long"))
        return require_no_nulls(out, "new_id", context="orders->dim")

    pipe = IncrementalPipeline(
        name="orders_gated",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_gated_v2",
        transform=gated,
    )
    with pytest.raises(IncrementalDependencyError):
        run_incremental(cat, pipe, batch_size=500)
    assert not cat.exists("orders_gated_v2")
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get("orders_gated") is None


def test_dual_output_sink(cat):
    pipe = IncrementalPipeline(
        name="orders_dual",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_entity",
        transform=lambda df, ts: df.select("o_orderkey", "o_custkey"),
        extra_sinks=(
            ("orders_sync", lambda df: df.select(F.col("o_orderkey").alias("old_id"))),
        ),
    )
    run_incremental(cat, pipe, batch_size=None)
    assert cat.read("orders_entity").count() == 1500
    assert cat.read("orders_sync").columns == ["old_id"]
    assert cat.read("orders_sync").count() == 1500


def test_watermark_monotonicity_enforced(cat):
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    store.advance("t", 100)
    store.advance("t", 150)
    with pytest.raises(ValueError):
        store.advance("t", 99)
    assert store.get("t") == 150


@pytest.mark.parametrize("fail_at", ["write", "replace"])
def test_watermark_advance_crash_keeps_earlier_state(cat, monkeypatch, fail_at):
    """A crash while an advance writes or swaps in the new table leaves
    the previous table readable: the old overwrite-in-place deleted the
    directory before writing, losing every pipeline's watermark."""
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    store.advance("a", 10)
    store.advance("b", 20)

    def torn_write(table, where, **kw):
        where.write(b"PAR1 torn")
        raise OSError("injected crash mid-write")

    def failed_replace(src, dst):
        raise OSError("injected crash before rename")

    if fail_at == "write":
        monkeypatch.setattr(cdc_mod.pq, "write_table", torn_write)
    else:
        monkeypatch.setattr(cdc_mod.os, "replace", failed_replace)
    with pytest.raises(OSError, match="injected"):
        store.advance("c", 30)
    monkeypatch.undo()

    assert (store.get("a"), store.get("b"), store.get("c")) == (10, 20, None)
    # the temporary file is gone; only the committed part remains
    assert os.listdir(store.path) == [WatermarkStore._PART]


def test_watermark_reads_table_written_by_spark(cat, spark):
    """A table written the way the Spark-based store wrote it (part
    file plus _SUCCESS and .crc siblings) reads back in full; a key in
    two part files keeps its largest value; one advance leaves exactly
    one part file holding every key, still readable by Spark."""
    store = WatermarkStore(spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    spark.createDataFrame([("a", 5), ("b", 7)], WatermarkStore.SCHEMA).coalesce(
        1
    ).write.parquet(store.path)
    assert os.path.exists(os.path.join(store.path, "_SUCCESS"))
    assert (store.get("a"), store.get("b"), store.get("z")) == (5, 7, None)

    spark.createDataFrame([("a", 3), ("c", 9)], WatermarkStore.SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(store.path)
    assert (store.get("a"), store.get("c")) == (5, 9)

    store.advance("b", 8)
    parts = [f for f in os.listdir(store.path) if f.startswith("part-")]
    assert parts == [WatermarkStore._PART]
    assert (store.get("a"), store.get("b"), store.get("c")) == (5, 8, 9)
    back = spark.read.schema(WatermarkStore.SCHEMA).parquet(store.path)
    assert sorted(tuple(r) for r in back.collect()) == [("a", 5), ("b", 8), ("c", 9)]


def test_watermark_store_starts_no_spark_job(cat, spark, jobs_started):
    """get and advance run on the driver: they start no Spark job."""
    store = WatermarkStore(spark, os.path.join(cat.scratch_dir, "_etl_cdc"))

    def store_ops():
        assert store.get("t") is None
        store.advance("t", 1)
        store.advance("t", 2)
        assert store.get("t") == 2

    assert jobs_started(store_ops) == 0


def test_watermark_zero_key_not_skipped(cat, spark):
    """Keys starting at 0 must load (never treat missing watermark as 0)."""
    src = spark.range(0, 5).withColumnRenamed("id", "k")
    pipe = IncrementalPipeline(
        name="zero_keys", source=lambda: src, watermark_col="k", sink_table="zk"
    )
    r = run_incremental(cat, pipe, batch_size=None)
    assert r.rows == 5


def test_observed_gate_staged_write_aborts_clean(cat, spark):
    """observe()-fused gate: one scan per batch, staged files promoted
    only on a clean gate."""
    import os

    def with_null_fk(df, ts):
        return df.withColumn("new_id", F.lit(None).cast("long"))

    pipe = IncrementalPipeline(
        name="orders_obs_bad",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_obs_v2",
        transform=with_null_fk,
    )
    with pytest.raises(IncrementalDependencyError):
        run_incremental(cat, pipe, batch_size=None, observe_gates=["new_id"])
    assert not cat.exists("orders_obs_v2")
    assert not os.path.exists(os.path.join(cat.scratch_dir, "_staging", "orders_obs_bad"))
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get("orders_obs_bad") is None


def test_observed_gate_staged_write_promotes(cat):
    pipe = IncrementalPipeline(
        name="orders_obs_ok",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_obs_v2",
        transform=lambda df, ts: df.select("o_orderkey", "o_custkey"),
        extra_sinks=(
            ("orders_obs_sync", lambda df: df.select(F.col("o_orderkey").alias("old_id"))),
        ),
    )
    r = run_incremental(cat, pipe, batch_size=700, observe_gates=["o_custkey"])
    assert r.rows == 1500 and r.batches == 3
    assert cat.read("orders_obs_v2").count() == 1500
    assert cat.read("orders_obs_sync").count() == 1500


def test_run_scoped_ignores_watermark(cat, spark):
    from data_migration_etl_scripts_spark.cdc import run_scoped

    pipe = orders_pipeline(cat, transform=lambda df, ts: df.select("o_orderkey", "o_custkey"))
    run_incremental(cat, pipe, batch_size=None)
    assert cat.read("orders_v2").count() == 1500

    # scoped repair re-run for one customer: appends again (idempotency
    # is the transform's anti-join job, as in the reference's zTEST)
    n = run_scoped(cat, pipe, F.col("o_custkey") == 7)
    per_cust = cat.read("orders_v2").where(F.col("o_custkey") == 7).count()
    assert n > 0 and per_cust == 2 * n
    # watermark untouched
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get("orders") == 1499


def test_schema_evolution_merge_read(cat, spark):
    """S10 analog: a later batch adds Old*ID; merge-read widens."""
    cat.write(spark.createDataFrame([(1, "a")], "id long, name string"), "evo")
    cat.write(
        spark.createDataFrame([(2, "b", 99)], "id long, name string, OldID long"),
        "evo",
        mode="append",
    )
    merged = cat.read("evo", merge_schema=True)
    assert set(merged.columns) == {"id", "name", "OldID"}
    got = {r.id: r.OldID for r in merged.collect()}
    assert got == {1: None, 2: 99}


def test_idempotent_batches_survive_crash_replay(cat, monkeypatch):
    """A crash between a batch's commit and its watermark advance
    rolls the committed batch forward on restart — no duplicates."""
    pipe = orders_pipeline(cat, transform=lambda df, ts: df.select("o_orderkey", "o_custkey"))

    # crash after the last batch's commit, before its advance: the
    # watermark still holds the PREVIOUS batch boundary (1199) while
    # the last batch's directory (batch-orders-1199) is already on disk
    orig = WatermarkStore.advance

    def crashing_advance(self, name, mx):
        if mx == 1499:
            raise RuntimeError("injected crash: sink written, watermark not")
        return orig(self, name, mx)

    monkeypatch.setattr(WatermarkStore, "advance", crashing_advance)
    with pytest.raises(RuntimeError, match="injected"):
        run_incremental(cat, pipe, batch_size=600)
    monkeypatch.setattr(WatermarkStore, "advance", orig)
    store = WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get("orders") == 1199
    assert cat.read("orders_v2").count() == 1500

    # the restart finds the batch's commit record and advances to its end
    r2 = run_incremental(cat, pipe, batch_size=600)
    assert r2.rows == 300  # the rolled-forward final batch (keys 1200-1499)
    assert store.get("orders") == 1499
    assert cat.read("orders_v2").count() == 1500  # still no duplicates


def _crash_every_advance(self, name, mx):
    raise RuntimeError("injected crash: sink written, watermark not")


def _distinct_count(df, col) -> tuple[int, int]:
    return df.count(), df.select(col).distinct().count()


def test_replay_after_source_grew_loads_each_key_once(cat, monkeypatch):
    """The source grows past the old maximum between a crashed commit
    and the restart. The restart rolls the committed batch forward to
    its recorded end and loads only the new rows after it, instead of
    recomputing a larger batch beside the committed one."""
    grown = {"on": False}

    def source():
        src = cat.read("orders")
        if not grown["on"]:
            return src
        return src.unionByName(src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000))

    pipe = IncrementalPipeline(
        name="orders",
        source=source,
        watermark_col="o_orderkey",
        sink_table="orders_v2",
        transform=lambda df, ts: df.select("o_orderkey", "o_custkey"),
    )
    monkeypatch.setattr(WatermarkStore, "advance", _crash_every_advance)
    with pytest.raises(RuntimeError, match="injected"):
        run_incremental(cat, pipe, batch_size=None)
    monkeypatch.undo()
    assert cat.read("orders_v2").count() == 1500

    grown["on"] = True
    r = run_incremental(cat, pipe, batch_size=None)
    assert (r.rows, r.final_watermark) == (3000, 11_499)
    assert _distinct_count(cat.read("orders_v2"), "o_orderkey") == (3000, 3000)


def test_observed_gate_batch_replays_once_into_every_sink(cat, monkeypatch):
    """observe_gates plus an extra sink: a crash after the commit and a
    restart leave the main sink and the extra sink holding every row
    once (the extra sink is staged and renamed like the main one)."""
    pipe = IncrementalPipeline(
        name="orders_obs_replay",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_obs_v2",
        transform=lambda df, ts: df.select("o_orderkey", "o_custkey"),
        extra_sinks=(
            ("orders_obs_sync", lambda df: df.select(F.col("o_orderkey").alias("old_id"))),
        ),
    )
    monkeypatch.setattr(WatermarkStore, "advance", _crash_every_advance)
    with pytest.raises(RuntimeError, match="injected"):
        run_incremental(cat, pipe, batch_size=None, observe_gates=["o_custkey"])
    monkeypatch.undo()

    r = run_incremental(cat, pipe, batch_size=None, observe_gates=["o_custkey"])
    assert r.rows == 1500 and r.start_watermark is None
    assert _distinct_count(cat.read("orders_obs_v2"), "o_orderkey") == (1500, 1500)
    assert _distinct_count(cat.read("orders_obs_sync"), "old_id") == (1500, 1500)


def test_commit_cut_between_renames_is_recomputed(cat, monkeypatch):
    """A crash after the extra sink's rename and before the main sink's
    leaves no commit record. The restart removes the extra sink's
    orphaned directory, recomputes the batch, and both sinks hold every
    row once."""
    pipe = IncrementalPipeline(
        name="orders_torn",
        source=lambda: cat.read("orders"),
        watermark_col="o_orderkey",
        sink_table="orders_torn_v2",
        transform=lambda df, ts: df.select("o_orderkey", "o_custkey"),
        extra_sinks=(
            ("orders_torn_sync", lambda df: df.select(F.col("o_orderkey").alias("old_id"))),
        ),
    )
    rename = os.rename

    def crash_before_main_rename(src, dst):
        if "orders_torn_v2" in dst:
            raise OSError("injected crash between renames")
        return rename(src, dst)

    monkeypatch.setattr(cdc_mod.os, "rename", crash_before_main_rename)
    with pytest.raises(OSError, match="injected"):
        run_incremental(cat, pipe, batch_size=None)
    monkeypatch.undo()
    assert not cat.exists("orders_torn_v2")
    assert cat.read("orders_torn_sync").count() == 1500  # the orphan
    assert not os.path.exists(os.path.join(cat.scratch_dir, "orders_torn_v2", "batch-orders_torn-none"))

    r = run_incremental(cat, pipe, batch_size=None)
    assert (r.batches, r.rows) == (1, 1500)
    assert _distinct_count(cat.read("orders_torn_v2"), "o_orderkey") == (1500, 1500)
    assert _distinct_count(cat.read("orders_torn_sync"), "old_id") == (1500, 1500)


def test_expectations_gate_aborts_batch_before_write(cat):
    from data_migration_etl_scripts_spark.operators import expectations as ex

    # 'P' statuses exist in the data -> the domain check must trip
    pipe = orders_pipeline(
        cat,
        expectations=lambda df: ex.expectation_report(
            df, row_checks={"status_domain": ex.accepted_values("o_orderstatus", ["O", "F"])}
        ),
    )
    with pytest.raises(ex.ExpectationError, match="status_domain"):
        run_incremental(cat, pipe, batch_size=None)
    # nothing written, watermark never advanced
    assert not os.path.isdir(os.path.join(cat.scratch_dir, "orders_v2"))
    assert WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc")).get("orders") is None


def test_expectations_gate_clean_batch_loads(cat):
    from data_migration_etl_scripts_spark.operators import expectations as ex

    pipe = orders_pipeline(
        cat,
        expectations=lambda df: ex.expectation_report(
            df,
            row_checks={"custkey_not_null": ex.not_null("o_custkey")},
            unique_keys={"pk_unique": ["o_orderkey"]},
        ),
    )
    r = run_incremental(cat, pipe, batch_size=None)
    assert r.rows == 1500
    assert cat.read("orders_v2").count() == 1500


def test_batching_never_cuts_a_non_unique_watermark_group(cat, spark):
    """Watermark-aligned batching: with a NON-unique watermark column
    (e.g. roles' GroupID), a batch boundary landing mid-group must pull
    the whole group in — a plain limit would skip the tied rows forever
    once the watermark advanced past their value."""
    rows = [(g, f"form{j}") for g in range(1, 6) for j in range(4)]  # 5 groups x 4
    cat.write(
        spark.createDataFrame(rows, "GroupID long, FormName string"),
        "GroupedSource",
    )
    pipe = IncrementalPipeline(
        name="grouped",
        source=lambda: cat.read("GroupedSource"),
        watermark_col="GroupID",
        sink_table="GroupedV2",
    )
    # batch_size=3 would cut group 1 (4 rows) mid-group under plain limit
    r = run_incremental(cat, pipe, batch_size=3)
    assert r.rows == 20  # every row of every group landed
    out = cat.read("GroupedV2")
    got = {(x.GroupID, x.FormName) for x in out.collect()}
    assert got == set(rows)
    assert out.count() == 20  # and nothing duplicated


def test_null_watermark_rows_fail_loudly(cat, spark):
    """NULL-watermark rows sort FIRST under orderBy, so the boundary
    filter (`wm <= head_mx`, null-safe-false) would silently drop them
    and the advanced watermark (`wm > stored`) would exclude them
    FOREVER. The runner must refuse the batch instead."""
    rows = [(None, "lost"), (1, "a"), (2, "b")]
    cat.write(
        spark.createDataFrame(rows, "EventID long, Payload string"),
        "NullWmSource",
    )
    pipe = IncrementalPipeline(
        name="nullwm",
        source=lambda: cat.read("NullWmSource"),
        watermark_col="EventID",
        sink_table="NullWmV2",
    )
    with pytest.raises(ValueError, match="NULL"):
        run_incremental(cat, pipe, batch_size=2)
    # nothing written, watermark not advanced
    assert not cat.exists("NullWmV2")
    store = WatermarkStore(spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get("nullwm") is None


def _reference_batches(values, batch_size):
    """Brute force over the watermark values of the source: each batch
    is the first ``batch_size`` values past the watermark plus every
    value tied with the last of them. Returns (rows, end) per batch."""
    out, wm = [], None
    while rest := sorted(v for v in values if wm is None or v > wm):
        wm = rest[min(batch_size, len(rest)) - 1]
        out.append((sum(v <= wm for v in rest), wm))
    return out


def _drain(cat, pipe, batch_size):
    """(rows, watermark after it) of each batch, one call per batch."""
    steps = []
    while (r := run_incremental(cat, pipe, batch_size=batch_size, max_batches=1)).batches:
        steps.append((r.rows, r.final_watermark))
    return steps


def _keyed_source(cat, spark, name, values):
    """A source table of (wm, row_id) rows, written in a scrambled order
    over three files, so the head's top-K merges partial heads."""
    rows = [(v, i) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "wm long, row_id long")
    cat.write(df.orderBy(F.xxhash64("row_id")).repartition(3), name)
    return IncrementalPipeline(
        name=name, source=lambda: cat.read(name), watermark_col="wm",
        sink_table=f"{name}_v2",
    )


UNIQUE = list(range(12))
#: tie groups: one straddling the batch_size+1 limit, one ending at it,
#: one whole group past it
TIED = [1, 1, 2, 2, 2, 2, 3, 4, 4, 5, 6, 7, 7, 7]


@pytest.mark.parametrize(
    "values, batch_size",
    [(UNIQUE, 12), (UNIQUE, 5), (TIED, 3), (TIED, 4)],
    ids=["fits", "no_tie_at_cut", "ties_cross_limit", "ties_then_fits"],
)
def test_batch_boundaries_match_brute_force(cat, spark, values, batch_size):
    """Batches, rows and every intermediate watermark equal the brute
    force, the sink holds every source row once, and no batch is left
    cached."""
    spark.catalog.clearCache()
    pipe = _keyed_source(cat, spark, "bounds", values)
    assert _drain(cat, pipe, batch_size) == _reference_batches(values, batch_size)
    got = sorted(r.row_id for r in cat.read("bounds_v2").select("row_id").collect())
    assert got == list(range(len(values)))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_null_watermark_rows_ride_the_unbounded_batch(cat, spark):
    """batch_size=None loads null-watermark rows with the first batch,
    which ends at the largest non-null value (a numeric batch_size
    refuses them: test_null_watermark_rows_fail_loudly); a source whose
    every watermark is null fails, since there is no end watermark to
    advance to."""
    pipe = _keyed_source(cat, spark, "nulls", [None, 3, None, 1, 2])
    assert _drain(cat, pipe, None) == [(5, 3)]
    assert cat.read("nulls_v2").count() == 5

    only_nulls = _keyed_source(cat, spark, "all_null", [None, None])
    with pytest.raises(ValueError, match="NULL in all 2"):
        run_incremental(cat, only_nulls, batch_size=None)
    assert not cat.exists("all_null_v2")


def test_batch_size_below_one_is_refused(cat):
    with pytest.raises(ValueError, match="batch_size must be >= 1"):
        run_incremental(cat, orders_pipeline(cat), batch_size=0)


#: Spark jobs of (one batch, the empty probe after it) per batch_size:
#: the bookkeeping query (an aggregate is a shuffle-map job and a result
#: job under AQE; the sorted head is one job) plus the batch's write
BATCH_JOBS = {None: (3, 2), 1500: (2, 1)}


@pytest.mark.parametrize("batch_size", [None, 1500])
def test_batch_job_budget(cat, jobs_started, batch_size):
    """One bookkeeping query per batch and nothing else: draining a
    Spark-written source in one batch, and the empty probe after it,
    start the pinned number of Spark jobs (no cache, no schema
    inference)."""
    cat.write(cat.read("orders"), "orders_src")
    pipe = dataclasses.replace(orders_pipeline(cat), source=lambda: cat.read("orders_src"))

    def one_batch():
        return run_incremental(cat, pipe, batch_size=batch_size, max_batches=1)

    assert (jobs_started(one_batch), jobs_started(one_batch)) == BATCH_JOBS[batch_size]
    assert run_incremental(cat, pipe, batch_size=batch_size).final_watermark == 1499
    assert cat.read("orders_v2").count() == 1500
