"""DAG-level crash-replay chaos: kill a pipeline between its sink
write and its watermark advance, restart the whole DAG, and require
every sink to match the uninterrupted run — provable because
``cdc.commit_batch`` names each batch's sink directories by the
pipeline and its start watermark and records the batch's end in them,
so the restart rolls the committed batch forward on every node instead
of recomputing it (categories, which anti-joins against its own sink,
would otherwise drop its whole batch)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F  # noqa: F401 (fixture parity imports)

from data_migration_etl_scripts_spark import cdc
from data_migration_etl_scripts_spark.catalog import Catalog
from data_migration_etl_scripts_spark.pipelines import (
    categories_pipeline,
    subusers_pipeline,
)
from data_migration_etl_scripts_spark.pipelines.registry import (
    build_dimension,
    build_entity,
    build_sync,
)
from data_migration_etl_scripts_spark.plans.runner import DagRunner
from tests.v1fixtures import (
    build_v1_fixtures,
    build_v1_fixtures_extra,
    build_v1_fixtures_registry,
)

TS = dt.datetime(2026, 1, 1, 12, 0, 0)
SINKS = [
    "MakesV2", "AccountsV2Out", "SubUsersV2", "UnitsV2Out", "SyncUnits",
    "CategoriesV2", "SyncCategories",
]
VICTIM_SINK = {
    "accounts": "AccountsV2Out", "units": "UnitsV2Out", "categories": "CategoriesV2"
}


def _mini_dag(cat: Catalog) -> DagRunner:
    """A 6-node slice of the reference DAG: two independent roots, an
    entity, a dependent, a crosswalk, and a dual-output node that
    anti-joins against its own sink — enough shape for a crash to block
    a subtree."""
    r = DagRunner(cat)
    r.add(build_dimension(cat, "makes"))
    r.add(build_dimension(cat, "units"))
    r.add(build_sync(cat, "sync_units"))
    r.add(build_entity(cat, "accounts"))
    r.add(subusers_pipeline(cat), depends_on=["accounts"])
    r.add(categories_pipeline(cat))
    return r


def _fixtures(spark, path) -> Catalog:
    cat = Catalog(spark, base_dir=str(path), scratch_dir=str(path))
    build_v1_fixtures(cat)
    build_v1_fixtures_extra(cat)
    build_v1_fixtures_registry(cat)
    return cat


def _sink_rows(cat: Catalog) -> dict[str, list]:
    return {s: sorted(tuple(r) for r in cat.read(s).collect()) for s in SINKS}


def test_truncated_staged_part_aborts_before_promotion(spark, tmp_path, monkeypatch):
    """Second chaos axis: a staged sink part is TRUNCATED (torn write)
    before the rename promotion. The batch must abort with the sink
    absent and the watermark unadvanced, and the next run must replay
    the batch clean — identical to an uninterrupted twin."""
    import glob
    import os

    # ---- uninterrupted twin
    clean = _fixtures(spark, tmp_path / "clean")
    from data_migration_etl_scripts_spark.pipelines.registry import build_dimension

    run_ok = cdc.run_incremental(
        clean, build_dimension(clean, "makes"), batch_size=None, batch_ts=TS,
        observe_gates=["OldMakeID"],
    )
    assert run_ok.rows > 0
    want = sorted(tuple(r) for r in clean.read("MakesV2").collect())

    # ---- chaos run: corrupt one staged part right before validation
    cat = _fixtures(spark, tmp_path / "chaos")
    orig_validate = cdc._validate_staged
    armed = {"on": True}

    def corrupting_validate(staging):
        if armed["on"]:
            armed["on"] = False
            victim_part = sorted(glob.glob(os.path.join(staging, "part-*")))[0]
            with open(victim_part, "r+b") as fh:
                fh.truncate(os.path.getsize(victim_part) // 2)
        return orig_validate(staging)

    monkeypatch.setattr(cdc, "_validate_staged", corrupting_validate)
    pipe = build_dimension(cat, "makes")
    with pytest.raises(IOError, match="corrupt"):
        cdc.run_incremental(
            cat, pipe, batch_size=None, batch_ts=TS, observe_gates=["OldMakeID"]
        )
    assert not cat.exists("MakesV2")  # sink untouched
    store = cdc.WatermarkStore(spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    assert store.get(pipe.name) is None  # watermark not advanced

    # ---- restart: replays the batch from source, byte-identical
    monkeypatch.setattr(cdc, "_validate_staged", orig_validate)
    r2 = cdc.run_incremental(
        cat, build_dimension(cat, "makes"), batch_size=None, batch_ts=TS,
        observe_gates=["OldMakeID"],
    )
    assert r2.rows == run_ok.rows
    assert sorted(tuple(r) for r in cat.read("MakesV2").collect()) == want


@pytest.mark.parametrize("victim", ["accounts", "units", "categories"])
def test_dag_crash_between_write_and_watermark_replays_identically(
    spark, tmp_path, monkeypatch, victim
):
    # ---- uninterrupted twin run
    clean = _fixtures(spark, tmp_path / "clean")
    report = _mini_dag(clean).run(batch_ts=TS)
    assert report.ok
    want = _sink_rows(clean)

    # ---- chaos run: crash AFTER the victim's sink write, BEFORE its
    # watermark advances (the worst at-least-once window)
    cat = _fixtures(spark, tmp_path / "chaos")
    orig = cdc.WatermarkStore.advance
    armed = {"on": True}

    def crashing_advance(self, name, mx):
        if armed["on"] and name == victim:
            armed["on"] = False
            raise RuntimeError("injected crash: sink written, watermark not")
        return orig(self, name, mx)

    monkeypatch.setattr(cdc.WatermarkStore, "advance", crashing_advance)
    r1 = _mini_dag(cat).run(batch_ts=TS)
    assert [f.name for f in r1.failures] == [victim]
    # the victim's sink files are ALREADY on disk (the crash window)
    assert cat.exists(VICTIM_SINK[victim])
    if victim == "accounts":
        assert "subusers" in r1.skipped  # downstream blocked

    # ---- restart: watermark still behind, the victim rolls its
    # committed batch forward; everything downstream runs
    monkeypatch.setattr(cdc.WatermarkStore, "advance", orig)
    r2 = _mini_dag(cat).run(batch_ts=TS)
    assert r2.ok
    assert _sink_rows(cat) == want  # byte-equal rows, zero duplicates

    # ---- and a THIRD run is a pure no-op (watermarks at max)
    r3 = _mini_dag(cat).run(batch_ts=TS)
    assert r3.ok and all(b.rows == 0 for b in r3.results.values())
    assert _sink_rows(cat) == want
