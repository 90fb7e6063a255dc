"""End-to-end pipeline tests over V1-shaped fixtures (FIXTURES.md):
each reference script shape runs through the CDC runner against the
dirty fixture data and lands the expected V2 rows.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.catalog import Catalog
from data_migration_etl_scripts_spark.cdc import run_incremental
from data_migration_etl_scripts_spark.pipelines import (
    cars_pipeline,
    categories_pipeline,
    dimension_pipeline,
    location_settings_pipeline,
    locations_pipeline,
    orders_pipeline,
    sync_crosswalk_pipeline,
)
from data_migration_etl_scripts_spark.pipelines.facts import line_items_transform
from data_migration_etl_scripts_spark.plans import DagRunner

from tests.v1fixtures import build_v1_fixtures

TS = dt.datetime(2026, 1, 1, 12, 0, 0)


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))
    build_v1_fixtures(c)
    return c


def test_dimension_pipeline_makes(cat):
    pipe = dimension_pipeline(
        cat,
        name="makes",
        source_table="Make",
        watermark_col="MakeID",
        sink_table="MakesV2",
        rename={"MakeID": "OldMakeID"},
        strip_to_null=["Name", "ArabicName"],
        scrub_values={"ImagePath": "-1"},
        fill_ts_cols=["CreatedAt"],
    )
    r = run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    assert r.rows == 3 and r.final_watermark == 3
    got = {row.OldMakeID: row for row in cat.read("MakesV2").collect()}
    assert got[1].Name == "Toyota"
    assert got[1].ImagePath is None  # '-1' sentinel scrubbed...
    assert got[2].ImagePath == "h.png"  # ...but real paths preserved
    assert got[3].Name is None  # whitespace-only -> null
    assert got[2].CreatedAt == TS  # injectable batch timestamp


def test_sync_crosswalk_case_sensitive_names(cat):
    pipe = sync_crosswalk_pipeline(
        cat,
        name="sync_units",
        source_table="Units",
        lookup_table="UnitsV2",
        old_id="UnitID",
        new_id="UnitID",
        watermark_col="UnitID",
        sink_table="SyncUnits",
    )
    run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    got = {r.old_id: r.new_id for r in cat.read("SyncUnits").collect()}
    # 'Litre'->101 (not 104 'litre': case-sensitive, S5), 'Box' unmatched
    assert got == {1: 101, 2: 102}


def test_locations_pipeline_json_collects_and_gates(cat):
    pipe = locations_pipeline(
        cat,
        side_specs={
            "AmenitiesJson": ("LocationAmenitiesJunc", ["AmenitiesID"]),
            "WorkingHours": ("LocationWorkingHours", ["Name", "Time"]),
        },
    )
    r = run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    assert r.rows == 3
    got = {row.LocationID: row for row in cat.read("LocationsV2").collect()}
    # dirty scrubs
    assert got[11].Latitude is None  # |1200| > 999
    assert got[11].LandmarkID is None  # 9 outside {1,2,3}
    assert got[11].CityID == 4101  # SA default city...
    assert got[11].NewCityID == 11  # ...then remapped
    assert got[10].ContactNo == "+966501234567"
    # JSON side-collects: deduped, sorted, absent group -> null
    assert json.loads(got[10].AmenitiesJson) == [
        {"AmenitiesID": 1},
        {"AmenitiesID": 2},
    ]
    assert got[11].WorkingHours is None
    assert json.loads(got[12].WorkingHours) == [{"Name": "Fri", "Time": "closed"}]


def test_location_settings_unpivot(cat):
    pipe = location_settings_pipeline(
        cat, value_vars=["Facebook", "Twitter", "Instagram"]
    )
    run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    rows = cat.read("LocationSettingsV2").collect()
    kv = {(r.LocationID, r.Key): r.Value for r in rows}
    assert len(rows) == 6  # 2 receipts x 3 keys
    assert kv[(10, "Facebook")] == "fb.com/a"
    assert kv[(10, "Instagram")] == ""  # blank -> '' policy
    assert kv[(11, "Twitter")] == ""


def test_cars_pipeline_dates_and_backfill(cat):
    r = run_incremental(cat, cars_pipeline(cat), batch_size=None, batch_ts=TS)
    assert r.rows == 4
    got = {row.CarID: row for row in cat.read("CarsV2").collect()}
    assert got[1].CreatedOn == dt.datetime(2020, 5, 29, 8, 39)
    assert got[1].LastUpdatedDate == dt.datetime(2020, 5, 29, 8, 39)  # NULL -> CreatedOn
    assert got[2].LastUpdatedDate == dt.datetime(2025, 3, 3, 13, 28, 20)
    assert got[3].CreatedOn == dt.datetime(2021, 1, 1, 9, 0)  # earliest junction row
    assert got[4].CreatedOn == dt.datetime(2000, 1, 1)  # unparseable -> fallback


def test_categories_pipeline_dedup_antijoin_dual_output(cat):
    pipe = categories_pipeline(cat)
    run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    v2 = cat.read("CategoriesV2")
    # dedup kept lowest StatusID per (account, name)
    kept = {(r.AccountID, r.Name): r.CategoryID for r in v2.collect()}
    assert kept == {(900, "Oil"): 101, (900, "Tyres"): 102, (901, "Oil"): 103}
    sync = cat.read("SyncCategories")
    assert sync.columns == ["OldCategoryID", "AccountID", "Name"]
    assert sync.count() == 3

    # re-run with new source rows: anti-join skips already-loaded names
    cat.write(
        cat.spark.createDataFrame(
            [(200, 10, "Oil", 1), (201, 10, "Brakes", 1)],
            "CategoryID long, LocationID long, Name string, StatusID int",
        ),
        "Category",
        mode="overwrite",
    )
    from data_migration_etl_scripts_spark.cdc import WatermarkStore
    import os

    WatermarkStore(cat.spark, os.path.join(cat.scratch_dir, "_etl_cdc"))  # noop touch
    run_incremental(cat, categories_pipeline(cat), batch_size=None, batch_ts=TS)
    names_900 = sorted(
        r.Name for r in cat.read("CategoriesV2").where(F.col("AccountID") == 900).collect()
    )
    assert names_900 == ["Brakes", "Oil", "Tyres"]  # 'Oil' not duplicated


def test_categories_crash_replay_keeps_its_own_batch(cat, monkeypatch):
    """categories anti-joins against its own sink. A crash after the
    commit and before the watermark advance must not make the restart
    anti-join the committed batch away: it rolls forward instead, and
    both sinks equal an uninterrupted run."""
    from data_migration_etl_scripts_spark.cdc import WatermarkStore

    orig = WatermarkStore.advance

    def crashing_advance(self, name, mx):
        raise RuntimeError("injected crash: sink written, watermark not")

    monkeypatch.setattr(WatermarkStore, "advance", crashing_advance)
    with pytest.raises(RuntimeError, match="injected"):
        run_incremental(cat, categories_pipeline(cat), batch_size=None, batch_ts=TS)
    monkeypatch.setattr(WatermarkStore, "advance", orig)

    r = run_incremental(cat, categories_pipeline(cat), batch_size=None, batch_ts=TS)
    assert r.batches == 1 and r.final_watermark is not None
    kept = {(r.AccountID, r.Name): r.CategoryID for r in cat.read("CategoriesV2").collect()}
    assert kept == {(900, "Oil"): 101, (900, "Tyres"): 102, (901, "Oil"): 103}
    sync = sorted(tuple(r) for r in cat.read("SyncCategories").collect())
    assert sync == [(101, 900, "Oil"), (102, 900, "Tyres"), (103, 901, "Oil")]


def test_orders_pipeline_preagg_repair_and_gates(cat):
    pipe = orders_pipeline(
        cat,
        lookup_specs={
            "NewLocationID": ("LocationsV2Lookup", "OldLocationID", "LocationID", "LocationID")
        },
    )
    r = run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    assert r.rows == 3
    got = {row.OrderID: row for row in cat.read("OrdersV2").collect()}
    # order 1000: two checkout rows pre-aggregated
    assert float(got[1000].Subtotal) == 150.0
    assert float(got[1000].GrandTotal) == 170.0
    # order 1001: grand total derived = 200 - 10 + 20
    assert float(got[1001].GrandTotal) == 210.0
    # order 1002: subtotal derived = 330 - 30 + 0
    assert float(got[1002].Subtotal) == 300.0
    assert got[1002].CreatedAt == TS  # null CreatedOn -> batch ts
    assert got[1000].NewLocationID == 5010
    assert float(got[1001].AmountDueTotal) == 110.0  # 210 - 100 paid


def test_line_items_transform_money(cat):
    out = line_items_transform(cat.read("OrderDetail")).collect()
    rows = {r.OrderDetailID: r for r in out}
    assert rows[1].UnitPrice == 50.0
    assert rows[2].UnitPrice is None  # qty 0 -> null, no div-by-zero
    assert rows[2].IsFreeItem is True  # 100% discount
    assert rows[3].IsOpenItem is True  # no ItemID
    assert rows[3].GrandTotal == 90.0


def test_dag_runner_order_and_failure_isolation(cat, spark):
    ok_pipe = dimension_pipeline(
        cat, name="makes", source_table="Make", watermark_col="MakeID",
        sink_table="MakesV2", rename={"MakeID": "OldMakeID"},
    )

    def boom(df, ts):
        raise RuntimeError("upstream broken")

    from data_migration_etl_scripts_spark.cdc import IncrementalPipeline

    bad = IncrementalPipeline(
        name="bad", source=lambda: cat.read("Units"), watermark_col="UnitID",
        sink_table="BadV2", transform=boom,
    )
    child = dimension_pipeline(
        cat, name="child_of_bad", source_table="Units", watermark_col="UnitID",
        sink_table="ChildV2",
    )
    indep = dimension_pipeline(
        cat, name="independent", source_table="Units", watermark_col="UnitID",
        sink_table="IndepV2",
    )

    runner = DagRunner(cat)
    runner.add(ok_pipe)
    runner.add(bad, depends_on=["makes"])
    runner.add(child, depends_on=["bad"])
    runner.add(indep, depends_on=["makes"])
    report = runner.run(batch_ts=TS)

    assert report.order.index("makes") < report.order.index("bad")
    assert "makes" in report.results and "independent" in report.results
    assert [f.name for f in report.failures] == ["bad"]
    assert report.skipped == ["child_of_bad"]
    assert not report.ok
    assert not cat.exists("ChildV2")


def test_reference_dag_end_to_end(spark, tmp_path):
    """The whole canonical migration run over the V1-shaped fixtures:
    derived topological order, every sink lands, a re-run is a no-op."""
    from data_migration_etl_scripts_spark.plans.reference_dag import build_reference_dag
    from tests.v1fixtures import build_v1_fixtures_extra, build_v1_fixtures_registry

    c = Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))
    build_v1_fixtures(c)
    build_v1_fixtures_extra(c)
    build_v1_fixtures_registry(c)
    c.write(c.spark.createDataFrame([(1, "Main", "Main Store", None, None)],
            "StoreID long, Name string, Type string, StoreLocationID long,"
            " LastUpdatedDate timestamp"), "Stores")
    # drop the deliberately-dangling item (its abort path has its own test)
    clean_items = c.read("Items").where(F.col("ItemID") != 5).collect()
    c.write(c.spark.createDataFrame(clean_items, c.read("Items").schema), "Items",
            mode="overwrite")

    runner = build_reference_dag(c)
    order = runner.order()
    assert order.index("accounts") < order.index("locations")
    assert order.index("locations") < order.index("categories") < order.index("items")
    assert order.index("cars") < order.index("orders")
    assert order.index("orders") < order.index("order_line_items")
    assert order.index("orders") < order.index("order_payments")
    assert order.index("order_line_items") < order.index("order_packages")
    assert order.index("cars") < order.index("car_locations")

    report = runner.run(batch_ts=TS)
    assert report.ok, (report.failures, report.skipped)
    for sink in ["MakesV2", "WarehousesV2", "LocationsV2", "CategoriesV2",
                 "ItemsV2", "SubUsersV2", "SubscriptionsV2", "CarsV2", "OrdersV2",
                 "AccountsV2Out", "AspNetUsersV2", "CarLocationsV2", "CitiesV2Out",
                 "SyncCitiesOut", "SyncPaymentModes", "SubCategoriesV2",
                 "OrderLineItemsV2", "OrderPaymentsV2", "OrderDetailPackagesV2",
                 "LocationItemsV2", "AccountPaymentModesV2"]:
        assert c.exists(sink), sink
        assert c.read(sink).count() > 0, sink
    # the orders -> order_line_items edge carries the RI gate on OrderID:
    # every landed line item references a landed order
    oli = c.read("OrderLineItemsV2")
    assert oli.where(F.col("OrderID").isNull()).count() == 0

    # resume: watermarks make the whole DAG a no-op
    report2 = build_reference_dag(c).run(batch_ts=TS)
    assert report2.ok
    assert all(r.rows == 0 for r in report2.results.values())
