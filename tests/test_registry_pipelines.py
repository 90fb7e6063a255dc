"""End-to-end tests for the remaining reference-script configs:
ENTITY_CONFIGS multi-remap entities, pinned SYNC_CONFIGS crosswalks,
and the custom subcategories / cities / order_payments /
order_line_items pipelines — each run through the CDC runner over the
V1-shaped fixtures.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.catalog import Catalog
from data_migration_etl_scripts_spark.cdc import run_incremental
from data_migration_etl_scripts_spark.gates import IncrementalDependencyError
from data_migration_etl_scripts_spark.pipelines import (
    build_entity,
    build_sync,
    categories_pipeline,
    cities_pipeline,
    order_line_items_pipeline,
    order_payments_pipeline,
    subcategories_pipeline,
)

from tests.v1fixtures import (
    build_v1_fixtures,
    build_v1_fixtures_extra,
    build_v1_fixtures_migrated_products,
    build_v1_fixtures_registry,
)

TS = dt.datetime(2026, 1, 1, 12, 0, 0)
T_FIX = dt.datetime(2025, 6, 1, 8, 0, 0)


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))
    build_v1_fixtures(c)
    build_v1_fixtures_extra(c)
    build_v1_fixtures_registry(c)
    return c


def test_accounts_entity(cat):
    r = run_incremental(cat, build_entity(cat, "accounts"), batch_size=None, batch_ts=TS)
    assert r.rows == 2
    got = {row.OldUserID: row for row in cat.read("AccountsV2Out").collect()}
    a = got[1]
    assert a.RepresentativeFirstName == "Sara"
    assert a.CompanyName == "Acme Motors"  # strip_keep, not nulled
    assert a.RepresentativeContactNo == "+966501234567"
    assert a.CompanyEmail == "a@b.c"
    assert a.CRNo == "" and a.CompanyCode == ""
    assert a.VATNo == 300123.0
    assert a.CreatedAt == dt.datetime(2024, 1, 1)
    b = got[2]
    assert b.CompanyName == ""          # null company -> ''
    assert b.VATNo is None              # 'x' coerces to null
    assert b.UpdatedAt == TS and b.CreatedAt == TS


def test_customers_entity_geo_chain(cat):
    r = run_incremental(cat, build_entity(cat, "customers"), batch_size=None, batch_ts=TS)
    assert r.rows == 2
    got = {row.OldID: row for row in cat.read("AspNetUsersV2").collect()}
    a = got[1]
    assert a.FirstName == "Ali Kareem"
    assert a.NormalizedEmail == "ALI@X.COM"
    assert a.ContactNo == "+966501234567"
    assert a.CityID == 4101 and a.CountryID == 966  # location -> city -> country
    assert a.StatusID == 1  # null fill
    assert a.UserType == "Customer" and a.AccessFailedCount == 0
    assert a.CreatedAt == dt.datetime(2024, 5, 1)
    b = got[2]
    assert b.CityID is None and b.CountryID is None  # no location: ungated nulls
    assert b.StatusID == 2
    assert b.CreatedAt == TS  # both timestamps null -> batch ts via UpdatedAt
    assert "OldLocationID" not in cat.read("AspNetUsersV2").columns


def test_car_locations_gated_junction(cat):
    r = run_incremental(
        cat, build_entity(cat, "car_locations"), batch_size=None, batch_ts=TS
    )
    assert r.rows == 3
    got = {row.OldCarLocationID: row for row in cat.read("CarLocationsV2").collect()}
    assert got[1].LocationID == 5010 and got[1].CarID == 903
    assert got[1].StatusID == 1  # null fill AFTER the remaps
    assert got[2].UpdatedAt == TS  # null LastUpdatedDate -> batch ts
    assert got[3].CarID == 901 and got[3].LocationID == 5012
    cols = cat.read("CarLocationsV2").columns
    assert "OldCarID" not in cols and "OldLocationID" not in cols


def test_car_locations_gate_aborts_on_missing_car(cat):
    cat.write(
        cat.spark.createDataFrame([(1, 901)], "OldCarID long, CarID long"),
        "CarsV2Map",
        mode="overwrite",
    )
    with pytest.raises(IncrementalDependencyError):
        run_incremental(
            cat, build_entity(cat, "car_locations"), batch_size=None, batch_ts=TS
        )
    assert not cat.exists("CarLocationsV2")


def test_order_packages_name_scrub_and_remaps(cat):
    r = run_incremental(
        cat, build_entity(cat, "order_packages"), batch_size=None, batch_ts=TS
    )
    assert r.rows == 3
    got = {row.OldOrderPackageDetailID: row
           for row in cat.read("OrderDetailPackagesV2").collect()}
    assert got[1].Name == "Widget" and got[1].OrderDetailID == 9001
    assert got[2].Name == ""  # 'NULL' literal -> ''
    assert got[3].Name == ""  # null -> ''
    assert got[3].ItemID == 804


def test_purchase_bill_details_carry_column(cat):
    r = run_incremental(
        cat, build_entity(cat, "purchase_bill_details"), batch_size=None, batch_ts=TS
    )
    assert r.rows == 2
    got = {row.OldBillDetailID: row
           for row in cat.read("PurchaseBillDetailsV2").collect()}
    a = got[1]
    assert a.PurchaseBillID == 7100 and a.TaxAmount == 0.15  # carried through
    assert a.ItemID == 801
    assert a.CostPerUnit == 5.0 and a.PricePerUnit == 7.5
    b = got[2]
    assert b.StatusID == 1 and b.UpdatedAt == T_FIX and b.CreatedAt == T_FIX
    cols = cat.read("PurchaseBillDetailsV2").columns
    for dropped in ("OldBillID", "OldItemID", "CreatedBy", "Remarks"):
        assert dropped not in cols


def test_stock_transfer_details(cat):
    r = run_incremental(
        cat, build_entity(cat, "stock_transfer_details"), batch_size=None, batch_ts=TS
    )
    assert r.rows == 2
    got = {row.OldStockIssueDetailID: row
           for row in cat.read("StockTransferDetailsV2").collect()}
    a = got[1]
    assert a.TransferredQuantity == 10.0 and a.RequestedQuantity == 12.0
    assert a.ItemID == 801 and a.StockTransferID == 6050
    assert a.StatusID == 1 and a.UpdatedAt == TS
    assert "Notes" not in cat.read("StockTransferDetailsV2").columns


def test_location_items_fanout(cat):
    build_v1_fixtures_migrated_products(cat)
    r = run_incremental(
        cat, build_entity(cat, "location_items"), batch_size=None, batch_ts=TS
    )
    # item1 -> account 900 -> 2 locations; item2 -> 901 -> 1; item3 -> none
    assert r.rows == 3  # source batch rows; fan-out lands 4
    out = cat.read("LocationItemsV2")
    assert out.count() == 4
    fan = {row.LocationID for row in out.where(F.col("ItemID") == 1).collect()}
    assert fan == {5010, 5011}
    orphan = out.where(F.col("ItemID") == 3).collect()
    assert len(orphan) == 1 and orphan[0].LocationID is None
    cols = out.columns
    assert "CategoryID" not in cols and "AccountID" not in cols


def test_location_packages_fanout(cat):
    build_v1_fixtures_migrated_products(cat)
    r = run_incremental(
        cat, build_entity(cat, "location_packages"), batch_size=None, batch_ts=TS
    )
    assert r.rows == 2  # source batch rows; fan-out lands 3
    out = cat.read("LocationPackagesV2")
    assert out.count() == 3
    fan = {row.LocationID for row in out.where(F.col("PackageID") == 1).collect()}
    assert fan == {5010, 5011}


def test_subcategories_composite_crosswalk(cat):
    r = run_incremental(cat, subcategories_pipeline(cat), batch_size=None, batch_ts=TS)
    assert r.rows == 2
    got = {row.SubCatID: row.CategoryID for row in cat.read("SubCategoriesV2").collect()}
    # OldCategoryID 100 -> (900,'Oil') -> 201; 101 -> (901,'Tyres') -> 202
    assert got == {70: 201, 71: 202}


def test_subcategories_crosswalk_independent_of_batch_size(cat):
    """categories APPENDS SyncCategories rows, and its surviving
    (900, 'Oil') row carries old id 101, which the pre-seeded
    (901, 'Tyres', 101) row also carries: 101 reaches both 201 and
    202. The crosswalk resolves that collision by min(CategoryID),
    the rule of ``reference_dag._packages_chained`` and of the pinned
    DAG sink, so small batches give the same map as one batch (an
    arbitrary-pick dedup flipped 101 to 202 at batch_size=2)."""
    run_incremental(cat, categories_pipeline(cat), batch_size=2, batch_ts=TS)
    r = run_incremental(cat, subcategories_pipeline(cat), batch_size=2, batch_ts=TS)
    assert r.rows == 2
    got = {row.SubCatID: row.CategoryID for row in cat.read("SubCategoriesV2").collect()}
    assert got == {70: 201, 71: 201}


def test_cities_pipeline_inner_join_drops_unknown(cat):
    r = run_incremental(cat, cities_pipeline(cat), batch_size=None, batch_ts=TS)
    assert r.rows == 4  # source rows; the 'XX' row is dropped at the join
    got = {row.OldCityID: row for row in cat.read("CitiesV2Out").collect()}
    assert len(got) == 3
    assert set(got) == {1, 2, 4}
    assert got[1].CityName == "Riyadh" and got[1].District == ""
    assert got[1].CountryID == 966  # 'SA' -> 'SAU' -> join
    assert got[2].CountryID == 971
    assert got[1].Timezone == ""
    assert "Code" not in cat.read("CitiesV2Out").columns


def test_sync_cities_spelling_fixes(cat):
    run_incremental(cat, build_sync(cat, "sync_cities"), batch_size=None, batch_ts=TS)
    got = {r.old_id: r.new_id for r in cat.read("SyncCitiesOut").collect()}
    # 'Sharja' fixed to 'Sharjah' -> 13; 'Nowhere' unmatched -> absent
    assert got == {1: 11, 2: 12, 4: 13}


def test_sync_payment_modes_new_side_fixes(cat):
    run_incremental(
        cat, build_sync(cat, "sync_payment_modes"), batch_size=None, batch_ts=TS
    )
    got = {r.old_id: r.new_id for r in cat.read("SyncPaymentModes").collect()}
    # new 'STC Pay' fixed to 'StcPay' matches old row 2; 'Cheque' unmatched
    assert got == {1: 21, 2: 22}


def test_order_payments_in_list_scoped_extract(cat):
    pipe = order_payments_pipeline(cat)
    r = run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    assert r.rows == 4
    assert r.final_watermark == 9102  # watermark over the NEW OrderID
    out = cat.read("OrderPaymentsV2")
    got = {row.OldPaymentID: row for row in out.collect()}
    assert got[1].OrderID == 9100 and got[3].OrderID == 9101
    assert got[4].PaymentModeID == 1  # null PaymentMode fill
    assert got[1].AppSourceID == 70 and got[4].AppSourceID == 80
    assert got[1].CreatedBy == 0
    cols = out.columns
    assert "OldOrderID" not in cols and "OldAppSourceID" not in cols
    # re-run: watermark makes it a no-op
    r2 = run_incremental(cat, pipe, batch_size=None, batch_ts=TS)
    assert r2.rows == 0


def test_order_line_items_pipeline_and_gate(cat):
    r = run_incremental(cat, order_line_items_pipeline(cat), batch_size=None, batch_ts=TS)
    assert r.rows == 3
    got = {row.OrderDetailID: row for row in cat.read("OrderLineItemsV2").collect()}
    assert got[1].OrderID == 9100 and got[3].OrderID == 9101
    assert got[1].UnitPrice == 50.0  # 200 / 4
    assert got[2].IsFreeItem is True
    # gate: remove order 1001's crosswalk row -> batch aborts pre-write
    cat.write(
        cat.spark.createDataFrame([(1000, 9100)], "OldOrderID long, OrderID long"),
        "OrdersV2Map",
        mode="overwrite",
    )
    fresh = Catalog(cat.spark, base_dir=cat.base_dir, scratch_dir=cat.scratch_dir + "_2")
    with pytest.raises(IncrementalDependencyError):
        run_incremental(fresh, order_line_items_pipeline(fresh), batch_size=None,
                        batch_ts=TS)


def test_packages_chained_second_hop_gated(cat):
    """packages.py:84-88 — the SECOND category hop (OldCategoryID ->
    CategoryID via the crosswalk) aborts the batch when any
    OldCategoryID fails to resolve, mirroring the first hop's RI gate;
    and packages.py:66-70 scrubs EVERY string column, not just Name."""
    from data_migration_etl_scripts_spark.plans.reference_dag import (
        _packages_chained,
    )

    # happy path: both crosswalk rows resolve; every string column
    # (incl. Price, a padded string in the fixture below) is scrubbed
    cat.write(
        cat.spark.createDataFrame(
            [(1, 70, " Oil Combo ", " 89.5 ", 1, T_FIX),
             (2, 71, "NULL", "NULL", None, None)],
            "PackageID long, SubCategoryID long, Name string, Price string,"
            " StatusID int, UpdatedAt timestamp",
        ),
        "Packages",
        mode="overwrite",
    )
    r = run_incremental(cat, _packages_chained(cat), batch_size=None, batch_ts=TS)
    assert r.rows == 2
    got = {row.PackageID: row for row in cat.read("PackagesV2").collect()}
    assert got[1].Name == "Oil Combo" and got[1].Price == "89.5"
    assert got[2].Name is None and got[2].Price is None  # 'NULL' scrubbed everywhere
    assert got[1].CategoryID == 201 and got[2].CategoryID == 202

    # unresolved second hop: drop the crosswalk row for OldCategoryID
    # 101 -> package 2's category cannot resolve -> batch aborts
    cat.write(
        cat.spark.createDataFrame(
            [(900, "Oil", 100)],
            "AccountID long, Name string, OldCategoryID long",
        ),
        "SyncCategories",
        mode="overwrite",
    )
    c2 = Catalog(cat.spark, base_dir=cat.base_dir, scratch_dir=cat.scratch_dir + "_2")
    with pytest.raises(IncrementalDependencyError, match="packages->Categories"):
        run_incremental(c2, _packages_chained(c2), batch_size=None, batch_ts=TS)
