"""Product-module pipeline shapes: items (the reference's busiest
transform — ``Main_Modules/ProductManagement/items.py:47-176``).

Shape census it exercises: F2 'NULL' scrub, F3 normalized type key,
F7 recode-with-default, F9 price coercion, W1 keep-best dedup,
J5 anti-join idempotency, S8 dual entity+sync output.
"""

from __future__ import annotations

from collections.abc import Mapping
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import functions as ef
from data_migration_etl_scripts_spark.cdc import IncrementalPipeline
from data_migration_etl_scripts_spark.gates import require_no_nulls
from data_migration_etl_scripts_spark.operators import (
    anti_join_existing,
    fk_remap,
    top1_per_group,
)

#: reference seed rows (Setup/setup.sql:114-119): free-text ItemType ->
#: ItemTypeID, unmatched -> 4 ('Other')
DEFAULT_ITEM_TYPES = {"oil": 1, "oilfilter": 2, "tyre": 3}
DEFAULT_ITEM_TYPE_ID = 4


def items_transform(
    batch: DataFrame,
    category_lookup: DataFrame,
    existing: DataFrame | None,
    item_types: Mapping[str, int] = DEFAULT_ITEM_TYPES,
) -> DataFrame:
    out = batch.withColumns(
        {
            "Name": ef.strip_keep_empty(ef.scrub_null_literal("Name")),
            "Price": ef.try_numeric("Price"),
            "Cost": ef.try_numeric("Cost"),
            # F3+F7: free-text type -> normalized key -> id, default 4
            "ItemTypeID": ef.recode(
                ef.normalized_key(F.coalesce(F.col("ItemType"), F.lit(""))),
                item_types,
                default=DEFAULT_ITEM_TYPE_ID,
            ),
        }
    )
    out = fk_remap(
        out,
        category_lookup.dropDuplicates(["SubCatID"]),
        on="SubCatID",
        gate="CategoryID",
        context="items->categories",
    )
    # keep-best per (CategoryID, Name): lowest StatusID then highest
    # Price, id as final tiebreaker (total ordering — reference relies
    # on pandas stable sort, SURVEY.md §7.4)
    out = top1_per_group(
        out,
        keys=["CategoryID", "Name"],
        order=[F.col("StatusID").asc_nulls_last(), F.col("Price").desc_nulls_last()],
        tiebreakers=["ItemID"],
    )
    if existing is not None:
        out = anti_join_existing(out, existing, on=["CategoryID", "Name"])
    return require_no_nulls(out, "CategoryID", context="items->categories")


def items_pipeline(
    catalog, name: str = "items", sink_table: str = "ItemsV2"
) -> IncrementalPipeline:
    def transform(df: DataFrame, ts: datetime) -> DataFrame:
        cats = catalog.read("SubCategory").select("SubCatID", "CategoryID")
        existing = (
            catalog.read(sink_table).select("CategoryID", "Name")
            if catalog.exists(sink_table)
            else None
        )
        return items_transform(df, cats, existing)

    return IncrementalPipeline(
        name=name,
        source=lambda: catalog.read("Items"),
        watermark_col="ItemID",
        sink_table=sink_table,
        transform=transform,
        extra_sinks=(
            (
                "SyncItems",
                lambda df: df.select(
                    F.col("ItemID").alias("OldItemID"), "CategoryID", "Name"
                ),
            ),
        ),
    )


def subcategories_transform(
    batch: DataFrame, sync_categories: DataFrame, categories: DataFrame
) -> DataFrame:
    """Composite-key crosswalk remap (J6), reference
    ``Main_Modules/ProductManagement/subcategories.py:67-95``: the
    (OldCategoryID -> CategoryID) map does not exist directly — it is
    DERIVED by joining SyncCategories(AccountID, Name, OldCategoryID)
    to the freshly-loaded Categories on the composite business key
    (AccountID, Name), then the batch remaps through it. Ungated: the
    reference only reports unmatched rows. An old id that reaches
    several CategoryIDs (the categories pipeline appends crosswalk
    rows) keeps the least, as ``reference_dag._packages_chained``
    does, so the map does not depend on batch size.
    """
    cat_ids = (
        sync_categories.join(categories, ["AccountID", "Name"], "left")
        .groupBy("OldCategoryID")
        .agg(F.min("CategoryID").alias("CategoryID"))
    )
    out = batch.withColumnsRenamed({"CategoryID": "OldCategoryID"})
    return out.join(F.broadcast(cat_ids), "OldCategoryID", "left")


def subcategories_pipeline(
    catalog, name: str = "subcategories", sink_table: str = "SubCategoriesV2"
) -> IncrementalPipeline:
    """Watermarks on CategoryID — a reference quirk (its extract is
    ``WHERE CategoryID > wm``, subcategories.py:54), preserved."""

    def transform(df: DataFrame, ts: datetime) -> DataFrame:
        return subcategories_transform(
            df.select("SubCatID", "CategoryID"),
            catalog.read("SyncCategories").select("AccountID", "Name", "OldCategoryID"),
            catalog.read("CategoriesV2Map").select("CategoryID", "AccountID", "Name"),
        )

    return IncrementalPipeline(
        name=name,
        source=lambda: catalog.read("SubCategory"),
        watermark_col="CategoryID",
        sink_table=sink_table,
        transform=transform,
    )
