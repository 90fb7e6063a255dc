"""The benchmark's workloads. Each builds its inputs once per run,
then runs passes; a pass is a list of timed units, and its outputs are
checked after the timed part.

``migrate_bulk``: the CDC migration of two V1-shaped tables, orders
and then lineitem, through ``cdc.run_incremental``. Orders go through
an action RI gate (``fk_remap(gate=...)``) and plain appends; lineitem
remaps its order key through the orders sync crosswalk and is gated by
``observe_gates`` on the staged write. A unit is one micro-batch: the
loop calls ``run_incremental(max_batches=1)`` until it reports an
empty source, so every batch is timed from outside. Its rows are the
source rows committed. The input is generated from the seed.

``query_mix``: inventory queries over generated TPC-H-shaped tables,
each built, then executed into the ``noop`` sink. A unit is one query
(build plus execution); its rows are the rows the query returns. The
input is fixed and takes no seed.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
BATCH_TS = datetime(2026, 1, 1, 12, 0, 0)


@dataclass
class PassResult:
    wall_s: float = 0.0
    unit_s: dict[str, float] = field(default_factory=dict)  # unit -> latency
    rows: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)


def checksum(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-independent sum of row hashes."""
    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


# ===================================================== migrate_bulk
# sf of the generated orders/lineitem: 30K orders, about 120K lines
BULK_SF = 0.02
ORDER_BATCHES, LINE_BATCHES = 1, 1
ORDER_STR = ("o_orderstatus", "o_orderpriority", "o_clerk")
LINE_STR = ("l_returnflag", "l_linestatus", "l_shipmode")
SHIPMODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB"]


def _dirty(col: str, key: str, seed: int) -> F.Column:
    """V1-style dirt chosen per row by the seed: 4% 'NULL', 4% '-1',
    22% padded with spaces and a tab, the rest as generated."""
    u = F.abs(F.xxhash64(F.col(key), F.lit(seed), F.lit(col))) % 1000
    return (
        F.when(u < 40, F.lit("NULL"))
        .when(u < 80, F.lit("-1"))
        .when(u < 300, F.concat(F.lit("  "), F.col(col), F.lit(" \t")))
        .otherwise(F.col(col))
    )


def _clean(df: DataFrame, cols) -> DataFrame:
    from data_migration_etl_scripts_spark.functions.cleaning import (
        clean_string_columns,
        scrub_null_literal,
    )

    df = clean_string_columns(df, strip_to_null=cols, scrub_literals=cols)
    return df.withColumns({c: scrub_null_literal(c, "-1") for c in cols})


def orders_transform(customers):
    from data_migration_etl_scripts_spark.operators.relational import fk_remap

    def transform(df: DataFrame, ts: datetime) -> DataFrame:
        df = fk_remap(_clean(df, ORDER_STR), customers(), on="o_custkey",
                      gate="CustomerID", context="orders")
        return df.withColumns(
            {"OrderID": F.col("o_orderkey") + F.lit(10**9), "MigratedAt": F.lit(ts)}
        )

    return transform


def sync_orders(df: DataFrame) -> DataFrame:
    return df.select(F.col("o_orderkey").alias("OldOrderID"), "OrderID")


def lines_transform(order_crosswalk):
    from data_migration_etl_scripts_spark.operators.relational import fk_remap

    def transform(df: DataFrame, ts: datetime) -> DataFrame:
        lookup = order_crosswalk().withColumnRenamed("OldOrderID", "l_orderkey")
        df = fk_remap(_clean(df, LINE_STR), lookup, on="l_orderkey", context="lineitem")
        return df.withColumns(
            {"LineItemID": F.col("l_lineid") + F.lit(10**10), "MigratedAt": F.lit(ts)}
        )

    return transform


def sync_lines(df: DataFrame) -> DataFrame:
    return df.select(F.col("l_lineid").alias("OldLineID"), "LineItemID")


class MigrateBulk:
    name = "migrate_bulk"

    def prepare(self, spark, work: str, seed: int) -> None:
        from data_migration_etl_scripts_spark.catalog import Catalog
        from tools.gen_sf import gen_tables

        self.spark = spark
        self.input_dir = os.path.join(work, "bulk_input")
        self.work = work
        tables = gen_tables(spark, BULK_SF)
        orders = tables["orders"].withColumn(
            "o_clerk",
            F.format_string("Clerk#%05d", F.abs(F.xxhash64("o_orderkey", F.lit("clerk"))) % 1000),
        )
        lines = tables["lineitem"].select(
            # unique, monotone watermark key: at most 7 lines per order
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("l_lineid"),
            "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
            F.element_at(
                F.array(*[F.lit(m) for m in SHIPMODES]),
                (F.abs(F.xxhash64("l_orderkey", "l_linenumber", F.lit("lsm"))) % 7 + 1).cast("int"),
            ).alias("l_shipmode"),
        )
        cat = Catalog(spark, base_dir=self.input_dir, scratch_dir=self.input_dir)
        for name, df, key, dirty in (
            ("src_orders", orders, "o_orderkey", ORDER_STR),
            ("src_lineitem", lines, "l_lineid", LINE_STR),
        ):
            df = df.withColumns({c: _dirty(c, key, seed) for c in dirty})
            # seed-permuted on-disk order, so extraction really sorts
            cat.write(df.orderBy(F.xxhash64(F.col(key), F.lit(seed))), name)
        n_cust = int(150_000 * BULK_SF)
        cat.write(
            spark.range(n_cust).select(
                F.col("id").alias("o_custkey"), (F.col("id") + 10**6).alias("CustomerID")
            ),
            "CustomersV2Map",
        )
        src_o, src_l = cat.read("src_orders"), cat.read("src_lineitem")
        self.n_orders, self.max_order = src_o.agg(F.count(F.lit(1)), F.max("o_orderkey")).collect()[0]
        self.n_lines, self.max_line = src_l.agg(F.count(F.lit(1)), F.max("l_lineid")).collect()[0]
        # expected outputs: the same transforms over the whole source at once
        exp_orders = orders_transform(lambda: cat.read("CustomersV2Map"))(
            src_o, BATCH_TS).localCheckpoint()
        exp_lines = lines_transform(lambda: sync_orders(exp_orders))(
            src_l, BATCH_TS).localCheckpoint()
        self.expected = {
            "OrdersV2": checksum(exp_orders),
            "SyncOrders": checksum(sync_orders(exp_orders)),
            "LineItemsV2": checksum(exp_lines),
            "SyncLineItems": checksum(sync_lines(exp_lines)),
        }

    def _pipelines(self, cat):
        from data_migration_etl_scripts_spark.cdc import IncrementalPipeline

        orders = IncrementalPipeline(
            name="orders",
            source=lambda: cat.read("src_orders"),
            watermark_col="o_orderkey",
            sink_table="OrdersV2",
            transform=orders_transform(lambda: cat.read("CustomersV2Map")),
            extra_sinks=(("SyncOrders", sync_orders),),
        )
        lines = IncrementalPipeline(
            name="lineitem",
            source=lambda: cat.read("src_lineitem"),
            watermark_col="l_lineid",
            sink_table="LineItemsV2",
            transform=lines_transform(lambda: cat.read("SyncOrders")),
            extra_sinks=(("SyncLineItems", sync_lines),),
        )
        return [
            (orders, math.ceil(self.n_orders / ORDER_BATCHES), ()),
            (lines, math.ceil(self.n_lines / LINE_BATCHES), ("OrderID",)),
        ]

    def run_pass(self, idx: int, unit) -> PassResult:
        from data_migration_etl_scripts_spark import cdc
        from data_migration_etl_scripts_spark.catalog import Catalog

        out_dir = os.path.join(self.work, f"bulk_pass{idx}")
        shutil.rmtree(out_dir, ignore_errors=True)
        cat = Catalog(self.spark, base_dir=self.input_dir, scratch_dir=out_dir)
        res = PassResult()
        final_wm = {}
        t_pass = time.perf_counter()
        for pipeline, batch_size, observe in self._pipelines(cat):
            for i in itertools.count():
                t0 = time.perf_counter()
                try:
                    with unit(f"{pipeline.name}.{i}"):
                        r = cdc.run_incremental(
                            cat, pipeline, batch_size=batch_size, batch_ts=BATCH_TS,
                            max_batches=1, observe_gates=observe,
                        )
                except Exception as exc:  # a gate abort or a crash fails the unit
                    res.attempted += 1
                    res.failures.append(f"{pipeline.name} batch {i}: {exc!r}"[:300])
                    break
                if r.batches == 0:  # the empty probe ends the drain
                    final_wm[pipeline.name] = r.final_watermark
                    break
                res.attempted += 1
                res.unit_s[f"{pipeline.name}.{i}"] = time.perf_counter() - t0
                res.rows += r.rows
        res.wall_s = time.perf_counter() - t_pass
        if not res.failures:
            res.failures += self._check(cat, res.rows, final_wm)
        shutil.rmtree(out_dir, ignore_errors=True)
        return res

    def _check(self, cat, rows: int, final_wm: dict) -> list[str]:
        bad = []
        if rows != self.n_orders + self.n_lines:
            bad.append(f"committed {rows} rows, source has {self.n_orders + self.n_lines}")
        for leg, mx in (("orders", self.max_order), ("lineitem", self.max_line)):
            if final_wm.get(leg) != mx:
                bad.append(f"{leg}: final watermark {final_wm.get(leg)} != source max {mx}")
        for table, want in self.expected.items():
            got = checksum(cat.read(table))
            if got != want:
                bad.append(f"{table}: (rows, checksum) {got} != expected {want}")
        return bad


# ======================================================== query_mix
QUERY_SF = 0.01
#: reference-surface ETL queries, then build-heavy two-path operators
QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "fk_remap_orders_customer",
    "cdc_batch_extract", "string_clean_suite", "collect_json_customer_orders",
    "unpivot_measures", "parse_dates_multiformat",
    "ppjoin_exact_pairs", "entity_pagerank", "quality_classifier_scores",
)
#: the tables those queries read
QUERY_TABLES = ("customer", "orders", "lineitem", "documents")
PINS_PATH = os.path.join(HERE, "query_pins.json")


def generate_query_tables(spark, out: str) -> None:
    from tools.gen_sf import gen_tables

    tables = gen_tables(spark, QUERY_SF)
    for name in QUERY_TABLES:
        tables[name].write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))


class QueryMix:
    name = "query_mix"

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.data_dir = os.path.join(work, "query_input")
        generate_query_tables(spark, self.data_dir)
        with open(PINS_PATH) as fh:
            self.pins = json.load(fh)

    def run_query(self, name: str, unit) -> int:
        from data_migration_etl_scripts_spark import queries

        with unit(f"{name}:build", "queries.build"):
            df = queries.all_queries()[name](self.spark, self.data_dir)
        obs = Observation(f"rows_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with unit(f"{name}:exec", "queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        return int(obs.get["rows"])

    def run_pass(self, idx: int, unit) -> PassResult:
        from data_migration_etl_scripts_spark import stage_cache

        # every pass pays the session-memoized stage builds again
        stage_cache.clear()
        res = PassResult()
        t_pass = time.perf_counter()
        for name in QUERIES:
            t0 = time.perf_counter()
            res.attempted += 1
            try:
                rows = self.run_query(name, unit)
            except Exception as exc:
                res.failures.append(f"{name}: {exc!r}"[:300])
                continue
            res.unit_s[name] = time.perf_counter() - t0
            res.rows += rows
            if rows != self.pins.get(name):
                res.failures.append(f"{name}: {rows} rows, pinned {self.pins.get(name)}")
        res.wall_s = time.perf_counter() - t_pass
        return res


WORKLOADS = {w.name: w for w in (MigrateBulk, QueryMix)}


def no_unit(_label: str, _span: str | None = None):
    """The untraced unit hook: no job group, no span."""
    return contextlib.nullcontext()
