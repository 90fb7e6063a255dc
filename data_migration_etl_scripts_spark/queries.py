"""Declared query inventory: one entry per operator from SURVEY.md §2
plus the training-data-pipeline operators.

Each query is a pair:
- a Spark callable ``(spark, sf_dir) -> DataFrame`` built on the
  engine's operator/function library, and
- a DuckDB oracle SQL string over the same parquet tables (views
  ``region nation customer supplier part orders lineitem events
  documents embeddings`` pre-registered by the driver).

Cross-engine determinism rules used throughout (learned the hard way,
see tests/test_selfcheck parity):
- Money/measure AGGREGATES go through DECIMAL casts so sums are exact
  and order-independent, then cast to double for output. Raw double
  sums differ between engines because addition order differs.
- Per-row double arithmetic needs no rounding: identical IEEE ops
  give identical bits in both engines.
- Every window/dedup uses a TOTAL ordering (explicit tiebreakers).
- Cosines are rounded BEFORE ranking so last-ulp differences cannot
  flip an ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import functions as ef
from data_migration_etl_scripts_spark.catalog import _listed, read_parquet
from data_migration_etl_scripts_spark.localdata import local_df
from data_migration_etl_scripts_spark.functions.contact import clean_contact_sql
from data_migration_etl_scripts_spark.functions.numeric import (
    derive_missing_of_three,
    derive_missing_of_three_sql,
)
from data_migration_etl_scripts_spark.operators import (
    anti_join_existing,
    collect_group_json,
    cross_seed,
    fk_remap,
    top1_per_group,
    unpivot_kv,
)
from data_migration_etl_scripts_spark.operators import contamination as ctm
from data_migration_etl_scripts_spark.operators import dedup as dd
from data_migration_etl_scripts_spark.operators import diffing as dfo
from data_migration_etl_scripts_spark.operators import embed as em
from data_migration_etl_scripts_spark.operators import html as hx
from data_migration_etl_scripts_spark.operators import ingest as ig
from data_migration_etl_scripts_spark.operators import profile as pf
from data_migration_etl_scripts_spark.operators import similarity as sim
from data_migration_etl_scripts_spark.operators import temporal as tmp
from data_migration_etl_scripts_spark.operators import text as tx

QuerySpec = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QuerySpec] = {}
_ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized table reader. The read goes through
    ``catalog.read_parquet``, the reader ``Catalog.read`` uses: the
    schema comes from the first file's footer on the driver, so no
    read starts a Spark job. A warm read with ``_normalize_ntz``'s
    schema fetch costs ~12 ms of driver time for a Spark-written
    table and ~20 ms for a single pyarrow-written file, against
    57–78 ms through ``spark.read.parquet`` and its schema-inference
    job (4-vCPU box). The bench's 181 queries call ``_t`` ~350 times,
    so memoizing the ANALYZED DataFrame per (sf_dir, table) still
    keeps that off all but the first call (guide §1/§7.3:
    driver-side planning is real wall time). It reuses the logical
    plan only — every action still scans the parquet files; nothing
    is cached or persisted (bench repeats clear this with the rest of
    stage_cache)."""
    from data_migration_etl_scripts_spark import stage_cache

    return stage_cache.memo(
        spark, ("__table__", sf_dir, name), lambda: _t_build(spark, sf_dir, name)
    )


def _t_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # drops, which Spark only reads as a raw long (nanosAsLong).
        # Integer-divide to micros (exact; double division would lose
        # precision on epoch-nanos) and rebuild the timestamp — matches
        # DuckDB's ns->us truncation.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf may be static in some deployments; session.py sets it too
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def _tspread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scale-adaptive compute-spread table read (guide §2.5, "input
    skew: one huge unsplittable file ... repartition immediately after
    the read").

    The test tables ship as SINGLE-ROW-GROUP parquet files, so a scan
    is ONE task no matter how small ``maxPartitionBytes`` gets — and
    every CPU-heavy expression chain above it (tokenize + md5
    explodes, DECIMAL aggregates over 600k rows) runs serially while
    31 cores idle. Below ``SPARK_GRAFT_SPREAD_MAX_BYTES`` (default
    256 MiB) such a relation is hash-repartitioned on its leading
    key column to the session's default parallelism: deterministic
    (no round-robin sort-before-repartition, retry-safe per guide
    §2.5), high-cardinality keys spread evenly, and the exchange
    itself carries only the small table once.

    The spread is a NO-OP where the scan already fans out: above the
    byte ceiling (at deployment scale the scan yields hundreds of
    splits), and for a table of at least ``defaultParallelism`` data
    files (a Spark-written directory, one scan task per file), counted
    on the driver without a job. An extra exchange there would be pure
    cost — the gate self-disables, it is not a local[32] tune.
    ``SPARK_GRAFT_SPREAD_MIN_BYTES`` (default 256 KiB) keeps
    broadcast-sized lookups (nation, region, supplier) out."""
    from data_migration_etl_scripts_spark import stage_cache

    return stage_cache.memo(
        spark, ("__spread__", sf_dir, name),
        lambda: _tspread_build(spark, sf_dir, name),
    )


def _tspread_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    df = _t(spark, sf_dir, name)
    lo = int(os.environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES", 256 * 1024))
    hi = int(os.environ.get("SPARK_GRAFT_SPREAD_MAX_BYTES", 256 * 1024 * 1024))
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            files = [os.path.join(r, f) for r, _dirs, fs in os.walk(path) for f in fs]
        else:
            files = [path]
        size = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    n_parallel = spark.sparkContext.defaultParallelism
    n_data = sum(_listed(os.path.basename(f)) for f in files)
    if not (lo <= size <= hi) or n_data >= n_parallel:
        return df
    return df.repartition(n_parallel, df.columns[0])


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session tz pinned to UTC,
    so the instant is unchanged). Parquet micros-without-tz reads as NTZ
    under Spark 4's inferTimestampNTZ, but chrono functions like
    unix_micros and every timestamp literal comparison in this module
    expect TIMESTAMP; normalizing once at the scan keeps both data
    vintages (tz-annotated and tz-less) on one code path."""
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def query(name: str, oracle: str | None = None):
    def deco(fn: QuerySpec) -> QuerySpec:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(_ORACLES)


# decimal casts for exact, order-independent aggregation
def _dec(c, p=12, s=4):
    return (F.col(c) if isinstance(c, str) else c).cast(f"decimal({p},{s})")


def _decsum(c) -> F.Column:
    """sum a decimal expr -> double, portably.

    The decimal sum is exact in both engines, but casting a high-scale
    decimal to double differs by 1 ulp between Spark (BigDecimal,
    correctly rounded) and DuckDB (double(hugeint)/10^s, two
    roundings). round(sum, 2) first: money inputs have <= 2 real
    decimals per factor, both engines round decimals HALF_UP away from
    zero, and a scale-2 decimal casts to double exactly-rounded in one
    step on both sides.
    """
    return F.round(F.sum(c), 2).cast("double")


_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


# =====================================================================
# §2.4 aggregations / flagship
# =====================================================================


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4)) * CAST(1 + l_tax AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_charge,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) / count(*) AS avg_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) / count(*) AS avg_price,
           CAST(round(sum(CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (A1/A2/A5, P6). Flagship query."""
    li = _tspread(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(12,4)")
    charge = disc_price * (1 + F.col("l_tax")).cast("decimal(12,4)")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _decsum(_dec("l_quantity")).alias("sum_qty"),
        _decsum(_dec("l_extendedprice")).alias("sum_base_price"),
        _decsum(disc_price).alias("sum_disc_price"),
        _decsum(charge).alias("sum_charge"),
        (_decsum(_dec("l_quantity")) / n).alias("avg_qty"),
        (_decsum(_dec("l_extendedprice")) / n).alias("avg_price"),
        (_decsum(_dec("l_discount")) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "group_sizes_events",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def group_sizes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 value_counts / group sizes."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
    )


@query("watermark_max", oracle="SELECT max(o_orderkey) AS max_index FROM orders")
def watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/A4 scalar watermark lookup."""
    return _t(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("max_index"))


# =====================================================================
# §2.3 joins
# =====================================================================


@query(
    "fk_remap_orders_customer",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def fk_remap_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 workhorse: broadcast left join against a dim lookup (no gate
    here; the gate path is exercised in tests)."""
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    lookup = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = fk_remap(orders, lookup, on="c_custkey")
    return out.select(
        "o_orderkey", F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )


@query(
    "right_join_part_linecount",
    oracle="""
    SELECT p_partkey, count(l_orderkey) AS n_lines
    FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey
    """,
)
def right_join_part_linecount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 right join (sync-table build shape)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "right")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "inner_join_brand_revenue",
    oracle="""
    SELECT p_brand,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def inner_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 inner join + agg. NOT _tspread: the 25-key brand aggregate
    collapses map-side, so the spread exchange of the full fact table
    was pure overhead (A/B +0.45 s above the noise band)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(12,4)")
    return (
        # No broadcast hint: part is fact-sized at scale — let AQE pick
        # (it still broadcasts at small SF via autoBroadcastJoinThreshold).
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(_decsum(disc_price).alias("revenue"))
    )


@query(
    "cross_join_seed",
    oracle="SELECT r_regionkey, r_name, s_suppkey FROM region CROSS JOIN supplier",
)
def cross_join_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 cross-join seeding (accounts x payment modes shape)."""
    region = _t(spark, sf_dir, "region")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey")
    return cross_seed(region.select("r_regionkey", "r_name"), supplier)


@query(
    "anti_join_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 left anti join (skip-already-loaded shape)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join_existing(customer, orders, on="c_custkey").select("c_custkey", "c_name")


@query(
    "semi_join_hot_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
    """,
)
def semi_join_hot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 semi-join (IN-list pushdown replacement)."""
    orders = _t(spark, sf_dir, "orders")
    hot = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(hot, "o_orderkey", "left_semi").select("o_orderkey", "o_totalprice")


@query(
    "preagg_join_order_totals",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           coalesce(t.gross, 0.0) AS gross,
           coalesce(t.net, 0.0) AS net,
           t.last_ship
    FROM orders LEFT JOIN (
        SELECT l_orderkey,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS gross,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS net,
               max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    ) t ON o_orderkey = l_orderkey
    """,
)
def preagg_join_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 pre-aggregation before join (orders+checkout shape, §4)."""
    orders = _tspread(spark, sf_dir, "orders")
    li = _tspread(spark, sf_dir, "lineitem")
    totals = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        _decsum(_dec("l_extendedprice")).alias("gross"),
        _decsum(_dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(12,4)"))
        .alias("net"),
        F.max("l_shipdate").alias("last_ship"),
    )
    return orders.join(totals, "o_orderkey", "left").select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce("gross", F.lit(0.0)).alias("gross"),
        F.coalesce("net", F.lit(0.0)).alias("net"),
        "last_ship",
    )


@query(
    "nation_pair_revenue",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 role-playing dim (nation twice) + S4 multi-join chain.

    _tspread on the fact side (r13): the probe stage runs 5 broadcast
    joins + a DECIMAL multiply per lineitem row — ~1 s of CPU in 3
    tasks on the single-row-group test file. Unlike the 25-key
    brand-revenue shape (spread reverted in r12: its probe is one
    cheap join), the per-row work here clears the one extra exchange
    (measured: exec 1.26 -> ~0.9 s warm; the map-side partial agg
    still collapses to 25 pairs before the final exchange)."""
    li = _tspread(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    disc_price = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(12,4)")
    return (
        # customer/supplier are fact-sized at 100 TB — no forced broadcast
        # (AQE/autoBroadcastJoinThreshold decides). nation (25 rows) keeps
        # the explicit hint.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(cn), "c_nationkey")
        .join(F.broadcast(sn), "s_nationkey")
        .groupBy("cust_nation", "supp_nation")
        .agg(_decsum(disc_price).alias("revenue"))
    )


# =====================================================================
# §2.5 windows / dedup / §2.6 reshape
# =====================================================================


@query(
    "window_top1_part_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        FROM part
    ) WHERE rn = 1
    """,
)
def window_top1_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 top-1-per-group dedup with total ordering."""
    part = _t(spark, sf_dir, "part")
    return top1_per_group(
        part,
        keys=["p_brand"],
        order=[F.col("p_retailprice").desc()],
        tiebreakers=["p_partkey"],
    ).select("p_brand", "p_partkey", "p_retailprice")


@query(
    "dedup_distinct_pairs",
    oracle="SELECT DISTINCT l_orderkey, l_partkey FROM lineitem",
)
def dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 subset dedup (key projection so result is deterministic)."""
    return _tspread(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()


@query(
    "duplicate_detection",
    oracle="""
    SELECT l_orderkey, l_partkey, count(*) AS n_dup
    FROM lineitem GROUP BY l_orderkey, l_partkey HAVING count(*) > 1
    """,
)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 duplicate hunting."""
    return (
        _tspread(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .where(F.col("n_dup") > 1)
    )


@query(
    "first_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, ts AS first_ts FROM (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/W1 earliest-row-per-key (cars CreatedAt backfill shape)."""
    ev = _t(spark, sf_dir, "events")
    return top1_per_group(
        ev, keys=["user_id"], order=[F.col("ts").asc()], tiebreakers=["event_id"]
    ).select("user_id", "event_id", "event_type", F.col("ts").alias("first_ts"))


@query(
    "running_total_supplier",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_gross
    FROM lineitem
    """,
)
def running_total_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame (running sum) — beyond the reference's row_number-
    only windows, standard OLAP surface."""
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.col("l_shipdate").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _tspread(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum(_dec("l_extendedprice")).over(w), 2).cast("double").alias("running_gross"),
    )


@query(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
          FROM lineitem)
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 melt -> EAV rows."""
    li = _t(spark, sf_dir, "lineitem")
    return unpivot_kv(
        li,
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        key_col="measure",
        value_col="value",
    )


@query(
    "collect_json_customer_orders",
    oracle="""
    SELECT o_custkey, to_json(list(o_orderkey ORDER BY o_orderkey)) AS orders_json
    FROM orders GROUP BY o_custkey
    """,
)
def collect_json_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/F15 collect-per-group -> JSON string."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.to_json(F.array_sort(F.collect_list("o_orderkey"))).alias("orders_json")
    )


@query(
    "collect_json_order_structs",
    oracle="""
    SELECT o_custkey,
           to_json(list(struct_pack(o_orderkey := o_orderkey,
                                    o_orderstatus := o_orderstatus,
                                    o_totalprice := o_totalprice)
                        ORDER BY o_orderkey)) AS orders_json
    FROM orders WHERE o_orderkey < 1000 GROUP BY o_custkey
    """,
)
def collect_json_order_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 full shape: array-of-struct JSON (WorkingHours/Amenities
    shape, reference locations.py:123-166). Spark's to_json and
    DuckDB's to_json(struct_pack(...)) are byte-identical on
    int/string/double fields, so this hash-checks fully."""
    orders = _t(spark, sf_dir, "orders")
    return collect_group_json(
        orders.where(F.col("o_orderkey") < 1000),
        group_key="o_custkey",
        struct_cols=["o_orderkey", "o_orderstatus", "o_totalprice"],
        out_col="orders_json",
    )


# =====================================================================
# §2.7 scalar functions
# =====================================================================


_PHONE_CASE_SQL = """
    CASE c_custkey % 4
        WHEN 0 THEN '05' || lpad(CAST(c_custkey AS VARCHAR), 8, '0')
        WHEN 1 THEN '9665' || lpad(CAST(c_custkey AS VARCHAR), 8, '0')
        WHEN 2 THEN '+966 5' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') || ' ext'
        ELSE 'no-phone'
    END
"""


@query(
    "clean_contact_phones",
    oracle=f"""
    SELECT c_custkey, phone, {clean_contact_sql("phone")} AS cleaned
    FROM (SELECT c_custkey, {_PHONE_CASE_SQL} AS phone FROM customer)
    """,
)
def clean_contact_phones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 clean_contact as pure column expressions over synthesized
    dirty phone strings."""
    cust = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    phone = (
        F.when(key % 4 == 0, F.concat(F.lit("05"), F.lpad(key.cast("string"), 8, "0")))
        .when(key % 4 == 1, F.concat(F.lit("9665"), F.lpad(key.cast("string"), 8, "0")))
        .when(
            key % 4 == 2,
            F.concat(F.lit("+966 5"), F.lpad(key.cast("string"), 7, "0"), F.lit(" ext")),
        )
        .otherwise(F.lit("no-phone"))
    )
    out = cust.select("c_custkey", phone.alias("phone"))
    return out.select("c_custkey", "phone", ef.clean_contact("phone").alias("cleaned"))


@query(
    "parse_dates_multiformat",
    oracle="""
    SELECT o_orderkey, datestr,
           coalesce(try_strptime(datestr, '%b %d %Y %I:%M%p'),
                    try_strptime(datestr, '%m/%d/%Y %I:%M:%S %p')) AS parsed_ts
    FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0
                    THEN (['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'])[month(o_orderdate)]
                         || ' ' || CAST(day(o_orderdate) AS VARCHAR) || ' ' || CAST(year(o_orderdate) AS VARCHAR) || ' 8:39AM'
                    ELSE CAST(month(o_orderdate) AS VARCHAR) || '/' || CAST(day(o_orderdate) AS VARCHAR) || '/'
                         || CAST(year(o_orderdate) AS VARCHAR) || ' 1:28:20 PM'
               END AS datestr
        FROM orders
    )
    """,
)
def parse_dates_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 VARCHAR-date parsing, both reference formats round-tripped."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    month_name = F.element_at(F.array(*[F.lit(m) for m in _MONTHS]), F.month(d))
    fmt1 = F.concat_ws(
        " ",
        month_name,
        F.dayofmonth(d).cast("string"),
        F.year(d).cast("string"),
        F.lit("8:39AM"),
    )
    fmt2 = F.concat(
        F.month(d).cast("string"),
        F.lit("/"),
        F.dayofmonth(d).cast("string"),
        F.lit("/"),
        F.year(d).cast("string"),
        F.lit(" 1:28:20 PM"),
    )
    datestr = F.when(F.col("o_orderkey") % 2 == 0, fmt1).otherwise(fmt2)
    out = orders.select("o_orderkey", datestr.alias("datestr"))
    return out.select(
        "o_orderkey", "datestr", ef.parse_multiformat_ts("datestr").alias("parsed_ts")
    )


_CHECKOUT_SYNTH_SQL = """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_extendedprice END AS subtotal,
           CASE WHEN l_linenumber % 3 = 1 THEN 0.0
                ELSE l_extendedprice - l_extendedprice * l_discount + l_extendedprice * l_tax END AS grand_total,
           CASE WHEN l_linenumber % 3 = 2 THEN 0.0 ELSE l_extendedprice * l_tax END AS item_tax_total,
           l_extendedprice * l_discount AS discount_total
    FROM lineitem
"""
_REPAIRED = derive_missing_of_three_sql("subtotal", "grand_total", "item_tax_total", "discount_total")


@query(
    "checkout_repair",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {_REPAIRED[0]} AS subtotal_fixed,
           {_REPAIRED[1]} AS grand_total_fixed,
           {_REPAIRED[2]} AS item_tax_fixed
    FROM ({_CHECKOUT_SYNTH_SQL})
    """,
)
def checkout_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 fix_order_checkout: derive the missing one of
    {subtotal, grand_total, tax} from the accounting identity."""
    li = _t(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    ep, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    synth = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(ln % 3 == 0, F.lit(0.0)).otherwise(ep).alias("subtotal"),
        F.when(ln % 3 == 1, F.lit(0.0)).otherwise(ep - ep * disc + ep * tax).alias("grand_total"),
        F.when(ln % 3 == 2, F.lit(0.0)).otherwise(ep * tax).alias("item_tax_total"),
        (ep * disc).alias("discount_total"),
    )
    st, gt, it = derive_missing_of_three(
        F.col("subtotal"), F.col("grand_total"), F.col("item_tax_total"), F.col("discount_total")
    )
    return synth.select(
        "l_orderkey",
        "l_linenumber",
        st.alias("subtotal_fixed"),
        gt.alias("grand_total_fixed"),
        it.alias("item_tax_fixed"),
    )


@query(
    "recode_priority",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority
                WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
                WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 ELSE 0 END AS priority_code
    FROM orders
    """,
)
def recode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 dict-map recode with default."""
    orders = _t(spark, sf_dir, "orders")
    mapping = {"1-URGENT": 1, "2-HIGH": 2, "3-MEDIUM": 3, "4-NOT SPECIFIED": 4, "5-LOW": 5}
    return orders.select(
        "o_orderkey",
        ef.recode("o_orderpriority", mapping, default=0).alias("priority_code"),
    )


@query(
    "string_clean_suite",
    oracle="""
    SELECT c_custkey,
           nullif(regexp_replace(dirty, '^\\s+|\\s+$', '', 'g'), '') AS stripped,
           nullif(regexp_replace(dirty2, '^\\s+|\\s+$', '', 'g'), 'NULL') AS scrubbed,
           upper(c_mktsegment) AS segment_norm,
           CASE WHEN abs(c_acctbal) > 9000 THEN NULL ELSE round(c_acctbal, 2) END AS bal_bounded,
           TRY_CAST(numstr AS DOUBLE) AS coerced
    FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CASE c_custkey % 3 WHEN 0 THEN '  padded  ' WHEN 1 THEN '   ' ELSE c_name END AS dirty,
               CASE c_custkey % 2 WHEN 0 THEN 'NULL' ELSE c_name END AS dirty2,
               CASE c_custkey % 3 WHEN 0 THEN '12.5' WHEN 1 THEN 'x13' ELSE '1e3' END AS numstr
        FROM customer
    )
    """,
)
def string_clean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F9/F10 string-cleaning + coercion policies."""
    cust = _tspread(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = (
        F.when(k % 3 == 0, F.lit("  padded  "))
        .when(k % 3 == 1, F.lit("   "))
        .otherwise(F.col("c_name"))
    )
    dirty2 = F.when(k % 2 == 0, F.lit("NULL")).otherwise(F.col("c_name"))
    numstr = F.when(k % 3 == 0, F.lit("12.5")).when(k % 3 == 1, F.lit("x13")).otherwise(F.lit("1e3"))
    synth = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        dirty.alias("dirty"),
        dirty2.alias("dirty2"),
        numstr.alias("numstr"),
    )
    return synth.select(
        "c_custkey",
        ef.strip_or_null("dirty").alias("stripped"),
        ef.scrub_null_literal(ef.strip_keep_empty("dirty2")).alias("scrubbed"),
        F.upper("c_mktsegment").alias("segment_norm"),
        ef.bounded_abs("c_acctbal", 9000, scale=2).alias("bal_bounded"),
        ef.try_numeric("numstr").alias("coerced"),
    )


@query(
    "date_offset_expiry",
    oracle="""
    SELECT o_orderkey, o_orderdate + INTERVAL 12 MONTH AS expiry_ts FROM orders
    """,
)
def date_offset_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 date offset (+1 year subscription expiry shape)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("o_orderdate + INTERVAL '12' MONTH").alias("expiry_ts")
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events WHERE event_type = 'purchase'
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (props shredding) + pushed filter."""
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )


@query(
    "sessionization",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(1 + sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions
    FROM (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
        FROM events
    )
    GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window (30-min gap) — the batch analog
    of streaming session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    return (
        ev.select("user_id", "event_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (1 + F.sum(F.when(F.col("gap_us") > 1800000000, 1).otherwise(0))).alias("n_sessions"),
        )
    )


# =====================================================================
# training-data-pipeline operators
# =====================================================================


@query("dedup_exact", oracle=dd.exact_dup_groups_sql("documents", "doc_id", "text"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_groups(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_minhash_lsh",
    oracle=dd.minhash_lsh_pairs_sql("documents", "doc_id", "text", k=12, bands=4),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_stage(spark, sf_dir)


def _minhash_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (k=12, bands=4) minhash-LSH pair stage, built ONCE per
    session (dedup.memo_stage): dedup_minhash_lsh, dedup_clusters,
    dedup_keep_best, and corpus_curate all consume the identical
    signature/pair computation — at deployment scale this is the
    persisted band index (operators/ingest.py), in-session it is a
    localCheckpointed build-once stage."""
    return dd.memo_stage(
        spark,
        ("minhash_pairs", sf_dir, 12, 4),
        lambda: dd.minhash_lsh_pairs(
            _tspread(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id", "text", k=12, bands=4,
        ),
    )


def _dup_clusters_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the shared pair stage, built once per
    session — the label-propagation rounds are the expensive half of
    every dedup canonicalization query."""
    from data_migration_etl_scripts_spark.operators import curation as cu2

    return dd.memo_stage(
        spark,
        ("dup_clusters", sf_dir, 12, 4),
        lambda: cu2.dup_clusters(_minhash_pairs_stage(spark, sf_dir)),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=dd.ngram_jaccard_pairs_sql(
        "documents", "doc_id", "text", shingle_n=3, threshold=0.2, max_shingle_freq=20
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        _tspread(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=3,
        threshold=0.2,
        max_shingle_freq=20,
    )


@query("dedup_simhash", oracle=dd.simhash_sql("documents", "doc_id", "text"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_embedding_neardup",
    oracle=dd.embedding_neardup_pairs_sql(
        "embeddings", "vec_id", "embedding", threshold=0.2, bucket_bits=8
    ),
)
def _embedding_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared sign-LSH cosine near-dup pair stage (threshold
    0.2, 8 bucket bits) — consumed by dedup_embedding_neardup (the
    pair listing) and dedup_semantic (components + labeling), so the
    bucketed pair join runs once per session (stage_cache contract)."""
    return dd.memo_stage(
        spark,
        ("embpairs", sf_dir, "vec_id", "embedding", 0.2, 8),
        lambda: dd.embedding_neardup_pairs(
            _tspread(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            threshold=0.2, bucket_bits=8,
        ),
    )


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_pairs_stage(spark, sf_dir)


@query(
    "ann_topk_bruteforce",
    oracle=sim.cosine_topk_bruteforce_sql("embeddings", "vec_id < 8", k=5),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 8), k=5)


@query(
    "ann_topk_bucketed",
    oracle=sim.cosine_topk_bucketed_sql("embeddings", "vec_id < 8", k=5, bucket_bits=6),
)
def ann_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_bucketed(
        emb, emb.where(F.col("vec_id") < 8), k=5, bucket_bits=6
    )


@query("text_token_stats", oracle=tx.token_stats_sql("documents", "doc_id", "text"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_language_id", oracle=tx.language_id_sql("documents", "doc_id", "text"))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.language_id(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_quality_score", oracle=tx.quality_score_sql("documents", "doc_id", "text"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_fingerprint", oracle=tx.fingerprint_sql("documents", "doc_id", "text"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_tspread(spark, sf_dir, "documents"), "doc_id", "text")


def _multimodal_features_oracle(n: int = 128, dim: int = 8) -> str:
    """DuckDB twin of the deterministic fake feature kernel.

    The kernel chains md5 over ASCII hex strings (seed_0 =
    content.hex(), seed_{i+1} = md5(seed_i), value_i = first 8 hex
    chars of seed_i as uint32 / 2^32, stored as float32), which DuckDB's
    VARCHAR-only md5 reproduces exactly; features are micro-quantized
    (floor(x*1e6+0.5)) through the same float32 cast on both engines so
    the JSON serialization is integer-exact.
    """
    hcols = ", ".join(f"md5(h{j}) AS h{j + 1}" for j in range(dim))
    f = (
        "CAST(floor(CAST(CAST(CAST('0x' || substr(h{j}, 1, 8) AS UBIGINT) AS DOUBLE)"
        " / 4294967296.0 AS REAL)::DOUBLE * 1000000.0 + 0.5) AS BIGINT)"
    )
    feats = ", ".join(f.format(j=j) for j in range(1, dim + 1))
    return f"""
    WITH m AS (
        SELECT id AS media_id,
               CASE CAST(id % 3 AS INT) WHEN 0 THEN 'image'
                                        WHEN 1 THEN 'audio'
                                        ELSE 'video' END AS media_type,
               repeat(md5('media:' || CAST(id AS VARCHAR)),
                      CAST(4 + id % 5 AS INT)) AS h0
        FROM range({n}) t(id)
    ),
    c AS (SELECT media_id, media_type,
                 CAST(octet_length(unhex(h0)) AS BIGINT) AS n_bytes, {hcols}
          FROM m)
    SELECT media_id, media_type, n_bytes, to_json([{feats}]) AS feature_q6
    FROM c
    """


@query("multimodal_features", oracle=_multimodal_features_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media -> deterministic fake
    features via Arrow-batched mapInPandas (decode stubbed; see
    operators/multimodal.py). The fake kernel is md5-chain math, so a
    DuckDB twin reproduces it exactly — this row is hash-checked, not
    rows-only."""
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = mm.synthetic_media(spark, n=128)
    feats = mm.extract_features(media, dim=8)
    # Serialize the feature array (the driver's pandas canonicalizer
    # cannot hash array-typed cells), micro-quantized so float32 JSON
    # formatting differences can't break hash parity.
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.to_json(
            F.transform(
                F.col("feature"),
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
            )
        ).alias("feature_q6"),
    )


# =====================================================================
# standard OLAP surface beyond the reference (pivot, rollup, set ops,
# top-k, time buckets, distinct aggs) — SURVEY.md §2 "not present"
# rows, provided because any analytics engine user expects them
# =====================================================================


@query(
    "topk_parts_per_brand",
    oracle="""
    SELECT p_brand, rnk, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
        FROM part
    ) WHERE rnk <= 3
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group (generalized W1)."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "rnk", "p_partkey", "p_retailprice")
    )


@query(
    "pivot_order_status",
    oracle="""
    SELECT o_custkey,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_custkey
    """,
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 pivot with a FIXED value list — at scale never let pivot
    infer the distinct values (that is an extra full scan + an
    unbounded column explosion)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_custkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_custkey",
        F.coalesce("O", F.lit(0)).alias("status_o"),
        F.coalesce("F", F.lit(0)).alias("status_f"),
        F.coalesce("P", F.lit(0)).alias("status_p"),
    )


@query(
    "rollup_acctbal",
    oracle="""
    SELECT r_name, n_name,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_bal,
           count(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region -> nation -> grand total)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum(F.col("c_acctbal").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.count(F.lit(1)).alias("n_cust"),
    )


@query(
    "set_ops_customers",
    oracle="""
    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
     EXCEPT
     SELECT o_custkey AS c_custkey FROM orders)
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal < 0 AND c_mktsegment = 'MACHINERY'
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / EXCEPT set operations."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    negative_mach = cust.where(
        (F.col("c_acctbal") < 0) & (F.col("c_mktsegment") == "MACHINERY")
    ).select("c_custkey")
    return building.exceptAll(orders).distinct().union(negative_mach).distinct()


@query(
    "distinct_agg_supplier",
    oracle="""
    SELECT l_suppkey,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_suppkey
    """,
)
def distinct_agg_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (Spark expands to a two-phase agg internally)."""
    return (
        _tspread(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "windowed_event_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows, batch form of the streaming
    windowed aggregate (streaming/windows.py) — same plan modulo the
    watermark operator."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "set_validation_order_status",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
             AS statuses,
           bool_and(o_orderstatus IN ('O', 'F', 'P')) AS all_valid
    FROM orders GROUP BY o_custkey
    """,
)
def set_validation_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 set-membership validation: collect_set + forall.

    The status set is serialized with array_join because the driver's
    pandas-based canonicalizer cannot hash array-typed cells."""
    orders = _t(spark, sf_dir, "orders")
    statuses = F.array_sort(F.collect_set("o_orderstatus"))
    return orders.groupBy("o_custkey").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.forall(statuses, lambda s: s.isin("O", "F", "P")).alias("all_valid"),
    )


@query(
    "backfill_earliest_ship",
    oracle="""
    SELECT o.o_orderkey,
           coalesce(o.known_ship, e.first_ship) AS effective_ship
    FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_orderdate + INTERVAL 30 DAY END AS known_ship
        FROM orders
    ) o
    LEFT JOIN (
        SELECT l_orderkey AS o_orderkey, l_shipdate AS first_ship FROM (
            SELECT l_orderkey, l_shipdate,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_shipdate ASC, l_linenumber ASC) AS rn
            FROM lineitem
        ) WHERE rn = 1
    ) e USING (o_orderkey)
    """,
)
def backfill_earliest_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 earliest-row-per-key backfill as an oracle-checked query
    (operator: backfill_from_group_earliest; synthetic nulls on every
    third order)."""
    from data_migration_etl_scripts_spark.operators import backfill_from_group_earliest

    orders = _tspread(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.lit(None).cast("timestamp")
        ).otherwise(F.expr("o_orderdate + INTERVAL '30' DAY")).alias("known_ship"),
    )
    li = _tspread(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        "l_linenumber",
    )
    out = backfill_from_group_earliest(
        orders, li, key="o_orderkey", fill_cols=["known_ship"],
        aux_order=["l_shipdate", "l_linenumber"], aux_source_col="l_shipdate",
    )
    return out.select("o_orderkey", F.col("known_ship").alias("effective_ship"))


@query(
    "lag_lead_rank_prices",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           rank()       OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           lag(p_retailprice)  OVER w AS prev_price,
           lead(p_retailprice) OVER w AS next_price
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)
    """,
)
def lag_lead_rank_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/lag/lead windows (beyond the reference's
    row_number-only usage — SURVEY.md §2.5 'not present' row)."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return part.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.lag("p_retailprice").over(w).alias("prev_price"),
        F.lead("p_retailprice").over(w).alias("next_price"),
    )


@query(
    "percentile_acctbal",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.5)  AS p50,
           quantile_cont(c_acctbal, 0.9)  AS p90,
           min(c_acctbal) AS lo, max(c_acctbal) AS hi
    FROM customer GROUP BY c_mktsegment
    """,
)
def percentile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`). At 100 TB swap to `percentile_approx`
    (t-digest sketch, mergeable map-side) — kept exact here so the
    oracle can hash-match."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("p50"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )


@query(
    "ann_ivf_cells",
    oracle=sim.ivf_cell_assignment_sql("embeddings", n_centroids=8),
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flat-IVF INDEX BUILD as its own benchmarked stage: every
    corpus vector with its coarse cell, hash-matched cell-by-cell vs
    the oracle. At scale the index is materialized once and served to
    every search (``build_ivf_index`` is the on-disk form); splitting
    build from search here makes the bench mirror that cost model —
    the cached assignment this builds is exactly what the
    ``ann_topk_ivf`` / ``ann_recall_ivf`` family reuses in-session."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_cell_assignment(emb, n_centroids=8, cache=sf_dir)


@query(
    "ann_ivf2_cells",
    oracle=sim.ivf2_cell_assignment_sql("embeddings", n_coarse=8, n_sub=8),
)
def ann_ivf2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level IVF INDEX BUILD as its own benchmarked stage:
    every corpus vector with its (coarse, sub) composite cell — the
    relation ``ann_topk_ivf2`` searches. Both codebook assignments are
    independently hash-matched vs the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf2_cell_assignment(emb, n_coarse=8, n_sub=8, cache=sf_dir)


@query(
    "ann_topk_ivf",
    oracle=sim.cosine_topk_ivf_sql("embeddings", "vec_id < 8", k=5, n_centroids=8),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer (centroids = the
    first n vectors by id), corpus assigned to nearest centroid, query
    probes only its own cell. The real-world variant runs k-means for
    the codebook; the cell-assignment plan (broadcast centroids ->
    argmin -> equi-join on cell) is identical."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 8), k=5, n_centroids=8, cache=sf_dir
    )


@query(
    "ann_topk_ivf_probe4",
    oracle=sim.cosine_topk_ivf_sql(
        "embeddings", "vec_id < 8", k=5, n_centroids=8, n_probe=4
    ),
)
def ann_topk_ivf_probe4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at the measured efficient-frontier operating point
    (SCALE.md tuning table): each query probes its 4 nearest of 8
    cells — recall 0.79 vs 0.46 single-probe at sf0.1, scan fraction
    exactly n_probe/cells. The probe side carries 4 rows per query
    (still broadcast); the corpus-side plan is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 8), k=5, n_centroids=8, n_probe=4,
        cache=sf_dir,
    )


@query(
    "ann_topk_ivf2",
    oracle=sim.cosine_topk_ivf2_sql(
        "embeddings", "vec_id < 8", k=5,
        n_coarse=8, n_sub=8, n_probe_coarse=4, n_probe_sub=4,
    ),
)
def ann_topk_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF (IMI-style): 8 coarse x 8 sub = 64 effective cells
    from two 8-entry codebooks; queries probe 4 coarse then 4 sub-cells
    each — scan fraction ~1/4 at 64-cell granularity. No stage handles
    a codebook bigger than 8 entries: at a billion vectors a flat
    fine-grained codebook can't broadcast, two bounded levels can.
    Deterministic seeding makes the whole index SQL-expressible — the
    DuckDB twin reproduces every cell assignment."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivf2(
        emb, emb.where(F.col("vec_id") < 8), k=5,
        n_coarse=8, n_sub=8, n_probe_coarse=4, n_probe_sub=4, cache=sf_dir,
    )


@query(
    "embed_pq_codes",
    oracle=em.pq_reconstruction_error_sql("embeddings", m_sub=8, n_codes=16),
)
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression of the embedding column:
    m_sub=8 codes of a 16-codeword book per vector (8 small ints vs
    64 doubles — 64x) plus the per-vector squared reconstruction
    error, the measurable compression/accuracy trade. Encoding is
    map-side literal-expression argmax — zero shuffles, zero UDFs.
    The codebooks and (vid, codes) relation ride the session-shared
    PQ index (em.seeded_pq_index) that ann_topk_ivf_pq also consumes:
    the family pays the collect + encode pass once per session."""
    emb = _t(spark, sf_dir, "embeddings")
    books, codes = em.seeded_pq_index(emb, m_sub=8, n_codes=16, cache=sf_dir)
    return em.pq_reconstruction_error(emb, books, codes=codes)


@query(
    "ann_topk_ivf_pq",
    oracle=sim.cosine_topk_ivf_pq_sql(
        "embeddings", "vec_id < 8", k=5,
        n_centroids=8, n_probe=4, m_sub=8, n_codes=16, rerank=128,
    ),
)
def ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: IVF coarse cells + product-quantization codes with
    asymmetric-distance candidate scoring and an exact re-rank of the
    top-32. The candidate scan reads (vid, cell, m_sub codes) — codes,
    never raw vectors; full vectors are touched for O(rerank*queries)
    rows only. ADC = per-query lookup tables + m_sub element_at sums,
    pure codegen. Deterministic seeding makes every stage (codebooks,
    codes, LUTs, shortlist, re-rank) SQL-expressible — the DuckDB twin
    hash-matches the full composition."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivf_pq(
        emb, emb.where(F.col("vec_id") < 8), k=5,
        n_centroids=8, n_probe=4, m_sub=8, n_codes=16, rerank=128,
        cache=sf_dir,
    )


@query(
    "ann_topk_multitable",
    oracle=sim.cosine_topk_bucketed_sql(
        "embeddings", "vec_id < 8", k=5, bucket_bits=6, n_tables=4
    ),
)
def ann_topk_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with the multi-table OR construction (4 tables over
    disjoint 6-dim ranges, table id folded into one equi-join key,
    candidate pairs deduped in a group-by) — recall ~5x the
    single-table bucket at sf0.1 (SCALE.md). The plan stays one
    equi-join + one pair aggregate: no all-pairs anywhere."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_bucketed(
        emb, emb.where(F.col("vec_id") < 8), k=5, bucket_bits=6, n_tables=4
    )


@query(
    "top_tokens",
    oracle=f"""
    SELECT tok, n_docs, n_total FROM (
        SELECT tok, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
        FROM (SELECT doc_id, unnest({'{t}'}) AS tok
              FROM (SELECT doc_id, {'{tsql}'} AS t FROM documents))
        GROUP BY tok
    ) WHERE rn <= 25
    """.format(t="t", tsql="list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')"),
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-N (explode -> count -> rank): the
    vocabulary/stopword-discovery pass of a text pipeline."""
    from data_migration_etl_scripts_spark.operators import textprep as tp

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tp.tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_total"),
    )
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # top-k, merged on the driver) — a global Window.orderBy here would
    # funnel the whole 1e8-row vocabulary through one partition.
    return (
        counts.select("tok", "n_docs", "n_total")
        .orderBy(F.col("n_total").desc(), F.col("tok").asc())
        .limit(25)
    )


@query(
    "cdc_batch_extract",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey > 7000
    ORDER BY o_orderkey LIMIT 1000
    """,
)
def cdc_batch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/P6: one micro-batch exactly as the CDC runner extracts it —
    pushed range predicate, total order, TOP N."""
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") > 7000)
        .orderBy("o_orderkey")
        .limit(1000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup): per-status, per-priority,
    and grand total in one pass."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total,
               count(*) AS n
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND substr(a.c_name, 1, 15) = substr(b.c_name, 1, 15)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) duplicate candidates: blocked candidate
    join -> levenshtein filter — the classic record-linkage shape.

    Blocking key = (nation, 15-char name prefix). The prefix component
    is the standard recall trade (pairs differing inside the prefix are
    not candidates — same contract as the LSH dedup family) and what
    keeps the pair count linear-ish: nation alone at sf0.1 means ~600
    names per block = 4.5M levenshtein calls (measured ~60 s); with the
    prefix it is thousands."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    a, b = cust.alias("a"), cust.alias("b")
    # r12 (guide §1.2 per-task work): the block join guarantees equal
    # 15-char prefixes, and levenshtein is prefix-invariant
    # (lev(P+s, P+t) == lev(s, t) — the standard common-prefix trim
    # every edit-distance implementation starts with), so the DP runs
    # on the 3-char suffixes instead of the full 18-char names: ~36x
    # fewer cell updates per pair, bit-identical dist values.
    dist = F.levenshtein(
        F.substring(F.col("a.c_name"), 16, 2**31 - 1),
        F.substring(F.col("b.c_name"), 16, 2**31 - 1),
    )
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (
                F.substring(F.col("a.c_name"), 1, 15)
                == F.substring(F.col("b.c_name"), 1, 15)
            )
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(dist <= 2)
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            dist.alias("dist"),
        )
    )


@query(
    "corpus_clean",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, n, q, content_hash FROM (
            SELECT doc_id,
                   len(t) AS n,
                   0.4 * (CASE WHEN len(t) >= 50 THEN 1.0 ELSE len(t) / 50.0 END)
                     + 0.3 * (CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / CAST(len(t) AS DOUBLE) ELSE 0.0 END)
                     + 0.3 * (CASE WHEN sw_frac >= 0.01 AND sw_frac <= 0.6 THEN 1.0 ELSE 0.0 END) AS q,
                   md5(array_to_string(t, ' ')) AS content_hash
            FROM (
                SELECT doc_id, t,
                       CASE WHEN len(t) > 0
                            THEN len(list_filter(t, x -> x IN ('the','a','of','to','and','in','is','it','for','on'))) / CAST(len(t) AS DOUBLE)
                            ELSE 0.0 END AS sw_frac
                FROM (SELECT doc_id,
                             list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS t
                      FROM documents)
            )
        ) WHERE q >= 0.5 AND n >= 10
    )
    SELECT doc_id, q AS quality, n AS n_tokens FROM (
        SELECT doc_id, q, n,
               row_number() OVER (PARTITION BY content_hash
                                  ORDER BY n DESC, doc_id ASC) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning pass, composed from the
    engine's text operators in ONE lazy plan: quality-score -> filter
    (quality and minimum length) -> exact-dedup keeping the LONGEST
    representative per content hash. The composition is the point:
    three operator families fuse into two shuffles (hash groupBy +
    window) with everything else map-side."""
    from data_migration_etl_scripts_spark.operators import textprep as tp
    from data_migration_etl_scripts_spark.operators.text import STOPWORDS_EN

    docs = _tspread(spark, sf_dir, "documents")
    t = tp.tokens("text")
    base = docs.select(
        "doc_id",
        F.size(t).alias("n"),
        t.alias("t"),
    )
    n = F.col("n")
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(F.col("t"))) / n).otherwise(
        F.lit(0.0)
    )

    def in_set(sw):
        return lambda x: x.isin(*sw)

    sw_frac = F.when(
        n > 0, F.size(F.filter(F.col("t"), in_set(STOPWORDS_EN))) / n
    ).otherwise(F.lit(0.0))
    length_ok = F.when(n >= 50, F.lit(1.0)).otherwise(n / F.lit(50.0))
    sw_ok = F.when((sw_frac >= 0.01) & (sw_frac <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    quality = 0.4 * length_ok + 0.3 * distinct_ratio + 0.3 * sw_ok
    scored = base.select(
        "doc_id",
        "n",
        quality.alias("q"),
        F.md5(F.concat_ws(" ", F.col("t"))).alias("content_hash"),
    ).where((F.col("q") >= 0.5) & (F.col("n") >= 10))
    w = Window.partitionBy("content_hash").orderBy(F.col("n").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("q").alias("quality"), F.col("n").alias("n_tokens"))
    )


@query(
    "session_windows_batch",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    i AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM i GROUP BY user_id, sid
    """,
)
def session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window (gap-merged event-time sessions) in batch mode —
    the same operator streaming/windows.stream_sessionize uses on
    streams. Oracle: classic gaps-and-islands SQL (lag -> new-session
    flag -> cumulative id), which is exactly the semantics
    session_window implements natively."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


@query("text_tfidf_topk", oracle=tx.tfidf_topk_sql("documents", "doc_id", "text", k=5))
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (keyword extraction)."""
    return tx.tfidf_topk(_tspread(spark, sf_dir, "documents"), "doc_id", "text", k=5)


@query(
    "dimension_template_clean",
    oracle="""
    SELECT c_custkey AS old_id,
           nullif(regexp_replace(raw_name, '^\\s+|\\s+$', '', 'g'), '') AS name,
           CASE raw_image WHEN '-1' THEN NULL ELSE raw_image END AS image_path,
           coalesce(status_id, 1) AS status_id,
           coalesce(created_on, TIMESTAMP '2026-01-01 12:00:00') AS created_at
    FROM (
        SELECT c_custkey,
               CASE c_custkey % 3 WHEN 0 THEN '  ' || c_name || ' '
                    WHEN 1 THEN '   ' ELSE c_name END AS raw_name,
               CASE c_custkey % 2 WHEN 0 THEN '-1' ELSE 'img.png' END AS raw_image,
               CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 2 END AS status_id,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE TIMESTAMP '2024-06-01 00:00:00' END AS created_on
        FROM customer
    )
    """,
)
def dimension_template_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole Template_Tables transform (drop/rename/strip/recode/
    default-fill with injectable batch timestamp) under the oracle
    gate, over a synthesized dirty dimension."""
    import datetime as _dt

    from data_migration_etl_scripts_spark.pipelines.dimensions import (
        dimension_transform,
    )

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = cust.select(
        k.alias("OldID"),
        F.when(k % 3 == 0, F.concat(F.lit("  "), F.col("c_name"), F.lit(" ")))
        .when(k % 3 == 1, F.lit("   "))
        .otherwise(F.col("c_name"))
        .alias("Name"),
        F.when(k % 2 == 0, F.lit("-1")).otherwise(F.lit("img.png")).alias("ImagePath"),
        F.when(k % 4 == 0, F.lit(None).cast("int")).otherwise(F.lit(2)).alias("StatusID"),
        F.when(k % 5 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.lit("2024-06-01 00:00:00").cast("timestamp"))
        .alias("CreatedAt"),
        F.lit("bookkeeping").alias("RowVersion"),  # dropped by the transform
    )
    out = dimension_transform(
        dirty,
        _dt.datetime(2026, 1, 1, 12, 0, 0),
        drop=["RowVersion"],
        strip_to_null=["Name"],
        scrub_values={"ImagePath": "-1"},
        fill_defaults={"StatusID": 1},
        fill_ts_cols=["CreatedAt"],
    )
    return out.select(
        F.col("OldID").alias("old_id"),
        F.col("Name").alias("name"),
        F.col("ImagePath").alias("image_path"),
        F.col("StatusID").alias("status_id"),
        F.col("CreatedAt").alias("created_at"),
    )


@query(
    "categories_shape",
    oracle="""
    WITH existing AS (
        SELECT DISTINCT p_brand, p_type FROM part WHERE p_size > 40
    ),
    best AS (
        SELECT p_brand, p_type, p_partkey, p_size, p_retailprice FROM (
            SELECT p_brand, p_type, p_partkey, p_size, p_retailprice,
                   row_number() OVER (
                       PARTITION BY p_brand, p_type
                       ORDER BY p_size ASC, p_retailprice DESC, p_partkey ASC
                   ) AS rn
            FROM part
        ) WHERE rn = 1
    )
    SELECT b.p_brand, b.p_type, b.p_partkey, b.p_size, b.p_retailprice
    FROM best b
    WHERE NOT EXISTS (
        SELECT 1 FROM existing e
        WHERE e.p_brand = b.p_brand AND e.p_type = b.p_type
    )
    """,
)
def categories_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The categories/items migration shape as ONE plan (reference
    ``Main_Modules/ProductManagement/categories.py:86-101``): W1
    keep-best dedup per composite business key with a TOTAL ordering
    (p_size asc, p_retailprice desc, p_partkey tiebreak), then a J5/J6
    composite-key anti-join against the already-migrated set."""
    part = _t(spark, sf_dir, "part")
    existing = part.where(F.col("p_size") > 40).select("p_brand", "p_type")
    best = top1_per_group(
        part,
        keys=["p_brand", "p_type"],
        order=[F.col("p_size").asc(), F.col("p_retailprice").desc()],
        tiebreakers=["p_partkey"],
    )
    fresh = anti_join_existing(best, existing, on=["p_brand", "p_type"])
    return fresh.select("p_brand", "p_type", "p_partkey", "p_size", "p_retailprice")


@query(
    "entity_clean_suite",
    oracle="""
    SELECT c_custkey,
           upper(replace(trim(c_name), ' ', '')) AS norm_key,
           CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
                THEN c_mktsegment END AS segment_domain,
           CAST(round(CAST(c_acctbal AS DECIMAL(14,2)) * CAST(1.15 AS DECIMAL(6,2)), 2)
                AS DOUBLE) AS bal_with_vat,
           CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS bal_floored,
           coalesce(nullif(trim(c_mktsegment), ''), '(none)') AS segment_filled,
           c_acctbal > 0 AS is_positive,
           list_extract(string_split(c_name, '#'), 2) AS name_number
    FROM customer
    """,
)
def entity_clean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One composed pass covering the column-function families that were
    pytest-only: F3 normalized identity key, F8 domain restrict, F11
    money arithmetic (decimal-exact), F12 conditional fill, F13
    constant fill, F14 boolean derivation, F17 positional lookup."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.replace(F.trim(F.col("c_name")), F.lit(" "), F.lit(""))).alias("norm_key"),
        ef.domain_restrict("c_mktsegment", ["BUILDING", "AUTOMOBILE", "MACHINERY"])
        .alias("segment_domain"),
        F.round(
            F.col("c_acctbal").cast("decimal(14,2)") * F.lit(1.15).cast("decimal(6,2)"), 2
        ).cast("double").alias("bal_with_vat"),
        F.when(F.col("c_acctbal") < 0, F.lit(0.0)).otherwise(F.col("c_acctbal"))
        .alias("bal_floored"),
        F.coalesce(F.nullif(F.trim(F.col("c_mktsegment")), F.lit("")), F.lit("(none)"))
        .alias("segment_filled"),
        (F.col("c_acctbal") > 0).alias("is_positive"),
        F.element_at(F.split(F.col("c_name"), "#"), 2).alias("name_number"),
    )


@query("multimodal_real_decode")  # no SQL oracle: stdlib codec kernel —
# range-asserted by tools/selfcheck.py (_range_multimodal_decode), which
# recomputes the expected features driver-side from the same payload bytes
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL decode path: genuine BMP/PNG/GIF/JPEG (baseline
    + progressive)/WebP/TIFF/WAV/FLAC and MPEG-1 audio Layer I/II/III
    payloads decoded byte-level (stdlib struct/zlib + the operators/
    {jpeg,webp,tiff,flac,mpeg_audio,mpeg_layer3}.py codecs) inside the
    Arrow-batched mapInPandas kernel — no hash fakes
    (operators/multimodal.py, decoder="real"). Remaining compressed
    codecs (H.264 / lossy VP8 / foreign-table MP3) stay documented
    plug-points."""
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = mm.synthetic_real_media(spark, n=24, include_mpeg=True)
    feats = mm.extract_features(media, dim=6, decoder="real")
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.to_json(F.col("feature")).alias("feature_json"),
    )


# ------- web-corpus front end: HTML extraction + policy filtering ----

#: shared fixture recipe: wrap each document's text in deterministic
#: markup (script/style/comment blocks, entities injected, an anchor,
#: block tags) so the extractor has REAL work whose expected output is
#: still pinned by the DuckDB twin running the same construction
_HTML_WRAP_SQL = (
    "'<html><head><title>' || lang || '</title>"
    "<style>p {color: red}</style>"
    "<script>if (1 < 2) { track(\"<p>\"); }</script></head>"
    "<body><!-- nav --><h1>' || source || '</h1><p>' || "
    "replace(text, ' the ', ' &amp; ') || "
    "'</p><a href=\"/u\">' || source || ' link</a>"
    "<div>footer</div></body></html>'"
)


def _html_docs(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.expr(_HTML_WRAP_SQL.replace('\\"', '"')).alias("html"),
    )


@query(
    "html_extract_text",
    oracle=hx.extract_text_sql(
        f"(SELECT doc_id, {_HTML_WRAP_SQL} AS html "
        "FROM documents WHERE text IS NOT NULL)",
        "doc_id", "html",
    ),
)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus front end: HTML -> visible text as pure column
    expressions (script/style/comment removal, block tags -> newlines,
    tag strip, entity decode, whitespace normalization) plus the
    link-density boilerplate signal (anchor-text chars / clean chars).
    The fixture wraps each document in deterministic markup — built by
    the SAME SQL expression in both engines — so extraction output is
    fully hash-matched, entities and all. Map-side only: at 100 TB
    this pipelines into the WARC scan with zero shuffles."""
    return hx.extract_text(_html_docs(spark, sf_dir), "doc_id", "html")


def _warc_oracle_sql() -> str:
    """The WARC fixture pages as a DuckDB VALUES table fed through the
    SAME extraction SQL — a FULL hash-matched oracle for the whole
    WARC -> HTTP -> HTML -> text pipeline (the Spark side parses real
    container bytes; the oracle starts from the identical page HTML
    the fixture put inside them)."""
    from data_migration_etl_scripts_spark.sources.warc import (
        synthetic_warc_blobs,
    )

    _rows, pages = synthetic_warc_blobs(2, 3)
    values = ", ".join(
        "('" + uri.replace("'", "''") + "', '"
        + html.replace("'", "''") + "')"
        for uri, html in sorted(pages.items())
    )
    return hx.extract_text_sql(
        f"(SELECT * FROM (VALUES {values}) AS t(uri, html))", "uri", "html"
    )


@query("warc_extract_text", oracle=_warc_oracle_sql())
def warc_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl ingestion end to end: WARC container bytes (ISO
    28500, plain AND per-record-gzip packaging — the CommonCrawl
    form) -> records via the Arrow-batched parser (sources/warc.py)
    -> HTTP envelopes split -> 200/html responses -> the map-side
    HTML extraction pipeline (operators/html.py). The oracle rebuilds
    the SAME pages as a DuckDB VALUES table and runs the shared
    extraction SQL, so the whole container->text path is hash-matched
    — framing, gzip members, HTTP split, entities and all."""
    from data_migration_etl_scripts_spark.sources import warc as wc

    rows, _pages = wc.synthetic_warc_blobs(2, 3)
    blobs = local_df(spark, rows, "path string, content binary")
    recs = wc.read_warc(blobs)
    html_rows = recs.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("content_type").contains("http")
    ).select("uri", F.col("payload").cast("string").alias("html"))
    return hx.extract_text(html_rows, "uri", "html")


@query(
    "corpus_blocklist_filter",
    oracle=hx.blocklist_filter_sql(
        "documents", "doc_id", "text",
        ["slow", "stale", "corrupt"], max_frac=0.02,
    ),
)
def corpus_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style wordlist policy filter: canonical tokens counted
    against a blocklist; keep = flagged fraction <= 2% (the C4 rule is
    0%; the threshold form subsumes it). Every doc comes back labeled,
    so the survivor set is one filter and the drop set is auditable.
    One map-side pass — the policy list rides the plan as a literal."""
    return hx.blocklist_filter(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        ["slow", "stale", "corrupt"], max_frac=0.02,
    )


@query("audio_mel_features")  # no SQL oracle: FFT kernel — range-asserted
# by tools/selfcheck.py (_range_audio_mel): per-payload driver-side mel
# recompute + structural asserts (true rates, frame-count formula)
def audio_mel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-mel spectrograms over the real-audio fixture (WAV + MPEG-1
    Layer I/II payloads through one dispatcher): Hann window, radix-2
    FFT, formula-derived HTK mel filterbank — the standard acoustic
    feature an ASR training pipeline ships (operators/melspec.py).
    The frames x n_mels matrix travels as mmap-able float32-LE
    (fingerprinted here for a scalar output)."""
    from data_migration_etl_scripts_spark.operators import melspec as msp
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = mm.synthetic_real_media(spark, n=24, include_mpeg=True).where(
        F.col("media_type") == "audio"
    )
    mel = msp.audio_mel_spectrogram(media, n_fft=256, hop=160, n_mels=16)
    return mel.select(
        "media_id", "rate", "n_frames", "n_mels",
        F.md5(F.col("mel_bin")).alias("mel_md5"),
    )


@query("audio_resample_16k")  # no SQL oracle: windowed-sinc kernel —
# range-asserted by tools/selfcheck.py (_range_audio_resample): exact
# per-payload driver-side recompute + the ceil(n*L/M) length formula +
# sine-RMS preservation through the rate change
def audio_resample_16k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-rate normalization to 16 kHz over the real-audio fixture
    (8 kHz WAVs, 32 kHz MPEG-1 and FLAC — the mixed-provenance reality
    of a speech corpus): polyphase windowed-sinc resampling
    (operators/resample.py, formula-derived Kaiser-sinc taps,
    numpy-vectorized per clip), shipping mono float32-LE PCM at one
    uniform rate — the step between decode and featurization in every
    ASR training pipeline. The clip travels as mmap-able pcm_bin
    (fingerprinted here for a scalar output)."""
    from data_migration_etl_scripts_spark.operators import multimodal as mm
    from data_migration_etl_scripts_spark.operators import resample as rs

    media = mm.synthetic_real_media(spark, n=24, include_mpeg=True).where(
        F.col("media_type") == "audio"
    )
    out = rs.audio_resample(media, target_rate=16000)
    return out.select(
        "media_id", "src_rate", "dst_rate", "n_in", "n_out",
        F.md5(F.col("pcm_bin")).alias("pcm_md5"),
    )


@query("image_neardup_pairs")  # no SQL oracle: pixel decode — range-
# asserted by tools/selfcheck.py (_range_image_neardup): hashes AND the
# pair set recomputed exactly driver-side from the shared fixture bytes
def image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection (the LAION-style image-dedup stage):
    dHash perceptual hashes via the stdlib codec dispatch (BMP/PNG/
    WebP/JPEG/GIF all hash by PIXELS — container-invariant, pinned),
    then banded hamming pairs: 8 bit-bands equi-join (pigeonhole-exact
    recall for hamming <= 6) + bit_count popcount filter, all
    JVM-side. The fixture carries known structure: same-pixel
    triplets across three containers + a brightness-shifted copy
    (hamming 0, dHash invariance) + a locally-edited copy (small
    hamming) + unrelated noise (excluded)."""
    from data_migration_etl_scripts_spark.operators import imagehash as ihx
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = local_df(
        spark, ihx.synthetic_imagehash_media_rows(4), mm.MEDIA_SCHEMA
    )
    hashes = ihx.image_dhash(media)
    return ihx.dhash_neardup_pairs(hashes, max_hamming=6, n_bands=8)


@query("video_neardup_pairs")  # no SQL oracle: pixel decode — range-
# asserted by tools/selfcheck.py (_range_video_neardup): frame hashes
# AND the pair rollup recomputed exactly driver-side from the fixture
def video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection (the last cell of the per-modality
    dedup matrix): per-FRAME dHashes via the GIF/AVI decode dispatch
    in ONE mapInPandas pass (operators/videohash.py), then a fully
    relational frame-level banded hamming join rolled up to video
    pairs — two clips pair when >= 2 of one's frames each have a
    near-frame (hamming <= 6, pigeonhole-exact recall) in the other.
    The fixture carries known structure per base clip: AVI quality-92
    vs quality-70 re-encode vs palette-quantized GIF (three lossy
    paths of the SAME frames: pairs), and unrelated clips with
    distinct spatial structure (excluded)."""
    from data_migration_etl_scripts_spark.operators import multimodal as mm
    from data_migration_etl_scripts_spark.operators import videohash as vhx

    media = local_df(
        spark, vhx.synthetic_videohash_media_rows(3), mm.MEDIA_SCHEMA
    )
    hashes = vhx.video_frame_hashes(media)
    return vhx.video_neardup_pairs(
        hashes, min_matched_frames=2, max_hamming=6, n_bands=8
    )


@query("audio_neardup_pairs")  # no SQL oracle: FFT fingerprint — range-
# asserted by tools/selfcheck.py (_range_audio_neardup): hashes AND the
# pair set recomputed exactly driver-side from the shared fixture bytes
def audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection (the speech/music-corpus dedup stage):
    Haitsma-Kalker-style 64-bit spectral fingerprints via the WAV/
    FLAC/MPEG decode dispatch + internal 16 kHz resample (operators/
    audiohash.py — log-band-energy gradients: exactly gain- and
    container-invariant, robust to lossy re-encode and source rate),
    then the SAME banded hamming pair search the image stage uses
    (imagehash.dhash_neardup_pairs — generic over any 64-bit hash):
    8 bit-bands equi-join (pigeonhole-exact recall for hamming <= 6)
    + bit_count popcount filter, all JVM-side. The fixture carries
    known structure per base clip: int16-WAV / FLAC / half-gain
    float-WAV copies (hamming 0), an MPEG-1 Layer II re-encode and a
    32 kHz rendering (small hamming), and an unrelated chirp
    (excluded)."""
    from data_migration_etl_scripts_spark.operators import audiohash as afx
    from data_migration_etl_scripts_spark.operators import imagehash as ihx
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = local_df(
        spark, afx.synthetic_audiohash_media_rows(4), mm.MEDIA_SCHEMA
    )
    hashes = afx.audio_afp(media)
    return ihx.dhash_neardup_pairs(
        hashes, hash_col="afp", max_hamming=6, n_bands=8
    )


# ------- corpus curation: clustering, sampling, packing, scrubbing ---


from data_migration_etl_scripts_spark.operators import curation as cu  # noqa: E402

_MINHASH_PAIRS_SQL = dd.minhash_lsh_pairs_sql("documents", "doc_id", "text", k=12, bands=4)


@query("dedup_clusters", oracle=cu.dup_clusters_sql(_MINHASH_PAIRS_SQL))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> (doc, canonical
    cluster representative). Hash-min label propagation: O(diameter)
    join+min rounds with per-round localCheckpoint (lineage stays
    O(1)); the keep-one-per-cluster decision downstream is a simple
    doc_id == cluster_id filter."""
    return _dup_clusters_stage(spark, sf_dir)


@query(
    "sample_deterministic",
    oracle=cu.deterministic_sample_sql("documents", "doc_id", 0.2)
    .replace("SELECT *", "SELECT doc_id, lang"),
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% split by md5-threshold on the key: the same
    rows on every run, every engine, every partitioning — unlike
    rand(seed), which changes with the partitioning."""
    docs = _t(spark, sf_dir, "documents")
    return cu.deterministic_sample(docs, "doc_id", 0.2).select("doc_id", "lang")


@query(
    "pack_sequences",
    oracle=cu.pack_sequences_sql(
        tx.token_stats_sql("documents", "doc_id", "text"),
        "doc_id", "approx_bpe_tokens", capacity=2048, n_shards=8,
    ),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM pack-file layout: per-shard running token sum assigns each
    document its pack bin + offset (capacity 2048 tokens). The window
    partitions by shard — no global sort at corpus scale."""
    stats = tx.token_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return cu.pack_sequences(
        stats, "doc_id", "approx_bpe_tokens", capacity=2048, n_shards=8
    )


@query(
    "dedup_keep_best",
    oracle=cu.keep_best_per_cluster_sql(
        cu.dup_clusters_sql(_MINHASH_PAIRS_SQL),
        tx.quality_score_sql("documents", "doc_id", "text"),
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization: minhash-LSH pairs ->
    connected components -> the HIGHEST-QUALITY member of each cluster
    survives (ties to min doc id) instead of the smallest id — the
    retained copy of a duplicate group should be its cleanest one.
    Winner selection is one max(struct) aggregate (skew-safe under the
    classic hot duplicate cluster); quality doubles are identical-order
    IEEE on both engines so the winner never flips."""
    # clusters come from the session-shared pair/cluster stage (one
    # signature build serves the whole dedup family); quality is its
    # own single map-side scan
    docs = _tspread(spark, sf_dir, "documents").select("doc_id", "text")
    clusters = _dup_clusters_stage(spark, sf_dir)
    quality = tx.quality_score(docs, "doc_id", "text")
    return cu.keep_best_canonicalize(quality, clusters)


@query("text_scrub_pii", oracle=tx.scrub_pii_sql("documents", "doc_id", "text"))
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL/phone masking with typed placeholders (pure JVM-side
    regexps; patterns chosen to match under both Java regex and RE2)."""
    return tx.scrub_pii(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query("ann_topk_ivf_trained")  # no oracle: iterative k-means codebook
def ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over a TRAINED k-means codebook (Lloyd's, 3 rounds of
    broadcast-assign + per-dimension mean): same search plan as
    ann_topk_ivf, better cells. The codebook is the product of an
    iterative algorithm with no SQL twin, so tools/selfcheck.py
    range-asserts instead: every returned cosine re-verified exactly
    in DuckDB, descending-rank order, and a recall@5 floor vs the
    exact brute force."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = sim.train_kmeans_centroids(emb, n_centroids=8, n_iter=3)
    return sim.cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 8), k=5, centroids=cent
    )


@query(
    "corpus_curate",
    oracle=f"""
    WITH RECURSIVE pair_edges AS (
        SELECT doc_a AS u, doc_b AS v FROM ({_MINHASH_PAIRS_SQL})
        UNION
        SELECT doc_b AS u, doc_a AS v FROM ({_MINHASH_PAIRS_SQL})
    ),
    reach(node, label) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM pair_edges)
        UNION
        SELECT e.u, r.label FROM pair_edges e JOIN reach r ON e.v = r.node
    ),
    dupes AS (
        SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(label)
    ),
    scrubbed AS (
        SELECT doc_id, {tx.scrub_pii_expr_sql('text')} AS text_s
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
    ),
    sized AS (
        SELECT doc_id, CAST(ceil(length(text_s) / 4.0) AS BIGINT) AS n_tokens
        FROM scrubbed WHERE length(text_s) >= 200
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_bin,
           CAST(cum - n_tokens - floor((cum - n_tokens) / 2048) * 2048 AS BIGINT)
               AS bin_offset
    FROM (
        SELECT doc_id, doc_id % 8 AS shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM sized
    )
    """,
)
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus curation pipeline as ONE composed plan:
    near-dup pairs -> connected-component clusters -> keep canonical
    doc per cluster (anti-join) -> PII scrub -> min-length filter ->
    pack-bin assignment. Every stage is the already-tested operator;
    the composition stays lazy, so Catalyst prunes and pipelines
    across stage boundaries."""
    from data_migration_etl_scripts_spark.operators import curation as cu2

    docs = _tspread(spark, sf_dir, "documents").select("doc_id", "text")
    clusters = _dup_clusters_stage(spark, sf_dir)
    dupes = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    # dupes is O(near-dup docs): broadcast keeps the corpus anti-join
    # map-side instead of shuffling every document on doc_id
    kept = docs.join(F.broadcast(dupes), "doc_id", "left_anti")
    scrubbed = tx.scrub_pii(kept, "doc_id", "text").select("doc_id", "text_scrubbed")
    sized = scrubbed.where(F.length("text_scrubbed") >= 200).select(
        "doc_id",
        F.ceil(F.length("text_scrubbed") / F.lit(4.0)).cast("long").alias("n_tokens"),
    )
    return cu2.pack_sequences(sized, "doc_id", "n_tokens", capacity=2048, n_shards=8)


@query(
    "decontaminate_docs",
    oracle=ctm.decontaminate_sql(
        "documents",
        "SELECT text FROM documents WHERE doc_id % 23 = 0",
        n=8,
    ),
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-gram
    with the eval slice (doc_id % 23 == 0 stands in for a benchmark
    table). Eval shingle set is broadcast — the corpus side never
    shuffles until the per-doc count."""
    docs = _tspread(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0).select("text")
    return ctm.decontaminate(docs, bench, n=8)


@query(
    "decontaminate_containment",
    oracle=ctm.containment_pairs_sql(
        "documents",
        "SELECT doc_id AS bench_id, "
        "array_to_string((" + __import__(
            "data_migration_etl_scripts_spark.operators.textprep",
            fromlist=["tokens_sql"],
        ).tokens_sql("text") + ")[1:25], ' ') AS text "
        "FROM documents WHERE doc_id % 37 = 0",
        n=5,
        threshold=0.5,
    ),
)
def decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC eval-leak detection: benchmark items (short snippets
    — here the first 25 tokens of every 37th doc, standing in for an
    eval set quoted from the corpus) matched by shingle CONTAINMENT
    |S_bench ∩ S_doc| / |S_bench| >= 0.5, which catches a benchmark
    embedded in a much larger document where symmetric Jaccard
    dilutes to ~0. Bench shingles broadcast with their set sizes; the
    corpus side is map-side until the matched-pair group-by (bounded
    by shared-shingle volume, never |bench| x |corpus|)."""
    docs = _tspread(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(tp.tokens("text"), 1, 25), " ").alias("text"),
    )
    return ctm.containment_pairs(docs, bench, n=5, threshold=0.5)


@query(
    "hard_negatives",
    oracle=sim.mine_hard_negatives_sql(
        "embeddings", "vec_id < 8", k=5, n_centroids=8, n_probe=4,
        max_cosine=0.98,
    ),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-5 most-similar vectors BELOW the near-dup ceiling
    (cosine < 0.98) — hard but not secretly positive. IVF candidate
    scan + pre-ranking ceiling filter; the false-negative poisoning
    guard is part of the plan, not post-processing."""
    emb = _tspread(spark, sf_dir, "embeddings")
    return sim.mine_hard_negatives(
        emb, emb.where(F.col("vec_id") < 8), k=5,
        n_centroids=8, n_probe=4, max_cosine=0.98,
    )


@query(
    "quality_zscore_by_source",
    oracle=tx.quality_zscore_by_source_sql("documents"),
)
def quality_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: raw scores z-normalized within
    their source domain, so one keep-threshold means the same thing in
    every domain (a global cutoff over-prunes low-scoring styles and
    under-prunes boilerplate farms). One scoring pass + one
    stratum-cardinality aggregate broadcast back — corpus never
    shuffles."""
    return tx.quality_zscore_by_source(_tspread(spark, sf_dir, "documents"))


@query(
    "bigram_lm_score",
    oracle=ctm.bigram_logprob_sql("documents", vocab_size=2048, bigram_size=8192),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity stand-in (CCNet-style upgrade
    over the unigram model): transition log-probs interpolate the
    corpus bigram table with the floored unigram, so fluent word salad
    — common tokens, impossible adjacencies — scores low even though
    every token is in-vocab. Both model tables are
    TakeOrderedAndProject tops, broadcast; DECIMAL log-prob sums keep
    the average order-independent.

    r13 split (VERDICT r12 item 6): the SCORING side spreads (its
    transition lattice + three broadcast joins + per-doc aggregate
    parallelize, and the doc_id-keyed spread co-partitions the final
    aggregate) while the MODEL tables build from the unspread read —
    the top-K merges still see the data's natural narrow partitioning
    (the 32-way spread on the tops was measured 2.3 -> 3.4-5.1 s in
    r12 and stays reverted). Same counts, same scores — model_df just
    separates the two sides."""
    return ctm.bigram_logprob(
        _tspread(spark, sf_dir, "documents"), vocab_size=2048,
        bigram_size=8192, model_df=_t(spark, sf_dir, "documents"),
    )


def _dp_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import privacy as pv

    return pv.dp_group_counts_sql(
        "orders", ["o_orderstatus", "o_orderpriority"], eps=0.5,
        seed="board-release",
    )


@query("dp_release_counts", oracle=_dp_oracle())
def dp_release_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release: per-(status, priority) order
    counts with SEEDED Laplace(1/eps) noise (operators/privacy.py) —
    publishable statistics whose re-run publishes the SAME numbers
    (fresh noise per run would compose into the classic averaging
    attack). The seeded md5-uniform -> inverse-CDF noise is the same
    cross-engine idiom the deterministic samplers use, so the
    RELEASED values hash-match the DuckDB twin exactly."""
    from data_migration_etl_scripts_spark.operators import privacy as pv

    return pv.dp_group_counts(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        eps=0.5, seed="board-release",
    )


@query(
    "ppjoin_exact_pairs",
    oracle=dd.ppjoin_pairs_sql(
        "(SELECT * FROM documents WHERE text IS NOT NULL)",
        "doc_id", "text", threshold=0.6, shingle_n=3,
    ),
)
def ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via the AllPairs/PPJoin prefix
    filter — the lossless counterpart to the minhash/shingle-cap
    candidate generators: order each doc's distinct 3-gram shingles
    by global rarity, join only the first n - ceil(t*n) + 1 of them
    (any qualifying pair provably shares a prefix feature),
    size-ratio filter, then exact intersection verification — zero
    false negatives at the threshold, no probabilistic recall and no
    shrunk shingle universe. ceil(t*n) runs as exact rational
    integer arithmetic — a DOUBLE ceil is a cross-engine trap
    (0.7*10 = 7.000000000000001 -> ceil 8 vs DuckDB's exact DECIMAL
    7.0 -> ceil 7). The read is spread: the tokenize + shingle
    explode under the per-doc checkpoint is the CPU-heavy part of the
    build, and on a single-file table it would run as one task."""
    docs = _tspread(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return dd.ppjoin_pairs(docs, "doc_id", "text", threshold=0.6, shingle_n=3)


@query("compression_signal")  # no SQL oracle: DEFLATE has no SQL twin —
# range-asserted by tools/selfcheck.py (_range_compression): every row
# recomputed exactly driver-side with the same zlib level, plus the
# natural-language bits-per-byte band
def compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DEFLATE compressibility (bits per byte) — the
    entropy/repetition quality signal web-corpus pipelines ship next
    to the token heuristics. Map-side Arrow-batched kernel, zero
    shuffles; deterministic at a fixed zlib level, so the range
    assert is a full per-row recompute."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return tx.compression_ratio(docs, "doc_id", "text")


_BM25_QUERY = "model training data quality"


@query(
    "bm25_search",
    oracle=tx.bm25_topk_sql(
        "(SELECT * FROM documents WHERE text IS NOT NULL)",
        "doc_id", "text", _BM25_QUERY, k=20,
    ),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus (Okapi weighting, Lucene idf) —
    the query-relevance miner behind retrieval-based data selection
    (rank the corpus against a target query/distribution, keep the
    head). One explode feeds doc lengths and the query-term-filtered
    tf table; N/avgdl broadcast as one row; top-20 is
    TakeOrderedAndProject. 9-dp contribution rounding + DECIMAL sums
    keep the ranking hash-matched against the DuckDB twin.

    Deliberately NOT _tspread: the global TakeOrderedAndProject tops
    in this family merge top-K per input partition on the driver, so
    32-way spread input multiplies the driver merge (measured ~1.5-2x
    slower with the spread on)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return tx.bm25_topk(docs, "doc_id", "text", _BM25_QUERY, k=20)


_PAGERANK_EDGES_SQL = """
    SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
           's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 's' || CAST(l.l_suppkey AS VARCHAR) AS src,
           'c' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _pagerank_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import graph as gr

    return gr.pagerank_sql(_PAGERANK_EDGES_SQL, iterations=5)


@query("entity_pagerank", oracle=_pagerank_oracle())
def entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics: damped PageRank with dangling-mass
    redistribution over the bidirectional customer<->supplier
    fulfillment graph (an edge per lineitem in each direction —
    parallel edges carry multiplicity, so heavy trade relationships
    pull proportionally more rank). Five iterations, each one shuffle
    + flat lineage via localCheckpoint; per-edge contributions round
    to 9 dp and DECIMAL-sum, making the iteration bit-reproducible —
    the TRAINED ranks hash-match DuckDB running the same five rounds
    as unrolled CTEs (the classifier's oracle pattern, applied to
    graph iteration)."""
    from data_migration_etl_scripts_spark.operators import graph as gr

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # r12 (guide §2.3, narrower types): the iteration runs on LONG
    # node keys (custkey*2 even / suppkey*2+1 odd) instead of "c123"/
    # "s45" strings — every per-round hash/probe/agg then works on
    # 8-byte longs; the string labels are reconstructed once on the
    # final node-sized relation. Rank values are identical (the graph
    # is isomorphic and the arithmetic never touches the key), so the
    # oracle hash is unchanged.
    fwd = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = gr.pagerank(edges, iterations=5)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("CAST(node DIV 2 AS STRING)")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.expr("CAST((node - 1) DIV 2 AS STRING)"))
        )
        .alias("node"),
        "rank",
    )


def _classifier_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import classifier as clf
    from data_migration_etl_scripts_spark.operators import textprep as tp2

    docs = "(SELECT * FROM documents WHERE text IS NOT NULL)"
    toks = tp2.tokens_sql("text")
    labels = (
        f"SELECT doc_id, CAST(len(list_intersect({toks}, "
        f"['data', 'model', 'training'])) > 0 AS INT) AS y FROM {docs}"
    )
    feats = clf.hashed_features_sql(docs, "doc_id", "text", n_buckets=512)
    return clf.train_predict_sql(feats, labels, rounds=3, lr=0.5)


@query("quality_classifier_scores", oracle=_classifier_oracle())
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality gate (the fastText/CCNet-style linear filter,
    learned — not a fixed heuristic): hashing-trick logistic
    regression (operators/classifier.py) fit by 3 full-batch GD
    rounds on weak topic labels, then scored over the corpus. The
    descent itself is deterministic (9-dp + DECIMAL discipline at
    every aggregation), so the TRAINED MODEL's predictions hash-match
    DuckDB running the identical unrolled rounds — training as a
    first-class, oracle-checked operator, not a black box."""
    from data_migration_etl_scripts_spark.operators import classifier as clf
    from data_migration_etl_scripts_spark.operators import textprep as tp

    docs = _tspread(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    labels = docs.select(
        "doc_id",
        F.arrays_overlap(
            tp.tokens("text"),
            F.array(F.lit("data"), F.lit("model"), F.lit("training")),
        ).cast("int").alias("y"),
    )
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=512)
    w = clf.train_logreg(feats, labels, rounds=3, lr=0.5)
    return clf.predict(feats, w, labels)


_HELDOUT_EVAL = "(SELECT * FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)"
_HELDOUT_TRAIN = "(SELECT * FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0)"


@query(
    "bigram_heldout_ppl",
    oracle=f"""
        SELECT doc_id, n_transitions, hit_frac, avg_logprob,
               round(exp(-avg_logprob), 6) AS ppl
        FROM ({ctm.bigram_logprob_sql(_HELDOUT_EVAL, vocab_size=2048,
                                      bigram_size=8192,
                                      model_table=_HELDOUT_TRAIN)})
    """,
)
def bigram_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT perplexity evaluation — the LM-eval shape every data
    pipeline runs before shipping a corpus: the bigram model trains on
    the even-id half and scores the odd-id half it never saw
    (model_df separation in ctm.bigram_logprob). Out-of-table
    transitions fall to the interpolated unigram floor; ppl =
    exp(-avg_logprob) per doc. Fully hash-matched against the DuckDB
    twin with the same train/eval split.

    r13 split (VERDICT r12 item 6): the EVAL side spreads (its
    lattice + broadcast joins + per-doc aggregate parallelize on the
    doc_id-keyed exchange) while the TRAIN side keeps the unspread
    read — the vocab/bigram model tables are global
    TakeOrderedAndProject tops (K up to 8192) whose merge scales with
    partitions x K (measured 2.3 -> 3.4-5.1 s with the 32-way spread
    on in r12; that revert stands for the model side)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    train = docs.where(F.col("doc_id") % 2 == 0)
    ev = (
        _tspread(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .where(F.col("doc_id") % 2 == 1)
    )
    scored = ctm.bigram_logprob(
        ev, model_df=train, vocab_size=2048, bigram_size=8192
    )
    return scored.select(
        "doc_id", "n_transitions", "hit_frac", "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


@query(
    "decontaminate_fuzzy_docs",
    oracle=ctm.decontaminate_fuzzy_sql(
        "documents", "SELECT * FROM documents WHERE doc_id % 23 = 0"
    ),
)
def decontaminate_fuzzy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup benchmark decontamination: MinHash band collision flags
    docs that are near-copies of any eval item — catches the
    paraphrased leaks exact 8-gram overlap misses. Bench band table
    broadcast; corpus pays one signature pass."""
    docs = _tspread(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    return ctm.decontaminate_fuzzy(docs, bench)


@query(
    "quality_repetition",
    oracle=ctm.repetition_stats_sql("documents"),
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top-token / top-2-gram /
    duplicate-line fractions) + keep flag, per document."""
    return ctm.repetition_stats(_tspread(spark, sf_dir, "documents"))


@query(
    "embed_quantize_int8",
    oracle=em.quantize_int8_sql("embeddings"),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (map-side only; floor(x+0.5) rounding for cross-engine parity;
    quantized vector serialized as CSV for harness hashability)."""
    return em.quantize_int8(_t(spark, sf_dir, "embeddings"))


@query(
    "embed_random_projection",
    oracle=em.random_projection_sql("embeddings", in_dim=64, out_dim=8),
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed (±1) random projection 64 -> 8 dims as scalar columns;
    md5-seeded sign matrix embedded as literals in both engines, fold
    order matched so doubles are bit-identical."""
    return em.random_projection(_t(spark, sf_dir, "embeddings"), in_dim=64, out_dim=8)


_STRATA_FRACTIONS = {"en": 0.1, "zh": 0.5, "es": 0.9}


@query(
    "sample_stratified",
    oracle=cu.stratified_sample_sql(
        "documents", "doc_id", "lang", _STRATA_FRACTIONS, default_fraction=0.25
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling to mixture weights
    (md5-threshold per stratum; partitioning/run independent, one
    map-side CASE filter — no shuffle, no per-stratum scan)."""
    return cu.stratified_sample(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        _STRATA_FRACTIONS,
        default_fraction=0.25,
    )


@query(
    "unigram_lm_score",
    oracle=ctm.unigram_logprob_sql("documents", vocab_size=64),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring against corpus-global token stats
    (perplexity-filter stand-in): top-64 vocab via TakeOrderedAndProject,
    broadcast to a per-token left join; log-probs rounded then
    DECIMAL-summed so 1000 executors agree bit-for-bit."""
    return ctm.unigram_logprob(_tspread(spark, sf_dir, "documents"), vocab_size=64)


@query(
    "ingest_dedup",
    oracle=ig.dedup_incoming_sql(
        "SELECT * FROM documents WHERE doc_id % 10 = 7",
        "SELECT * FROM documents WHERE doc_id % 10 <> 7",
    ),
)
def ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest: classify an incoming batch (doc_id%10==7)
    against history indexes (content hashes + LSH band table) without
    touching historical text. Two slim equi-joins; the batch side is
    the natural AQE broadcast."""
    docs = _tspread(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 7)
    hist = docs.where(F.col("doc_id") % 10 != 7)
    return ig.dedup_incoming(
        new,
        ig.content_hash_table(hist, "doc_id", "text"),
        ig.minhash_band_table(hist, "doc_id", "text"),
    )


_PROFILE_COLS = ["c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"]


@query(
    "profile_customer",
    oracle=pf.profile_columns_sql("customer", _PROFILE_COLS),
)
def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile: null/distinct/min/max per column as
    rows (gate precheck / data-quality report). Exact mode here;
    approx=True (HLL, no Expand) is the documented 100 TB path."""
    return pf.profile_columns(_tspread(spark, sf_dir, "customer"), _PROFILE_COLS)


@query("sketch_profile_events")  # no oracle: HLL/t-digest are engine-specific
def sketch_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mergeable sketches: HLL distinct users + t-digest
    amount quantiles. Sketch values are engine-specific, so
    tools/selfcheck.py range-asserts: exact n_rows, approx_distinct
    within 5% of exact, quantiles inside exact rank brackets; pytest
    additionally bounds them."""
    ev = _t(spark, sf_dir, "events")
    return pf.approx_profile(ev, "event_type", "user_id")


@query(
    "dedup_paragraphs",
    oracle=dd.remove_duplicate_paragraphs_sql("documents", "doc_id", "text"),
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (keep first occurrence by (doc_id,
    pos)): winner per paragraph-hash is a min(struct) AGGREGATE — not a
    per-hash window — so 10M copies of a boilerplate paragraph still
    shuffle only map-side partials. Text reassembled deterministically
    via array_sort(collect_list)."""
    return dd.remove_duplicate_paragraphs(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "chunk_documents",
    oracle=tx.chunk_documents_sql("documents", chunk_tokens=16, overlap=4),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows with overlap (embedding/context-window
    prep): sequence -> slice per row, posexplode to one row per chunk.
    Map-side only — no shuffle."""
    return tx.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=16, overlap=4
    )


_BUDGET_INNER_SQL = f"""
    SELECT q.doc_id, q.quality, t.approx_bpe_tokens
    FROM ({tx.quality_score_sql('documents', 'doc_id', 'text')}) q
    JOIN ({tx.token_stats_sql('documents', 'doc_id', 'text')}) t USING (doc_id)
"""


@query(
    "select_token_budget",
    oracle=cu.select_to_token_budget_sql(
        _BUDGET_INNER_SQL, "doc_id", "quality", "approx_bpe_tokens",
        budget_per_shard=400, n_shards=8,
    ),
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first greedy selection under a per-shard token budget
    (the 'best data for the compute budget' pass): per-shard window
    cumsum over (quality desc, doc_id) — n_shards-way parallel sort,
    never global."""
    docs = _t(spark, sf_dir, "documents")
    scored = tx.quality_score(docs, "doc_id", "text").join(
        tx.token_stats(docs, "doc_id", "text").select(
            "doc_id", "approx_bpe_tokens"
        ),
        "doc_id",
    )
    return cu.select_to_token_budget(
        scored, "doc_id", "quality", "approx_bpe_tokens",
        budget_per_shard=400, n_shards=8,
    )


_DIFF_CMP = ["o_custkey", "o_orderstatus", "o_totalprice"]


@query(
    "snapshot_diff_orders",
    oracle=dfo.snapshot_diff_sql(
        "SELECT * FROM orders WHERE o_orderkey % 97 <> 3",
        """SELECT o_orderkey, o_custkey, o_orderstatus,
                  CASE WHEN o_orderkey % 89 = 5 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 97 <> 11""",
        ["o_orderkey"],
        _DIFF_CMP,
    ),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run regression diff: added/removed/changed rows by pk,
    O(changes) output (unchanged rows dropped inside the join). Old =
    orders minus keys≡3 (mod 97); new = orders minus keys≡11 with a
    price bump on keys≡5 (mod 89)."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.where(k % 97 != 3)
    new = orders.where(k % 97 != 11).withColumn(
        "o_totalprice",
        F.when(k % 89 == 5, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return dfo.snapshot_diff(old, new, ["o_orderkey"], _DIFF_CMP)


@query(
    "fk_orphan_report",
    oracle=dfo.fk_orphan_report_sql(
        "lineitem",
        [
            ("l_partkey", "(SELECT * FROM part WHERE p_partkey % 7 <> 3)", "p_partkey"),
            ("l_suppkey", "supplier", "s_suppkey"),
        ],
    ),
)
def fk_orphan_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RI triage report: orphan counts for every FK in ONE fact scan
    (k broadcast left-joins + a single-row aggregate — no fact
    shuffle). The part dim is restricted (p_partkey%7==3 removed) so
    the orphan path is exercised."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 7 != 3)
    supp = _t(spark, sf_dir, "supplier")
    return dfo.fk_orphan_report(
        li,
        [("l_partkey", part, "p_partkey"), ("l_suppkey", supp, "s_suppkey")],
    )


@query(
    "asof_purchase_attribution",
    oracle=tmp.asof_join_sql(
        "SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'",
        "SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'",
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        tiebreak="event_id",
    ),
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (point-in-time): attribute each purchase to the
    user's latest click at-or-before it. Union-marker + per-key
    forward-fill window — one key shuffle, partition-local sorts,
    never a per-row lookup. Oracle = DuckDB native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    return tmp.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id", "value"], tiebreak="event_id",
    )


@query(
    "range_join_click_windows",
    oracle="""
    SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.c_ts
    FROM (SELECT event_id AS purchase_id, user_id,
                 ts - INTERVAL 1 HOUR AS w_start, ts AS p_ts
          FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id AS click_id, user_id, ts AS c_ts
          FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.c_ts >= p.w_start AND c.c_ts < p.p_ts
    """,
)
def range_join_click_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE join via time-bin equi-keys (hash join + exact filter,
    never an inequality-only nested loop): clicks within the hour
    before each purchase. Oracle = the naive inequality join."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = tmp.range_join_binned(
        purchases, clicks, key="user_id",
        left_start="w_start", left_end="p_ts", right_ts="c_ts",
        bin_seconds=3600,
    )
    return out.select("purchase_id", "user_id", "p_ts", "click_id", "c_ts")


@query(
    "dedup_semantic",
    oracle=cu.semantic_dedup_sql(
        "embeddings", "vec_id", "embedding", threshold=0.2, bucket_bits=8
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: bucketed cosine near-dup pairs ->
    connected components -> keep one canonical doc per semantic
    cluster. Every input doc comes back labeled (cluster_id, keep), so
    the survivor set is a single filter with no second corpus pass.
    Reference parity: generalizes the reference's exact-key dedup
    vocabulary (e.g. ProductManagement/categories.py:86-101) to
    embedding space. The candidate-pair stage is session-shared with
    dedup_embedding_neardup (_embedding_pairs_stage)."""
    return cu.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.2, bucket_bits=8,
        pairs=_embedding_pairs_stage(spark, sf_dir),
    )


@query(
    "sample_temperature_mix",
    oracle="SELECT doc_id, lang FROM ("
    + cu.mix_by_temperature_sql("documents", "doc_id", "lang", target_rows=200)
    + ")",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (p(lang) ~ n^0.5): one count
    agg -> broadcast per-stratum md5 cutoffs -> map-side filter. The
    corpus is scanned once and never shuffled; the data-derived keep
    fraction is rendered as a hex cutoff so both engines pick the
    identical row set."""
    docs = _t(spark, sf_dir, "documents")
    return cu.mix_by_temperature(
        docs, "doc_id", "lang", target_rows=200
    ).select("doc_id", "lang")


@query(
    "quality_quantile_filter",
    oracle=cu.filter_by_quantile_sql(
        tx.quality_score_sql("documents", "doc_id", "text"), "quality", q=0.6
    ),
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold curation: keep docs whose quality score clears
    the corpus 60th percentile. The cut is stated as a QUANTILE (the way
    corpus-quality policies are written — adapts per snapshot), not an
    absolute score: one exact-percentile aggregate -> one-row broadcast
    -> map-side filter; the corpus never shuffles. At 100 TB the
    percentile swaps to percentile_approx (mergeable t-digest)."""
    scored = tx.quality_score(_tspread(spark, sf_dir, "documents"), "doc_id", "text")
    return cu.filter_by_quantile(scored, "quality", q=0.6)


from data_migration_etl_scripts_spark.sources import shards as sh  # noqa: E402


@query(
    "export_tar_manifest",
    oracle=sh.tar_manifest_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",
        "doc_id",
        ["strlen(text)"],  # DuckDB strlen = BYTE length of a VARCHAR
        n_shards=8,
        max_items=16,
    ),
)
def export_tar_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard export (the training-dataloader sink):
    deterministic key%n shard assignment, ONE shuffle, per-task streamed
    USTAR tars with deterministic bytes, manifest emitted from the same
    pass. The oracle recomputes the manifest — including the EXACT
    on-disk tar byte size — from 512/10240-block arithmetic in SQL, so a
    hash match proves the written archives are byte-shaped exactly as
    specified (measured size == computed size)."""
    import os as _os

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out = f"/tmp/dmess_shards/{_os.path.basename(sf_dir.rstrip('/'))}"
    # export_tar_shards (not bare write_tar_shards): the wrapper sweeps
    # phantom tars a previous larger run left in this fixed dir
    return sh.export_tar_shards(
        docs, out, "doc_id", {"txt": "text"}, n_shards=8, max_items=16
    )


def _zorder_orders_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import scale as sc

    inner = (
        "SELECT o_orderkey, o_custkey, "
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS o_day "
        "FROM orders"
    )
    z = sc.zorder_key_sql(inner, ["o_custkey", "o_day"], bits=16)
    return f"SELECT o_orderkey, zval FROM ({z})"


@query("zorder_key_orders", oracle=_zorder_orders_oracle())
def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (customer, order day) — the
    multi-dimensional layout key behind write_zorder_clustered: sorting
    by it keeps rows close in BOTH dimensions close on disk, so parquet
    min/max stats prune files for predicates on either column. Pure
    codegen bit math over exact BIGINT ranks (one O(1) min/max agg
    feeds literal bounds); the DuckDB twin reproduces every key
    bit-for-bit."""
    from data_migration_etl_scripts_spark.operators import scale as sc

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("unix_date(cast(o_orderdate as date))").cast("bigint").alias("o_day"),
    )
    keyed = sc.zorder_key(orders, ["o_custkey", "o_day"], bits=16)
    return keyed.select("o_orderkey", F.col("_zval").alias("zval"))


@query("bpe_tokenize_corpus")
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (not the token_stats estimator): merges
    trained on THIS corpus (one word-count shuffle + driver loop over
    the bounded top-2000 word table), then applied map-side via an
    Arrow-batched Pandas UDF with a per-worker word cache. The iterative
    greedy merge has no SQL twin, so tools/selfcheck.py range-asserts
    per-doc token-count brackets + the head-reconstruction prefix
    invariant vs the raw text; golden merges/naive-reference parity
    are pinned by tests/test_bpe.py."""
    from data_migration_etl_scripts_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    merges = bpe.train_bpe(docs, "text", num_merges=60, max_words=2000)
    toks = bpe.apply_bpe(docs, "doc_id", "text", merges)
    return toks.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.slice("tokens", 1, 8), " ").alias("token_head"),
    )


@query("unigram_tokenize_corpus")  # no SQL oracle: EM training loop —
# range-asserted by tools/selfcheck.py (_range_unigram_tokenize):
# per-doc piece-count brackets + the head-reconstruction prefix
# invariant; EM math (brute-force lattice parity, monotone likelihood)
# is pinned by tests/test_unigram.py
def unigram_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-family unigram-LM tokenization — the second
    tokenizer family next to BPE (operators/unigram.py): seed
    substrings -> EM (lattice forward-backward expected counts) ->
    prune to the vocab budget, trained on THIS corpus (one word-count
    shuffle + driver loop over the bounded top-2000 word table), then
    Viterbi-applied map-side via an Arrow-batched Pandas UDF with a
    per-worker word cache."""
    from data_migration_etl_scripts_spark.operators import unigram as ug

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    vocab = ug.train_unigram(
        docs, "text", vocab_size=300, max_words=2000, max_piece_len=6
    )
    toks = ug.apply_unigram(docs, vocab, "text", max_piece_len=6)
    return toks.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.array_join(F.slice("pieces", 1, 8), " ").alias("piece_head"),
    )


def _ppl_bucket_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import contamination as ctm2
    from data_migration_etl_scripts_spark.operators import curation as cu3

    scored = ctm2.unigram_logprob_sql("documents", "doc_id", "text")
    bucketed = f"""(
        SELECT doc_id, avg_logprob,
               CASE WHEN avg_logprob < p25 THEN 'low'
                    WHEN avg_logprob >= p75 THEN 'high'
                    ELSE 'mid' END AS ppl_bucket
        FROM ({scored}) s,
             (SELECT quantile_cont(avg_logprob, 0.25) AS p25,
                     quantile_cont(avg_logprob, 0.75) AS p75
              FROM ({scored})) t
    )"""
    samp = cu3.stratified_sample_sql(
        bucketed, "doc_id", "ppl_bucket",
        {"low": 0.1, "mid": 0.8, "high": 0.3},
    )
    return f"SELECT doc_id, ppl_bucket, avg_logprob FROM ({samp})"


@query("sample_by_perplexity_bucket", oracle=_ppl_bucket_oracle())
def sample_by_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucketed sampling — the 'keep the middle of the LM
    score distribution' curation heuristic (very low logprob =
    gibberish, very high = boilerplate): unigram-LM scoring -> exact
    quartile thresholds (one agg, broadcast) -> per-bucket
    deterministic md5 sampling (mid 80% / high 30% / low 10%). All
    composed from hash-matched operators; the corpus shuffles only in
    the scoring explode, never for bucketing or sampling."""
    from data_migration_etl_scripts_spark.operators import contamination as ctm2
    from data_migration_etl_scripts_spark.operators import curation as cu3

    docs = _tspread(spark, sf_dir, "documents")
    # LAZY localCheckpoint (r13, guide §2.4): the scoring relation is
    # consumed by the quartile-threshold aggregate (a broadcast
    # subquery) AND the bucketing pass — without it the tokenize +
    # explode + vocab joins ran once per consumer. No extra serial
    # job: the checkpoint materializes inside the threshold broadcast
    # build and the main pass reads the same blocks.
    scored = ctm2.unigram_logprob(docs, "doc_id", "text").localCheckpoint(
        eager=False
    )
    thr = scored.agg(
        F.expr("percentile(avg_logprob, 0.25)").alias("p25"),
        F.expr("percentile(avg_logprob, 0.75)").alias("p75"),
    )
    bucketed = scored.join(F.broadcast(thr)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") < F.col("p25"), F.lit("low"))
        .when(F.col("avg_logprob") >= F.col("p75"), F.lit("high"))
        .otherwise(F.lit("mid"))
        .alias("ppl_bucket"),
    )
    return cu3.stratified_sample(
        bucketed, "doc_id", "ppl_bucket", {"low": 0.1, "mid": 0.8, "high": 0.3}
    ).select("doc_id", "ppl_bucket", "avg_logprob")


def _chunk_stream_oracle() -> str:
    from data_migration_etl_scripts_spark.operators import curation as cu4
    from data_migration_etl_scripts_spark.operators import textprep as tp2

    inner = cu4.chunk_token_stream_sql(
        "SELECT doc_id, text FROM documents",
        "doc_id",
        tp2.tokens_sql("text"),
        capacity=512,
        n_shards=8,
    )
    return (
        f"SELECT shard, seq, n_tokens, "
        f"md5(array_to_string(seq_tokens, ' ')) AS seq_md5 FROM ({inner})"
    )


@query("chunk_token_stream_docs", oracle=_chunk_stream_oracle())
def chunk_token_stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk: the per-shard token stream cut into fixed
    512-token pretraining sequences, boundary docs SPLIT across
    neighboring sequences — the materialized step past pack_sequences'
    bin assignment. Per-shard window + map-side sequence()/slice
    explode + one (shard, seq) group-by; every shard independent. The
    md5 of each full sequence hash-matches DuckDB, proving token-exact
    reassembly including every boundary split."""
    from data_migration_etl_scripts_spark.operators import curation as cu4
    from data_migration_etl_scripts_spark.operators import textprep as tp2

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tp2.tokens("text").alias("toks"))
    out = cu4.chunk_token_stream(toks, "doc_id", "toks", capacity=512, n_shards=8)
    return out.select(
        "shard",
        "seq",
        "n_tokens",
        F.md5(F.array_join("seq_tokens", " ")).alias("seq_md5"),
    )


@query("video_frame_extract")
def video_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: animated GIFs (stdlib codec — patch
    frames composited to full frames), AVI/MJPEG containers (RIFF
    walk + per-frame baseline JPEG, operators/avi.py), and an H.264
    IPPP clip (r9: I_PCM IDR + all-skip P pictures — motion-
    compensated multi-frame decode, table-free) fan out to
    every-2nd-frame rows via an Arrow-batched mapInPandas kernel; each
    frame re-encodes as BMP and is fingerprinted here for a scalar
    output. Pixel decoding has no SQL twin, but the fixture videos are
    deterministic formulas, so tools/selfcheck.py range-asserts the
    EXACT row set (every sampled GIF frame rebuilt + BMP-md5'd
    driver-side from the recipe; AVI rows re-decoded driver-side from
    the same bytes plus independent dim/timing facts); round-trips are
    additionally pinned by tests/test_multimodal_real.py and
    tests/test_avi.py."""
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = mm.synthetic_video_media(spark, n=8, include_avi=True,
                                     include_h264=True)
    frames = mm.extract_frames(media, every_n=2, decoder="real")
    return frames.select(
        "media_id",
        "frame_idx",
        "t_ms",
        "width",
        "height",
        F.md5(F.col("frame_bmp")).alias("frame_md5"),
    )


@query("corpus_to_training_shards")
def corpus_to_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end 'raw corpus -> training-ready artifacts' path a
    reference user actually wants, as ONE lazy composition: quality
    scoring -> quantile-threshold curation (drop the bottom 25%) ->
    corpus-trained BPE tokenization -> fixed-budget sequence packing ->
    WebDataset tar-shard export, returning the shard manifest. Every
    stage is the already-oracle-checked operator; the composition adds
    no new shuffle beyond each stage's own (score/filter map-side,
    tokenize map-side, pack = per-shard window, export = one
    repartition). BPE's merge loop has no SQL twin, but everything
    around it is range-asserted by tools/selfcheck.py: the kept-doc
    set vs the exact DuckDB quantile twin, every tar re-read
    driver-side (member keys == kept ids, int32 bin length == token
    count, per-doc token-count brackets, FULL token-to-text
    reconstruction), and manifest rows vs on-disk bytes."""
    import os as _os

    from data_migration_etl_scripts_spark.operators import bpe
    from data_migration_etl_scripts_spark.operators import curation as cu2

    # deliberately NOT _tspread: this pipeline is pandas-UDF-bound
    # (BPE tokenize/encode), and a 32-partition corpus makes every UDF
    # stage launch a serialized storm of Python workers for ~100 rows
    # each (guide §4.5) — measured 4.6 -> 13.7 s with the spread on.
    # The scan's native small partitioning keeps worker count at the
    # data's natural width.
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.join(
        tx.quality_score(docs, "doc_id", "text"), "doc_id"
    )
    kept = cu2.filter_by_quantile(scored, "quality", q=0.25)
    merges = bpe.train_bpe(kept, "text", num_merges=60, max_words=2000)
    # tokenize + id-pack as ONE Arrow boundary (r13, guide §4): the
    # chained apply_bpe -> encode_token_ids shipped the token arrays
    # across JVM<->Python twice (two dependent ArrowEvalPython nodes)
    toks = bpe.apply_bpe_encode(
        kept, "doc_id", "text", merges, bpe.build_vocab(merges)
    )
    # materialize the tokenized corpus ONCE: the window + two member
    # projections would otherwise re-run the UDF chain (measured 2.3x);
    # at 100 TB this is "persist the tokenized corpus to parquet"
    toks = toks.localCheckpoint()
    # keep_cols carries the token arrays + packed ids through packing —
    # a re-join by id would run the tokenizer UDF twice
    packed = cu2.pack_sequences(
        toks, "doc_id", "n_tokens", capacity=2048, n_shards=8,
        keep_cols=["tokens", "ids_bin"],
    )
    records = packed.select(
        "doc_id",
        F.to_json(
            F.struct("doc_id", "pack_bin", "bin_offset", "n_tokens", "tokens")
        ).alias("record"),
        "ids_bin",
    )
    out = f"/tmp/dmess_shards/train_{_os.path.basename(sf_dir.rstrip('/'))}"
    # two members per sample: the JSON record and the mmap-able
    # int32-LE token ids — the pair a dataloader actually consumes.
    # export_tar_shards sweeps phantoms from prior runs in the fixed dir
    return sh.export_tar_shards(
        records, out, "doc_id", {"json": "record", "bin": "ids_bin"},
        n_shards=4, max_items=64,
    )


# One SQL text, two engines: the query below is ANSI enough to run
# verbatim as Spark SQL (via the views surface in sql.py) AND as its
# own DuckDB oracle — demonstrating that the SQL front-end shares the
# planner (and the correctness bar) with the DataFrame API.
_SQL_SURFACE_REVENUE = """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name
"""


@query("sql_surface_revenue", oracle=_SQL_SURFACE_REVENUE)
def sql_surface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc SQL entry point (sql.py): the SAME SQL text is executed
    by Spark SQL over the registered views and by DuckDB as the
    oracle. Decimal-exact revenue sum keeps the double cast
    order-independent across engines and executors."""
    from data_migration_etl_scripts_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_SURFACE_REVENUE)


_URL_INNER_SQL = """
    SELECT doc_id, concat(
        CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END,
        CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
        'Site', CAST(doc_id % 5 AS VARCHAR), '.Example.com',
        CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
        '/path/', CAST(doc_id % 20 AS VARCHAR),
        CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
        '?utm_source=feed&b=', CAST(doc_id % 5 AS VARCHAR),
        '&a=', CAST(doc_id % 5 AS VARCHAR),
        CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
    ) AS url FROM documents
"""


@query(
    "url_canonical_dedup",
    oracle=tx.url_dedup_sql(_URL_INNER_SQL, "doc_id", "url"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL dedup: canonicalize (case/www/default-port/
    trailing-slash/fragment/tracking-param/param-order noise) then
    keep one doc per canonical URL via a skew-safe min aggregate.
    URLs are constructed deterministically from doc_id so every
    canonicalization rule is exercised; the oracle builds the same
    strings."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Site"), s(d % 5), F.lit(".Example.com"),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/path/"), s(d % 20),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="), s(d % 5), F.lit("&a="), s(d % 5),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    return tx.url_dedup(docs, "doc_id", "url")


@query(
    "incremental_rollup_orders",
    oracle=__import__(
        "data_migration_etl_scripts_spark.operators.rollup", fromlist=["rollup_oracle_sql"]
    ).rollup_oracle_sql(
        "orders",
        {"month": "CAST(date_trunc('month', o_orderdate) AS DATE)", "status": "o_orderstatus"},
        ["o_totalprice"],
        avg_of=["o_totalprice"],
    ),
)
def incremental_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the monthly/status rollup is
    built from a simulated history slice, then each of three
    incremental batches is folded in by merging PARTIALS — history
    facts are scanned once, ever. The oracle is the straight one-shot
    aggregate over the full table; a green hash IS the proof that
    merge(rollup(h), rollup(b)) == rollup(h ∪ b)."""
    from data_migration_etl_scripts_spark.operators import rollup as ru

    # NOT _tspread: this query scans orders five times (watermark cut
    # + history + three batches) into TINY-keyed partial aggregates —
    # map-side combine already collapses each scan to ~rows(keys), so
    # five spread exchanges are pure overhead (measured 1.6 -> 3.0 s
    # with the spread on).
    orders = _t(spark, sf_dir, "orders").select(
        F.trunc(F.col("o_orderdate"), "month").alias("month"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
        "o_orderkey",
    )
    keys, measures = ["month", "status"], ["o_totalprice"]
    cut = orders.agg(F.max("o_orderkey")).first()[0] or 0
    history = orders.where(F.col("o_orderkey") <= cut * 7 // 10)
    state = ru.rollup_partials(history, keys, measures)
    for lo, hi in ((7, 8), (8, 9), (9, 10)):  # three watermark batches
        batch = orders.where(
            (F.col("o_orderkey") > cut * lo // 10)
            & (F.col("o_orderkey") <= cut * hi // 10)
        )
        state = ru.merge_partials(
            state, ru.rollup_partials(batch, keys, measures), keys, measures
        )
    return ru.rollup_read(state, measures, avg_of=measures)


@query(
    "skew_report_events",
    oracle=pf.skew_report_sql("events", "user_id", top=10),
)
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis for a join/agg key: top-10 heaviest user_ids
    with row share and skew factor (count / mean-per-key). One
    map-side-partial count, a broadcast single-row summary, and
    TakeOrderedAndProject — no global sort at any key cardinality.
    This is the measurement that decides salting / AQE skew-split /
    bucketing before a 100 TB join."""
    return pf.skew_report(_t(spark, sf_dir, "events"), "user_id", top=10)


@query(
    "expectations_orders",
    oracle="""
    SELECT 'custkey_not_null' AS check_name,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'status_domain',
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_fk', CAST(count(*) AS BIGINT)
    FROM orders o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over orders — not-null,
    value-domain, FK relationship, and unique-key checks — ALL folded
    into one aggregate over one scan (FK dims broadcast in as null
    markers). Generalizes the reference's 25 hand-rolled RI asserts
    (e.g. Main_Modules/Locations/locations.py:108-111) to the dbt-style
    check vocabulary; the oracle computes each check naively."""
    from data_migration_etl_scripts_spark.operators import expectations as ex

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return ex.expectation_report(
        orders,
        row_checks={
            "custkey_not_null": ex.not_null("o_custkey"),
            "status_domain": ex.accepted_values("o_orderstatus", ["O", "F", "P"]),
        },
        unique_keys={"orderkey_unique": ["o_orderkey"]},
        fk_checks={"custkey_fk": (customer, "o_custkey", "c_custkey")},
    )


@query(
    "ann_recall_ivf",
    oracle=sim.recall_at_k_sql(
        sim.cosine_topk_ivf_sql("embeddings", "vec_id < 8", k=5, n_centroids=8),
        sim.cosine_topk_bruteforce_sql("embeddings", "vec_id < 8", k=5),
        k=5,
    ),
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN against exact brute-force, per query —
    the approximate-search tradeoff MEASURED inside the engine. The
    comparison joins only the two top-k result sets (O(k·queries));
    the corpus is never rescanned. Queries the IVF cell probe misses
    entirely surface as recall 0 rather than vanishing."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    approx = sim.cosine_topk_ivf(emb, queries_df, k=5, n_centroids=8, cache=sf_dir)
    exact = sim.cosine_topk_bruteforce(emb, queries_df, k=5)
    return sim.recall_at_k(approx, exact, k=5)


@query(
    "duplicate_spans_docs",
    oracle=tx.duplicate_spans_sql("documents", "doc_id", "text", window_tokens=12),
)
def duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication spans (suffix-array-dedup stand-in):
    12-token sliding windows hashed, corpus-wide duplicated windows
    flagged, flagged positions merged into maximal per-doc spans. Map-
    side hashing; shuffles carry only window hashes and flagged
    positions."""
    return tx.duplicate_spans(
        _tspread(spark, sf_dir, "documents"), "doc_id", "text", window_tokens=12
    )


from data_migration_etl_scripts_spark.operators import textprep as tp  # noqa: E402


@query(
    "corpus_composition",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang, source, len({{toks}}) AS n_tok FROM documents
    ),
    grouped AS (
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM per_doc GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_tokens,
           round(n_tokens / CAST((SELECT sum(n_tokens) FROM grouped) AS DOUBLE), 6)
               AS token_share
    FROM grouped
    """.format(toks=tp.tokens_sql("text")),
)
def corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-card composition report: docs, tokens, and token share
    per (language, source). One scan + a stratum-cardinality agg; the
    global total is a broadcast single row, so the report costs the
    same at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    grouped = docs.select(
        "lang", "source", F.size(tp.tokens("text")).alias("n_tok")
    ).groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    total = grouped.agg(F.sum("n_tokens").alias("tot"))
    return grouped.crossJoin(F.broadcast(total)).select(
        "lang", "source", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot").cast("double"), 6).alias("token_share"),
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two fact joins -> grouped
    decimal-exact revenue -> top-10 via TakeOrderedAndProject (the
    orderBy+limit compiles to a per-partition top-k, never a global
    sort). Filters push to all three scans; the l_orderkey total order
    tie-break keeps ranking deterministic cross-engine."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "sample_cluster_balanced",
    oracle=cu.sample_cluster_balanced_sql(
        "embeddings", n_clusters=8, budget_per_cluster=50
    ),
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced corpus subsample: embedding k-means clusters
    (seeded, map-side literal-expression assignment — zero shuffles)
    capped at 50 docs each via per-cluster md5 thresholds — topic skew
    flattened deterministically across runs, engines, partitionings."""
    return cu.sample_cluster_balanced(
        _t(spark, sf_dir, "embeddings"), n_clusters=8, budget_per_cluster=50
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star join where only LOCAL commerce
    counts (customer and supplier share a nation). region/nation
    broadcast and prune the supplier side before any fact shuffle
    (runtime bloom/DPP at scale); revenue sums in DECIMAL partials so
    1000-executor merge order cannot drift the result."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): quarter-scoped orders
    join returned line items, customer + nation dims broadcast, top-20
    lost-revenue customers via TakeOrderedAndProject — per-partition
    top-k, never a global sort."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "dedup_remove_runs",
    oracle=tx.remove_duplicate_runs_sql("documents", "doc_id", "text", window_tokens=12),
)
def dedup_remove_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring REMOVAL (keep-first-occurrence):
    tokens inside duplicated 12-token runs are stripped everywhere but
    the run's first occurrence, and every document comes back with its
    cleaned text and kept/removed counts — the rewrite stage that
    follows duplicate_spans detection, entirely distributed."""
    return tx.remove_duplicate_runs(
        _tspread(spark, sf_dir, "documents"), "doc_id", "text", window_tokens=12
    )


@query(
    "dedup_remove_runs_exact",
    oracle=tx.remove_duplicate_runs_sql(
        "documents", "doc_id", "text", window_tokens=12, policy="exact"
    ),
)
def dedup_remove_runs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Owner-protected exact keep-first rewrite (policy="exact"): first
    occurrences keep ALL their tokens — a token is removed only when
    covered by a flagged window and by no owner window. Same plan shape
    as the window policy (one coverage explode + one aggregation);
    divergence of the window policy vs this is pinned at ~6% on
    adversarial corpora by tests/test_remove_runs_property.py."""
    return tx.remove_duplicate_runs(
        _tspread(spark, sf_dir, "documents"), "doc_id", "text",
        window_tokens=12, policy="exact",
    )


@query(
    "ann_recall_bucketed",
    oracle=sim.recall_at_k_sql(
        sim.cosine_topk_bucketed_sql("embeddings", "vec_id < 8", k=5),
        sim.cosine_topk_bruteforce_sql("embeddings", "vec_id < 8", k=5),
        k=5,
    ),
)
def ann_recall_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH bucketed ANN vs exact brute force —
    together with ann_recall_ivf this measures both approximate search
    paths, so the bucket-vs-cell tradeoff is a number, not a claim."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    approx = sim.cosine_topk_bucketed(emb, queries_df, k=5)
    exact = sim.cosine_topk_bruteforce(emb, queries_df, k=5)
    return sim.recall_at_k(approx, exact, k=5)


# ---------------------------------------------------------------------------
# TPC-H decision-support suite (q4..q22, adapted to the slim schema) —
# registered on import; q1/q3/q5/q10 live above.
from data_migration_etl_scripts_spark import tpch as _tpch  # noqa: E402,F401


@query(
    "ivm_join_orders_customer",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_nationkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def ivm_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/ivm.py): the
    orders x customer view is built from a 70% history slice, then
    three fact batches and two LATE dim batches fold in via the delta
    algebra dV = (dF x D_new) + (F_old x dD) — history is re-touched
    only by broadcast dim deltas, never rejoined wholesale. The oracle
    is the one-shot join; a green hash proves every (old, new)
    quadrant lands exactly once, including orders that arrived before
    their customer row did."""
    from data_migration_etl_scripts_spark.operators import ivm

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    cut_o = orders.agg(F.max("o_orderkey")).first()[0] or 0
    cut_c = cust.agg(F.max("o_custkey")).first()[0] or 0
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    f_batches = [
        orders.where(ok <= cut_o * 7 // 10),
        orders.where((ok > cut_o * 7 // 10) & (ok <= cut_o * 8 // 10)),
        orders.where((ok > cut_o * 8 // 10) & (ok <= cut_o * 9 // 10)),
        orders.where(ok > cut_o * 9 // 10),
    ]
    d_batches = [  # dim arrives LATER than the facts that reference it
        cust.where(ck <= cut_c // 2),
        cust.where((ck > cut_c // 2) & (ck <= cut_c * 8 // 10)),
        cust.where(ck > cut_c * 8 // 10),
    ]
    view = ivm.maintain_join(f_batches, d_batches, on="o_custkey")
    return view.select(
        "o_orderkey", "o_custkey", "c_name", "c_nationkey", "o_totalprice"
    )


_SFT_TURN_SQL = (
    "'<|' || CASE WHEN event_type IN ('click', 'view') THEN 'user' "
    "ELSE 'assistant' END || '|> ' || event_type || ' ' || props"
)


@query(
    "sft_render_conversations",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, props,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    turns AS (
        SELECT user_id, ts, event_id,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id,
               {_SFT_TURN_SQL} AS turn,
               CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END
                   AS is_assistant
        FROM seq
    )
    SELECT user_id || '-' || session_id AS conv_id,
           count(*) AS n_turns,
           string_agg(turn, ' ' ORDER BY ts, event_id) AS rendered,
           count(*) * 3 AS n_tokens,
           sum(is_assistant) * 3 AS n_assistant_tokens
    FROM turns
    GROUP BY conv_id
    """,
)
def sft_render_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering: event sessions (30-min gap) become
    conversations, events become role-tagged turns (interaction events
    = user, system events = assistant), rendered in event order into
    one template string with per-conversation token and LOSS-MASK
    counts (assistant tokens only — the half that trains). The whole
    pipeline is one window pass + one ordered group aggregate; at
    100 TB both shuffles key on user/session, never global.

    NOT _tspread: the session window re-shuffles by user_id
    immediately, so a spread exchange ahead of it is pure overhead
    (sft_pack measured 0.8 -> 1.5 s with it on)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    is_assistant = (~F.col("event_type").isin("click", "view")).cast("int")
    turn = F.concat(
        F.lit("<|"),
        F.when(F.col("event_type").isin("click", "view"), "user").otherwise("assistant"),
        F.lit("|> "), F.col("event_type"), F.lit(" "), F.col("props"),
    )
    turns = ev.select(
        "user_id", "ts", "event_id",
        F.sum(new_session).over(w).alias("session_id"),
        turn.alias("turn"),
        is_assistant.alias("is_assistant"),
    )
    return (
        turns.groupBy(
            F.concat_ws("-", "user_id", "session_id").alias("conv_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "turn"))
                    ),
                    lambda s: s["turn"],
                ),
                " ",
            ).alias("rendered"),
            (F.count(F.lit(1)) * 3).alias("n_tokens"),
            (F.sum("is_assistant") * 3).alias("n_assistant_tokens"),
        )
    )


@query("embed_pca_whiten")  # no SQL oracle: eigendecomposition has no
# SQL form — range-asserted in tools/selfcheck.py (_range_pca_whiten:
# whitened covariance == I, exact linearity in the input, top-k
# subspace alignment against an independent numpy recompute)
def embed_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embedding column (operators/embed.py):
    the decorrelation/dim-reduction stage before ANN indexing or
    clustering — whitened cosine = Mahalanobis similarity. Fit is one
    bounded stats reduce (per-partition numpy Gram partials inside
    mapInPandas; the driver merges #partitions rows, never data);
    apply is a pure map-side generated-literal projection. Top-16 of
    64 dims, eps 1e-6, sign-fixed eigenvectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return em.pca_whiten(emb, in_dim=64, out_dim=16)


@query(
    "bloom_prefilter_revenue",
    oracle="""
    SELECT n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY n_name
    """,
)
def bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual Bloom runtime filter (operators/scale.py): the BUILDING
    customer keys build an 8 KiB bitmap (bounded bit_or aggregate);
    the orders scan drops definite-nonmembers with pure bit math
    BEFORE any shuffle, then the EXACT join keeps semantics identical
    — the oracle is the plain join, so a green hash proves the filter
    admits every member. This is the fact-scan pruning move for when
    the dim keyset outgrows an IN-list but the fact shuffle is the
    cost center; false positives only cost, never corrupt."""
    from data_migration_etl_scripts_spark.operators import scale as sc

    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey", "c_nationkey")
    bitmap = sc.bloom_bitmap(cust, "c_custkey", n_bits=8192, n_hashes=3)
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    prefiltered = orders.where(sc.bloom_might_contain("o_custkey", bitmap))
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        prefiltered.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
    )


_SFT_CONV_SQL = """
    SELECT user_id * 100000 + session_id AS conv_key,
           count(*) * 3 AS conv_tokens,
           sum(is_assistant) * 3 AS mask_tokens
    FROM (
        SELECT user_id, ts, event_id,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id,
               CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END
                   AS is_assistant
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
    )
    GROUP BY conv_key
"""


@query(
    "sft_pack_conversations",
    oracle=cu.pack_sequences_sql(
        _SFT_CONV_SQL, "conv_key", "conv_tokens", capacity=64, n_shards=8
    ).replace("SELECT conv_key, shard, n_tokens,",
              "SELECT conv_key, shard, n_tokens, mask_tokens,")
    .replace("SELECT conv_key, conv_key % 8 AS shard,",
             "SELECT conv_key, mask_tokens, conv_key % 8 AS shard,"),
)
def sft_pack_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT sequence packing with loss-mask accounting: conversations
    (session windows over events, 3 tokens per turn) pack into 64-token
    bins per shard — concat-and-chunk layout, per-shard running-sum
    window, no global sort — with each conversation's assistant-token
    (mask) count riding along. Composes the sessionization window with
    the pack operator; the oracle replays the identical composition in
    SQL, so the whole chain hash-matches end to end. NOT _tspread —
    see sft_render_conversations (window re-shuffles by user anyway)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    turns = ev.select(
        "user_id",
        F.sum(new_session).over(w).alias("session_id"),
        (~F.col("event_type").isin("click", "view")).cast("int").alias("is_assistant"),
    )
    convs = turns.groupBy(
        (F.col("user_id") * 100000 + F.col("session_id")).alias("conv_key")
    ).agg(
        (F.count(F.lit(1)) * 3).alias("conv_tokens"),
        (F.sum("is_assistant") * 3).alias("mask_tokens"),
    )
    return cu.pack_sequences(
        convs, "conv_key", "conv_tokens", capacity=64, n_shards=8,
        keep_cols=["mask_tokens"],
    )


#: markdown fixture wrap — the SAME SQL expression builds the fixture
#: in both engines (chr(10) newlines parse identically), so extraction
#: output is fully hash-matched: fenced code, image/link syntax,
#: headers, quotes, lists, emphasis, a table row, a setext rule.
_MD_WRAP_SQL = (
    "'# ' || source || chr(10) || '===' || chr(10)"
    " || '> quoted intro' || chr(10)"
    " || '- item one' || chr(10) || '2. item two' || chr(10)"
    " || '```' || chr(10) || 'code(' || lang || ');' || chr(10) || '```' || chr(10)"
    " || replace(text, ' the ', ' **the** ')"
    " || chr(10) || '![alt text](/img/' || source || '.png)'"
    " || ' [see more](http://example.com/' || source || ') tail'"
    " || chr(10) || '| a | b |' || chr(10) || '---' || chr(10) || 'fin `x` end'"
)


@query(
    "markdown_extract_text",
    oracle=hx.extract_markdown_sql(
        f"(SELECT doc_id, {_MD_WRAP_SQL} AS md "
        "FROM documents WHERE text IS NOT NULL)",
        "doc_id", "md",
    ),
)
def markdown_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> prose text (operators/html.py markdown family): the
    README/issue/docs half of a code-adjacent corpus. Fenced code
    dropped but COUNTED (the structure signal a quality filter keys
    on), image/link syntax reduced to visible text, header/quote/
    list/rule markers stripped, asterisk emphasis unwrapped, table
    pipes and backticks removed, whitespace normalized — all pure
    column expressions, map-side at any corpus size. The fixture wraps
    every document in deterministic markdown built by the SAME SQL in
    both engines, so the output is fully hash-matched."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    md = docs.select("doc_id", F.expr(_MD_WRAP_SQL).alias("md"))
    return hx.extract_markdown(md, "doc_id", "md")


@query(
    "ivm_join_cdc_deletes",
    oracle="""
    SELECT o_orderkey, o_custkey, c_nationkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 10 <> 3 AND c_custkey % 17 <> 5
    """,
)
def ivm_join_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance under FULL CDC (operators/ivm.py
    maintain_join_cdc): after two insert batches, a delete batch
    retracts 10% of orders and 1/17 of customers — dim deletes CASCADE
    (every view row of a deleted customer retracts via one broadcast
    anti-join, never a rebuild) — then a final insert batch lands on
    the pruned state. The oracle is the one-shot join over the
    surviving sets; a green hash proves retraction and re-insert
    compose exactly."""
    from data_migration_etl_scripts_spark.operators import ivm

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    cut = orders.agg(F.max("o_orderkey")).first()[0] or 0
    ok = F.col("o_orderkey")
    batches = [
        {"f_ins": orders.where(ok <= cut * 6 // 10), "d_ins": cust},
        {"f_ins": orders.where((ok > cut * 6 // 10) & (ok <= cut * 8 // 10))},
        {
            "f_del": orders.where(ok % 10 == 3).select("o_orderkey"),
            "d_del": cust.where(F.col("o_custkey") % 17 == 5).select("o_custkey"),
        },
        {"f_ins": orders.where((ok > cut * 8 // 10) & (ok % 10 != 3))},
    ]
    view = ivm.maintain_join_cdc(
        batches, on="o_custkey", fact_key="o_orderkey", dim_key="o_custkey"
    )
    return view.select("o_orderkey", "o_custkey", "c_nationkey", "o_totalprice")


@query(
    "gapfill_monthly_revenue",
    oracle="""
    WITH bounds AS (
        SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
        FROM orders
    ),
    spine AS (
        SELECT n_name,
               CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 MONTH))
                    AS DATE) AS month
        FROM nation, bounds b
    ),
    actual AS (
        SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, month
    )
    SELECT s.n_name, s.month,
           CAST(coalesce(a.rev, 0) AS DOUBLE) AS revenue,
           CAST(sum(coalesce(a.rev, 0)) OVER (
               PARTITION BY s.n_name ORDER BY s.month
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
    FROM spine s LEFT JOIN actual a
      ON s.n_name = a.n_name AND s.month = a.month
    """,
)
def gapfill_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill (time-series densification): a month spine
    from the global order-date bounds cross-joins the nation dim, the
    actual monthly revenue left-joins onto it, missing months fill
    with 0, and the running total stays correct THROUGH the gaps —
    the report shape every BI layer needs and sparse group-bys can't
    give. The spine is bounds x dims (a broadcast cross of two tiny
    relations); the fact aggregates once; the window partitions by
    nation — no global sort at any history length. DECIMAL partials
    keep both the per-month and cumulative sums exact."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    bounds = orders.agg(
        F.trunc(F.min("o_orderdate"), "month").alias("lo"),
        F.trunc(F.max("o_orderdate"), "month").alias("hi"),
    )
    spine = (
        nation.crossJoin(F.broadcast(bounds))
        .select(
            "n_name",
            F.explode(
                F.expr("sequence(lo, hi, interval 1 month)")
            ).alias("month"),
        )
    )
    actual = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.trunc("o_orderdate", "month").alias("month"))
        .agg(F.sum("price").alias("rev"))
    )
    w = (
        Window.partitionBy(spine.n_name)
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = spine.join(
        actual,
        (spine.n_name == actual.n_name) & (spine.month == actual.month),
        "left",
    ).select(
        spine.n_name.alias("n_name"),
        spine.month.alias("month"),
        F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)")).alias("rev0"),
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "n_name", "month",
        F.col("rev0").cast("double").alias("revenue"),
        F.sum("rev0").over(w).cast("double").alias("cum_revenue"),
    )


@query(
    "cube_revenue",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all 2^2 grouping combinations in ONE pass —
    Spark expands the grouping sets map-side (Expand node), so the
    fact scans once however many combinations roll up. NULL grouping
    markers coalesce to 'ALL' so the hash is engine-agnostic."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders", "revenue",
        )
    )


@query(
    "histogram_prices",
    oracle="""
    WITH b AS (SELECT 0.0 AS lo, 600000.0 AS hi, 24 AS n)
    SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / n)),
                      n - 1) AS BIGINT) AS bucket,
           count(*) AS n_rows,
           CAST(min(o_totalprice) AS DOUBLE) AS lo_seen,
           CAST(max(o_totalprice) AS DOUBLE) AS hi_seen
    FROM orders, b
    GROUP BY bucket
    """,
)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value: fixed [0, 600k) domain in
    24 buckets (top bucket clamps the tail) — one map-side bucket
    expression + one count shuffle, the profile primitive dashboards
    bin with. Same floor arithmetic both engines: identical IEEE."""
    orders = _t(spark, sf_dir, "orders")
    width = (600000.0 - 0.0) / 24
    bucket = F.least(
        F.floor((F.col("o_totalprice") - 0.0) / width), F.lit(23)
    ).cast("long")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").cast("double").alias("lo_seen"),
        F.max("o_totalprice").cast("double").alias("hi_seen"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort
        FROM events GROUP BY user_id
    )
    SELECT cohort,
           datediff('day', cohort, CAST(date_trunc('day', ts) AS DATE))
               AS day_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-activity day,
    activity counted per (cohort, day offset) — the product-analytics
    table every growth dashboard draws. First-touch is one min-agg
    (broadcastable per-user relation); the matrix is one distinct-agg
    keyed by (cohort, offset) — both shuffles user-keyed, no window."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        ev.join(firsts, "user_id")
        .groupBy("cohort", F.datediff("day", "cohort").alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH stage AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS viewed,
           sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS clicked_after_view,
           sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_buy > t_click
                    THEN 1 ELSE 0 END) AS purchased_in_order
    FROM stage
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): per-user
    first-touch per stage via conditional min aggregates — ONE grouped
    pass over events, no window, no self-join — then the strictly-
    ordered conversion counts. NULL-safe ordering: a missing earlier
    stage disqualifies later ones (SQL NULL comparison semantics match
    engines exactly)."""
    ev = _t(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    bought = clicked & (F.col("t_buy") > F.col("t_click"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("int")).alias("viewed"),
        F.sum(clicked.cast("int")).alias("clicked_after_view"),
        F.sum(bought.cast("int")).alias("purchased_in_order"),
    )


@query(
    "mad_outlier_flags",
    oracle="""
    WITH med AS (
        SELECT event_type,
               median(value) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               any_value(m.med) AS med,
               median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           CASE WHEN abs(e.value - m.med) > 3.0 * m.mad
                THEN 1 ELSE 0 END AS is_outlier
    FROM events e JOIN mad m ON e.event_type = m.event_type
    WHERE abs(e.value - m.med) > 3.0 * m.mad
    """,
)
def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection per event type: two exact
    per-group percentile aggregates (group cardinality = event types,
    broadcastable), then a map-side |x - med| > 3*MAD flag over the
    fact — the quality screen that survives heavy-tailed value
    distributions where mean/stddev flags everything. At 100 TB swap
    median for percentile_approx (t-digest) — same plan shape."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad"))
        .select(
            "event_id", "event_type",
            F.col("value").cast("double").alias("value"),
            F.lit(1).alias("is_outlier"),
        )
    )


@query(
    "dup_graph_triangles",
    oracle=f"""
    WITH edges AS (
        SELECT doc_a, doc_b FROM (
            {dd.minhash_lsh_pairs_sql("documents", "doc_id", "text", k=12, bands=4)}
        )
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.doc_b = e2.doc_a
    JOIN edges e3 ON e2.doc_b = e3.doc_b AND e1.doc_a = e3.doc_a
    WHERE e1.doc_a < e1.doc_b AND e2.doc_a < e2.doc_b
    """,
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup graph — the transitivity
    diagnostic that justifies (or indicts) collapsing dup clusters:
    high triangle density means near-dup is behaving like an
    equivalence relation, sparse triangles mean chains that cluster-
    collapse would over-merge. Edges come from the session-shared
    minhash pair stage (build-once); counting is the canonical
    oriented 3-way self-join over a<b ordered edges — each triangle
    counted exactly once, never an all-pairs blowup because the edge
    relation is already O(near-dups)."""
    pairs = _minhash_pairs_stage(spark, sf_dir).select("doc_a", "doc_b")
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e2.doc_b") == F.col("e3.doc_b"))
            & (F.col("e1.doc_a") == F.col("e3.doc_a")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return tri.crossJoin(
        F.broadcast(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
    )


@query(
    "moving_avg_revenue",
    oracle="""
    WITH monthly AS (
        SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, month
    )
    SELECT n_name, month, CAST(rev AS DOUBLE) AS revenue,
           CAST(avg(CAST(rev AS DOUBLE)) OVER (
               PARTITION BY n_name ORDER BY month
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS revenue_ma3
    FROM monthly
    """,
)
def moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month trailing moving average of nation revenue — the
    smoothing window every trend report runs. Frame-bounded window per
    nation (never global); monthly partials are DECIMAL-exact, the
    average divides identically in both engines because each frame
    averages the SAME <=3 doubles in the SAME order."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.trunc("o_orderdate", "month").alias("month"))
        .agg(F.sum("price").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("month").rowsBetween(-2, 0)
    return monthly.select(
        "n_name", "month",
        F.col("rev").cast("double").alias("revenue"),
        F.avg(F.col("rev").cast("double")).over(w).alias("revenue_ma3"),
    )


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               round(ln(length(text) + 2), 9) AS w,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wpri'),
                                     1, 13)) AS BIGINT) / 4503599627370496.0)
                   AS u
        FROM documents
    )
    SELECT doc_id, w,
           round(-ln(1.0 - u) / w, 9) AS priority
    FROM scored
    ORDER BY priority, doc_id
    LIMIT 100
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (Efraimidis-Spirakis A-Res, keyed
    form): each doc draws a deterministic md5 uniform and keeps key
    -ln(1-u)/w — the k SMALLEST keys are a weighted-without-replacement
    sample, here weight = ln(doc length). One map-side expression +
    TakeOrderedAndProject: no shuffle, no state, reproducible across
    engines/partitionings (the md5 uniform and the rounded key are
    bit-identical; doc_id tiebreak pins boundary order)."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit(":wpri"))), 1, 13), 16, 10)
        .cast("double") / F.lit(4503599627370496.0)
    )
    w = F.round(F.log(F.length("text") + 2), 9)
    scored = docs.select(
        "doc_id", w.alias("w"),
        F.round(-F.log(F.lit(1.0) - u) / w, 9).alias("priority"),
    )
    return scored.orderBy("priority", "doc_id").limit(100)


@query("audio_mfcc_stack")  # no SQL oracle: FFT/DCT kernel — range-
# asserted by tools/selfcheck.py (_range_mfcc_stack): per-payload
# driver-side recompute of the full 24-dim stack fingerprint
def audio_mfcc_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic 3x-stacked acoustic front end (mel -> MFCC ->
    delta -> delta-delta, 24 dims/frame here) over the real-audio
    fixture — what an ASR/audio-LM training pipeline actually ships
    next to the tokenized text. One Arrow-batched mapInPandas pass per
    clip (operators/melspec.py audio_mfcc_stack); the frames x dims
    matrix travels as mmap-able float32-LE, fingerprinted here for a
    scalar output."""
    from data_migration_etl_scripts_spark.operators import melspec as msp
    from data_migration_etl_scripts_spark.operators import multimodal as mm

    media = mm.synthetic_real_media(spark, n=24, include_mpeg=True).where(
        F.col("media_type") == "audio"
    )
    stack = msp.audio_mfcc_stack(media, n_fft=256, hop=160, n_mels=16, n_mfcc=8)
    return stack.select(
        "media_id", "rate", "n_frames", "n_dims",
        F.md5(F.col("mfcc_bin")).alias("mfcc_md5"),
    )


_FUZZY_PAIRS_SQL = """
    SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND substr(a.c_name, 1, 15) = substr(b.c_name, 1, 15)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


@query(
    "entity_resolution_customers",
    oracle=f"""
    WITH labels AS ({cu.dup_clusters_sql(_FUZZY_PAIRS_SQL)})
    SELECT coalesce(l.cluster_id, c.c_custkey) AS entity_id,
           count(*) AS n_members,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               AS total_acctbal,
           CAST(max(c.c_acctbal) AS DOUBLE) AS max_acctbal
    FROM customer c LEFT JOIN labels l ON c.c_custkey = l.doc_id
    GROUP BY entity_id
    HAVING count(*) > 1
    """,
)
def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked edit-distance candidate
    pairs (nation + name-prefix blocking, levenshtein <= 2) ->
    connected components (hash-min label propagation) -> GOLDEN RECORD
    aggregates per resolved entity (multi-member entities reported).
    The full record-linkage composition in one declared plan: the pair
    join is block-bounded, components touch only linked ids, and the
    final rollup is one grouped pass over customers joined to labels.
    The label join carries NO broadcast hint on purpose: the label set
    is dup-volume-bounded (tiny at any sane dup rate, so AQE picks a
    broadcast join at runtime), but a pathological corpus where most
    rows are dups would make a forced broadcast OOM where AQE's
    sort-merge fallback still completes. Oracle replays the identical
    chain with a recursive-CTE reachability."""
    from data_migration_etl_scripts_spark.operators import curation as cu2

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.substring(F.col("a.c_name"), 1, 15)
               == F.substring(F.col("b.c_name"), 1, 15))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        # prefix-invariant levenshtein on the post-block suffixes —
        # see fuzzy_name_pairs (bit-identical, ~36x cheaper per pair)
        .where(
            F.levenshtein(
                F.substring(F.col("a.c_name"), 16, 2**31 - 1),
                F.substring(F.col("b.c_name"), 16, 2**31 - 1),
            ) <= 2
        )
        .select(
            F.col("a.c_custkey").alias("doc_a"),
            F.col("b.c_custkey").alias("doc_b"),
        )
    )
    labels = cu2.dup_clusters(pairs)
    return (
        cust.join(labels, cust.c_custkey == labels.doc_id, "left")
        .groupBy(
            F.coalesce("cluster_id", "c_custkey").alias("entity_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double").alias("total_acctbal"),
            F.max("c_acctbal").cast("double").alias("max_acctbal"),
        )
        .where(F.col("n_members") > 1)
    )


@query(
    "minhash_calibration",
    oracle=f"""
    WITH pairs AS (
        {dd.minhash_lsh_pairs_sql("documents", "doc_id", "text", k=12, bands=4)}
    ),
    sh AS (
        SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest({__import__("data_migration_etl_scripts_spark.operators.textprep", fromlist=["word_shingles_sql"]).word_shingles_sql(__import__("data_migration_etl_scripts_spark.operators.textprep", fromlist=["tokens_sql"]).tokens_sql("text"), n=3)}) AS s
            FROM documents
        )
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, p.est_sim, count(*) AS ni
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.s = a.s
        GROUP BY p.doc_a, p.doc_b, p.est_sim
    ),
    scored AS (
        SELECT least(CAST(floor(i.est_sim * 10) AS BIGINT), 9) AS est_bucket,
               round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 9) AS jacc,
               i.est_sim
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT est_bucket, count(*) AS n_pairs,
           CAST(sum(CAST(jacc AS DECIMAL(20,10))) AS DOUBLE) / count(*)
               AS avg_exact_jaccard,
           CAST(sum(CAST(est_sim AS DECIMAL(20,10))) AS DOUBLE) / count(*)
               AS avg_estimate
    FROM scored GROUP BY est_bucket
    """,
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash family: every LSH
    candidate pair's signature-agreement ESTIMATE is binned and
    compared to its EXACT shingle Jaccard — the measurement that turns
    'k=12, bands=4' from a config into a validated operating point
    (is the unbiased estimator actually centered, bucket by bucket?).
    Exact intersections are computed only for candidate pairs (never
    all-pairs); per-pair ratios are identical IEEE in both engines and
    bucket averages go through DECIMAL sums. Rides the session-shared
    minhash pair stage."""
    from data_migration_etl_scripts_spark.operators import textprep as tp2

    pairs = _minhash_pairs_stage(spark, sf_dir)
    docs = _tspread(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(tp2.word_shingles(tp2.tokens("text"), n=3)).alias("s"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "est_sim")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select(
            F.least(F.floor(F.col("est_sim") * 10).cast("long"), F.lit(9))
            .alias("est_bucket"),
            F.round(
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni")), 9
            ).alias("jacc"),
            "est_sim",
        )
    )
    dec = "decimal(20,10)"
    return scored.groupBy("est_bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum(F.col("jacc").cast(dec)).cast("double")
         / F.count(F.lit(1))).alias("avg_exact_jaccard"),
        (F.sum(F.col("est_sim").cast(dec)).cast("double")
         / F.count(F.lit(1))).alias("avg_estimate"),
    )


#: PII fixture wrap: deterministic emails injected into each doc's text
#: by the SAME SQL in both engines; the source-derived address repeats
#: ACROSS documents, which is exactly what consistent pseudonymization
#: must preserve (same address -> same tag corpus-wide).
_PII_WRAP_SQL = (
    "'contact ' || source || '@example.com asap: ' || text"
    " || ' cc backup.' || lang || '@mail.test end'"
)


@query(
    "pii_pseudonymize_consistent",
    oracle=tx.pseudonymize_emails_sql(
        f"(SELECT doc_id, {_PII_WRAP_SQL} AS wrapped "
        "FROM documents WHERE text IS NOT NULL)",
        "doc_id", "wrapped",
    ),
)
def pii_pseudonymize_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage-preserving PII scrubbing: every email becomes a hashed
    placeholder that is a pure function of the VALUE — the same
    address gets the same tag in every document, so co-occurrence
    analysis and dedup survive redaction (uniform masks destroy
    that signal). Split/tag/re-interleave as higher-order column
    expressions: zero UDFs, zero shuffles, no cross-document state.
    The fixture injects source-keyed addresses that repeat across
    docs, and the output is fully hash-matched."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    wrapped = docs.select("doc_id", F.expr(_PII_WRAP_SQL).alias("wrapped"))
    return tx.pseudonymize_emails(wrapped, "doc_id", "wrapped")


@query(
    "drift_psi_order_value",
    oracle=dfo.psi_drift_sql(
        "SELECT o_totalprice FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'",
        "SELECT o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'",
        "o_totalprice", 0.0, 600000.0,
    ),
)
def drift_psi_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring (PSI): order-value distribution of
    the pre-1998 history vs everything after, per fixed bucket — the
    retrain/alert trigger every production scoring pipeline runs
    (total PSI > 0.2 = investigate) with per-bucket terms localizing
    WHERE the distribution moved. Two count aggregates + a broadcast
    10-row join; scan-bound at any snapshot size."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderdate") < _tpch_ts(spark, "1998-01-01"))
    cur = orders.where(F.col("o_orderdate") >= _tpch_ts(spark, "1998-01-01"))
    return dfo.psi_drift(base, cur, "o_totalprice", 0.0, 600000.0)


def _tpch_ts(spark, s: str):
    return F.lit(s + " 00:00:00").cast("timestamp")


@query(
    "trend_slope_revenue",
    oracle="""
    WITH monthly AS (
        SELECT n_name,
               CAST(datediff('month', DATE '1995-01-01',
                             CAST(date_trunc('month', o_orderdate) AS DATE))
                    AS BIGINT) AS x,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, x
    )
    SELECT n_name,
           count(*) AS n_months,
           round(CAST((count(*) * sum(x * y) - sum(x) * sum(y)) AS DOUBLE)
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
               AS slope_per_month
    FROM monthly GROUP BY n_name
    """,
)
def trend_slope_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue TREND via closed-form OLS over monthly
    totals: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) — regression as
    pure aggregation, no iteration, no driver round-trip. Month totals
    are DECIMAL-exact and x is an integer index, so every moment sum
    is exact under any partitioning; one double division at the end.
    The trend-detection primitive behind every 'which segments are
    growing' report."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.months_between(
            F.trunc("o_orderdate", "month"), F.lit("1995-01-01")
        ).cast("long").alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "x")
        .agg(F.sum("price").alias("y"))
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    return monthly.groupBy("n_name").agg(
        n.alias("n_months"),
        F.round(
            (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx), 6
        ).alias("slope_per_month"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT prev, event_type AS next, count(*) AS n,
           round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY prev),
                 6) AS p_next_given_prev
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, next
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov matrix: P(next event | previous
    event) from per-user ordered streams — one user-partitioned lag
    window + one grouped count, with the row-normalization as a window
    over the 5x5 aggregate (never the fact). The path-analysis
    primitive behind funnels, next-action prediction baselines, and
    bot detection."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    counts = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev")
    return counts.select(
        "prev", "next", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6)
        .alias("p_next_given_prev"),
    )


def _cms_bucket_sql(expr: str, depth: int, width: int) -> str:
    """md5-derived CMS bucket for row ``depth`` (engine-shared)."""
    return (
        f"CAST(('0x' || substr(md5({expr} || ':cms{depth}'), 1, 13)) AS BIGINT)"
        f" % {width}"
    )


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tp.tokens_sql("text")}) AS tok FROM documents
    ),
    exact AS (
        SELECT tok, count(*) AS exact_n,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
        FROM toks GROUP BY tok
    ),
    cms AS (
        SELECT d, bucket, count(*) AS c FROM (
            SELECT unnest([0, 1, 2, 3]) AS d,
                   unnest([{_cms_bucket_sql('tok', 0, 512)},
                           {_cms_bucket_sql('tok', 1, 512)},
                           {_cms_bucket_sql('tok', 2, 512)},
                           {_cms_bucket_sql('tok', 3, 512)}]) AS bucket
            FROM toks
        ) GROUP BY d, bucket
    )
    SELECT e.tok, e.exact_n, min(c.c) AS cms_estimate
    FROM exact e
    JOIN cms c ON (
        (c.d = 0 AND c.bucket = {_cms_bucket_sql('e.tok', 0, 512)}) OR
        (c.d = 1 AND c.bucket = {_cms_bucket_sql('e.tok', 1, 512)}) OR
        (c.d = 2 AND c.bucket = {_cms_bucket_sql('e.tok', 2, 512)}) OR
        (c.d = 3 AND c.bucket = {_cms_bucket_sql('e.tok', 3, 512)})
    )
    WHERE e.rn <= 20
    GROUP BY e.tok, e.exact_n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters: the mergeable frequency sketch
    (depth 4 x width 512 counters) built in ONE grouped pass over the
    exploded tokens — 2048 counter rows out, map-side combined, so
    1000 executors merge by ADDING counters (the property exact
    counts lack at stream scale). Point estimates = min over the 4
    rows; one-sided error (estimate >= exact, within eN/width w.h.p.),
    checked here against the exact top-20. Deterministic md5 bucket
    hashes make the whole sketch SQL-expressible — the oracle
    hash-matches every counter."""
    from data_migration_etl_scripts_spark.operators import cms as cm

    docs = _tspread(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tp.tokens("text")).alias("tok"))
    sketch = cm.cms_sketch(toks, "tok", depth=4, width=512)
    exact = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    )
    return cm.cms_estimate(exact, sketch, "tok", depth=4, width=512) \
        .withColumnRenamed("est", "cms_estimate")


# ------------------------------------------------ SQL tier-3 surfaces


_SQL_RECURSIVE_REACH = """
    WITH RECURSIVE reach(node, root) AS (
        SELECT n_nationkey, n_nationkey FROM nation WHERE n_nationkey < 10
        UNION
        SELECT n.n_nationkey, r.root
        FROM nation n JOIN reach r ON n.n_nationkey = r.node + 10
    )
    SELECT root, count(*) AS n_reached, max(node) AS deepest
    FROM reach GROUP BY root
"""


@query("sql_recursive_reachability", oracle=_SQL_RECURSIVE_REACH)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 tier-3 surface under the full hash oracle: a WITH RECURSIVE
    UNION-distinct reachability (5 chains over the nation keys) runs
    natively in DuckDB and through the engine's iterative
    materialization executor (sql._exec_recursive — per-round
    distinct + anti-join + localCheckpoint, the PageRank loop
    discipline) in Spark. Same text, both engines, one pinned answer
    — the executor itself is on the oracle board, not just
    pytest-pinned."""
    from data_migration_etl_scripts_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_RECURSIVE_REACH, dialect="duckdb")


_SQL_ASOF_VIEW_ATTRIBUTION = """
    SELECT l.event_id AS event_id, l.user_id AS user_id,
           l.value AS cart_value,
           r.event_id AS prior_view_id, r.value AS prior_view_value
    FROM (SELECT event_id, ts, user_id, value FROM events
          WHERE event_type = 'signup') l
    ASOF LEFT JOIN (SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, ts ORDER BY event_id DESC
            ) AS __rn FROM (SELECT event_id, ts, user_id, value
                            FROM events WHERE event_type = 'view')
        ) WHERE __rn = 1) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@query("sql_asof_attribution", oracle=_SQL_ASOF_VIEW_ATTRIBUTION)
def sql_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 tier-3 surface under the full hash oracle: ASOF LEFT JOIN
    (latest prior view per signup, per user; right side deduped per
    (user, ts) so the as-of pick is deterministic) runs natively in
    DuckDB and through sql._exec_asof (inequality join + row_number
    over a synthesized left-row id) in Spark."""
    from data_migration_etl_scripts_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_ASOF_VIEW_ATTRIBUTION,
                   dialect="duckdb")
