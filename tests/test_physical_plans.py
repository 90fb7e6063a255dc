"""Physical-plan shape assertions: the properties that make these
plans survive a 100 TB scale-up — filter/projection pushdown into the
parquet scan, broadcast joins for dim lookups, no cartesian products
where an equi-join is intended, whole-stage codegen coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import queries as q

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = q.q1_pricing_summary(spark, SF)
    p = plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_column_pruning_reaches_scan(spark):
    df = q.q1_pricing_summary(spark, SF)
    p = plan(df)
    # only the 7 needed columns are read, not all 16 lineitem columns
    assert "l_comment" not in p
    assert "l_orderkey" not in p


def test_dim_lookup_joins_broadcast(spark):
    p = plan(q.fk_remap_orders_customer(spark, SF))
    assert "BroadcastHashJoin" in p
    p = plan(q.nation_pair_revenue(spark, SF))
    assert p.count("BroadcastHashJoin") >= 4  # customer, supplier, 2x nation


def test_semi_join_is_a_join_not_subquery_rescan(spark):
    p = plan(q.semi_join_hot_orders(spark, SF))
    assert "LeftSemi" in p


def test_anti_join_native(spark):
    p = plan(q.anti_join_customers_no_orders(spark, SF))
    assert "LeftAnti" in p


def test_no_cartesian_in_equi_joins(spark):
    for name in [
        "fk_remap_orders_customer",
        "nation_pair_revenue",
        "preagg_join_order_totals",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
    ]:
        p = plan(q.all_queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_partial_aggregation_before_shuffle(spark):
    # HashAggregate appears twice (partial + final) around the exchange
    p = plan(q.q1_pricing_summary(spark, SF))
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in p


def test_wholestage_codegen_covers_agg_pipeline(spark):
    df = q.q1_pricing_summary(spark, SF)
    df.collect()  # AQE finalizes the plan only after execution
    p = plan(df)
    assert "isFinalPlan=true" in p
    # '*(n)' operator prefixes = whole-stage-codegen stages; both the
    # partial (map-side) and final aggregate must be inside codegen
    assert "*(1) HashAggregate" in p and "*(2) HashAggregate" in p


def test_watermark_scan_prunes_with_pushed_range(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") > 1000)
        .select("o_orderkey", "o_totalprice")
    )
    p = plan(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,1000)]" in p


def test_topk_uses_window_not_global_sort(spark):
    p = plan(q.all_queries()["topk_parts_per_brand"](spark, SF))
    assert "RunningWindowFunction" in p or "Window" in p
    # partitioned window sort, not a global Sort of everything to one node
    assert "Exchange hashpartitioning(p_brand" in p


# ------------------------------------------------------- scale shaping


def test_salted_join_same_result_no_hot_partition(spark):
    from data_migration_etl_scripts_spark.operators.scale import salted_join

    facts = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")
    dim = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = facts.join(dim, "o_custkey", "left")
    salted = salted_join(facts, dim, on="o_custkey", how="left", salt=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # the join key is widened with the salt column
    assert "__salt" in optimized(salted.select("o_orderkey"))


def test_bucketed_join_avoids_exchange(spark, tmp_path):
    from data_migration_etl_scripts_spark.operators.scale import (
        read_bucketed,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=4,
                   sort_cols=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["o_orderkey"], num_buckets=4,
                   sort_cols=["o_orderkey"])
    try:
        a = read_bucketed(spark, "b_orders")
        b = read_bucketed(spark, "b_lineitem")
        # force SMJ (broadcast would hide the bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p = plan(a.join(b, "o_orderkey"))
            assert "SortMergeJoin" in p
            # identical bucketing on both sides: no shuffle at all
            assert "Exchange" not in p
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    from data_migration_etl_scripts_spark.catalog import Catalog

    cat = Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))
    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "status", F.col("o_orderstatus")
    )
    cat.write(orders, "orders_part", partition_by=["status"],
              sort_within_partitions=["o_orderkey"])

    df = cat.read("orders_part").where(F.col("status") == "O").select("o_orderkey")
    p = plan(df)
    # the predicate lands in PartitionFilters (directory skip), not a scan filter
    assert "PartitionFilters" in p
    assert "status" in p.split("PartitionFilters")[1][:200]
    n_part = cat.read("orders_part").where(F.col("status") == "O").count()
    n_plain = orders.where(F.col("o_orderstatus") == "O").count()
    assert n_part == n_plain


def test_top_tokens_compiles_to_take_ordered(spark):
    """top_tokens must be a per-partition top-k merge
    (TakeOrderedAndProject), never a global single-partition window —
    at corpus scale the vocabulary is 1e8+ rows (VERDICT r1 #3)."""
    p = plan(q.all_queries()["top_tokens"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_fact_joins_carry_no_forced_broadcast_hint(spark):
    """nation_pair_revenue / inner_join_brand_revenue: fact-sized sides
    (customer, supplier, part) must not carry explicit broadcast hints —
    AQE + autoBroadcastJoinThreshold decide (VERDICT r1 #4). Hints on
    the 25-row nation role-playing dims are fine and expected."""
    for name, dims_allowed in [
        ("nation_pair_revenue", 2),      # cn + sn hints only
        ("inner_join_brand_revenue", 0), # no hints at all
    ]:
        df = q.all_queries()[name](spark, SF)
        logical = df._jdf.queryExecution().analyzed().toString()
        assert logical.count("UnresolvedHint") == 0
        assert logical.count("ResolvedHint") <= dims_allowed, name


def test_unigram_vocab_is_broadcast_never_smj(spark):
    # corpus-statistics scoring: the top-V vocab and the scalar total
    # must broadcast; a SortMergeJoin here would shuffle the whole
    # exploded token stream against a 64-row table
    p = plan(q.all_queries()["unigram_lm_score"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_decontaminate_broadcasts_bench_side(spark):
    p = plan(q.all_queries()["decontaminate_docs"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repetition_stats_partially_aggregates(spark):
    # explode -> groupBy must partial-aggregate map-side: partial_count
    # before the exchange, so the shuffle carries per-(doc,gram) partials
    p = plan(q.all_queries()["quality_repetition"](spark, SF))
    assert "partial_count" in p


def test_embed_transforms_have_no_shuffle(spark):
    # quantize/projection are pure map-side expressions: no Exchange
    for name in ("embed_quantize_int8", "embed_random_projection"):
        p = plan(q.all_queries()[name](spark, SF))
        assert "Exchange" not in p, name


def test_stratified_sample_is_a_pushed_scan_filter(spark):
    # one Filter over the scan; no shuffle, no join
    p = plan(q.all_queries()["sample_stratified"](spark, SF))
    assert "Exchange" not in p and "Join" not in p


def test_range_clustered_write_gives_disjoint_file_ranges(spark, tmp_path):
    import glob

    from data_migration_etl_scripts_spark.operators.scale import (
        write_range_clustered,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    dst = str(tmp_path / "clustered")
    write_range_clustered(orders, dst, ["o_orderkey"], num_files=4)
    files = glob.glob(dst + "/part-*.parquet")
    assert len(files) == 4
    # per-file key ranges must not overlap -> min/max stats can skip files
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("o_orderkey"), F.max("o_orderkey"))
            .collect()[0]
        )
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges overlap — no skipping possible"


def test_compact_small_files_preserves_data(spark, tmp_path):
    from data_migration_etl_scripts_spark.operators.scale import (
        compact_small_files,
    )

    dst = str(tmp_path / "sink")
    # simulate streaming sprawl: 20 tiny appends
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(dst)
    import glob

    assert len(glob.glob(dst + "/part-*.parquet")) >= 20
    before = sorted(r.id for r in spark.read.parquet(dst).collect())
    n_files = compact_small_files(spark, dst, target_rows_per_file=100)
    assert n_files == 2
    assert len(glob.glob(dst + "/part-*.parquet")) == 2
    after = sorted(r.id for r in spark.read.parquet(dst).collect())
    assert after == before


def test_runtime_bloom_filter_prunes_fact_side_of_selective_join(spark):
    """At 100 TB a selectively-filtered dim joined to a fact without a
    broadcast should inject a runtime bloom filter: the fact scan then
    drops non-matching rows BEFORE the shuffle. Default-on in this
    Spark; the size thresholds are lowered here only because the local
    fixture is tiny (a real fact table clears 10 GiB on its own)."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        plan = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select("l_orderkey", "o_totalprice")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "might_contain" in plan, "no runtime bloom filter on the fact scan"
        assert "bloom_filter_agg" in plan, "no bloom build on the filtered dim side"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bloom_ragged_nbits_rounds_to_words(spark):
    # a non-multiple-of-64 n_bits must not split build/probe moduli
    from data_migration_etl_scripts_spark.operators import scale as sc

    dim = spark.range(0, 300).select((F.col("id") * 3).alias("k"))
    bm = sc.bloom_bitmap(dim, "k", n_bits=1000, n_hashes=3)
    assert len(bm) == 16  # rounded up to 1024 bits
    fact = spark.range(0, 2000).select(F.col("id").alias("k"))
    kept = fact.where(sc.bloom_might_contain("k", bm))
    assert dim.join(kept, "k", "left_anti").count() == 0  # zero FN


def test_bloom_prefilter_no_false_negatives_and_pure_codegen(spark):
    from data_migration_etl_scripts_spark.operators import scale as sc

    dim = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    bm = sc.bloom_bitmap(dim, "k", n_bits=8192, n_hashes=3)
    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    kept = fact.where(sc.bloom_might_contain("k", bm))
    # zero false negatives: every true member survives the prefilter
    assert dim.join(kept, "k", "left_anti").count() == 0
    # false-positive rate bounded (8192 bits / 500 keys / 3 hashes)
    assert kept.count() - 500 < 20000 * 0.02
    # probe is pure codegen: no UDF, no join, no exchange
    p = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "EvalPython" not in p


def test_bloom_prefilter_query_prunes_before_shuffle(spark):
    df = q.bloom_prefilter_revenue(spark, SF)
    p = plan(df)
    # the bitmap probe lands in the orders-side Filter, pre-join
    assert "xxhash64" in p
    assert "BroadcastHashJoin" in p


def test_containment_broadcasts_bench_and_stays_mapside(spark):
    # r7: the bench shingle side broadcasts; the corpus never joins
    # |bench| x |corpus| — the only join is the broadcast hash probe
    df = q.decontaminate_containment(spark, SF)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_cms_sketch_partial_aggregates_mapside(spark):
    from data_migration_etl_scripts_spark.operators import cms as cm

    toks = spark.range(0, 1000).select(
        (F.col("id") % 37).cast("string").alias("tok")
    )
    sk = cm.cms_sketch(toks, "tok")
    p = sk._jdf.queryExecution().executedPlan().toString()
    # one grouped pass with map-side partial aggregation, no UDF
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "EvalPython" not in p
    # estimates probe via broadcast — the sketch side never shuffles
    # the probe relation
    est = cm.cms_estimate(toks.distinct(), sk, "tok")
    pe = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in pe


def test_spread_gate_on_both_sides_of_the_file_count(spark, tmp_path, monkeypatch):
    """``_tspread`` hash-repartitions a single-file table (one scan
    task) and leaves a table of at least ``defaultParallelism`` data
    files (one scan task each) as it is; the rows are the same either
    way. The byte floor is lowered so both small tables are in range."""
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MIN_BYTES", "1")
    n_parallel = spark.sparkContext.defaultParallelism
    rows = spark.range(200).select("id", (F.col("id") % 7).alias("v"))
    rows.coalesce(1).write.parquet(str(tmp_path / "one.parquet"))
    rows.repartition(n_parallel).write.parquet(str(tmp_path / "many.parquet"))
    one = q._tspread(spark, str(tmp_path), "one")
    many = q._tspread(spark, str(tmp_path), "many")
    assert "hashpartitioning(id" in plan(one)
    assert "Exchange" not in plan(many)
    assert sorted(one.collect()) == sorted(many.collect()) == sorted(rows.collect())
