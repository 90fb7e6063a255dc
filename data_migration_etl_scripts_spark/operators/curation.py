"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/similarity: duplicate-pair CLUSTERING (connected
components), deterministic sampling/splitting, and sequence packing.

All three are built to hold at 100 TB:

- ``dup_clusters`` is hash-min label propagation — the standard
  distributed connected-components algorithm (used by GraphFrames /
  GraphX under the hood): O(graph diameter) rounds, each one
  join + min-aggregate, state truncated per round with
  ``localCheckpoint`` so the lineage (and the DAG scheduler) stays
  O(1) per round instead of O(rounds). Dup graphs have tiny diameters
  (near-cliques), so this converges in a handful of rounds.
- ``deterministic_sample`` replaces rand()-based sampling with an
  md5-threshold on the key: the same row set is selected on every
  run, on every engine, regardless of partitioning — reproducible
  train/val splits with no seed-coordination across 1000 executors.
- ``pack_sequences`` assigns documents to fixed-token-budget bins
  (LLM pretraining pack files) with a per-shard running-sum window —
  partition-local window, no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from data_migration_etl_scripts_spark.gates import checkpoint_observed


#: below this many candidate pairs the edge list collects to the
#: driver and components are labeled with a union-find (exact, one
#: Spark job) instead of the iterative propagation loop. Dup-pair
#: volume is near-dup-bounded (tiny vs corpus size at any sane dup
#: rate); 2M pairs ~ 32 MB of longs driver-side. Deploy knob:
#: $SPARK_GRAFT_CC_DRIVER_EDGES (0 disables the driver path).
_CC_DRIVER_EDGES_DEFAULT = 2_000_000


def _dup_clusters_driver(uv: DataFrame) -> DataFrame | None:
    """Small-graph path (r12, the pagerank/Lloyd's pattern): collect
    the (u, v) pairs — the caller already knows the count fits the
    driver cap from the checkpoint's observed metric (r13) — and
    label components with a driver-side union-find.

    Exactness: cluster_id = min node id of the connected component —
    the propagation loop's fixpoint — computed here with pure integer
    min over union-find components, so results are identical (and the
    recursive-CTE oracle computes exactly the same closure). Raw
    pairs are collected (no symmetric union / distinct needed:
    duplicates don't change connectivity); the collect is a bounded
    scan of the caller's materialized pair checkpoint."""
    from data_migration_etl_scripts_spark.localdata import local_df

    spark = uv.sparkSession
    node_type = uv.schema["u"].dataType.simpleString()
    pdf = uv.toPandas()
    # null endpoints: the distributed loop's equi-joins never match a
    # null key, while the union-find would index None/NaN as a node
    # (and pandas null coercion turns integer ids into floats) — fall
    # back to the loop, whose join semantics are the contract.
    if pdf["u"].isna().any() or pdf["v"].isna().any():
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the root IS the component's min-so-far
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = sorted((n, find(n)) for n in parent)
    return local_df(
        spark, rows, f"doc_id {node_type}, cluster_id {node_type}"
    )


def dup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    driver_edges_max: int | None = None,
) -> DataFrame:
    """Duplicate pairs -> (doc_id, cluster_id) connected components.

    ``cluster_id`` is the minimum doc id of the component (canonical
    representative: keep that doc, drop the rest). The pair list is
    materialized once (checkpoint; its row count rides the action as
    an observed metric). Below ``driver_edges_max`` pairs (env
    default, see ``_CC_DRIVER_EDGES_DEFAULT``) the components are
    labeled by a driver-side union-find over the bounded collect of
    that checkpoint; above it, hash-min label
    propagation: every node repeatedly takes the min label among
    itself and its neighbors; fixpoint = components labeled. (On a
    component whose diameter exceeds ``max_iter`` rounds the big path
    may stop short of the fixpoint — pre-existing contract; the
    driver path is always exact.)
    """
    if driver_edges_max is None:
        import os

        driver_edges_max = int(os.environ.get(
            "SPARK_GRAFT_CC_DRIVER_EDGES", _CC_DRIVER_EDGES_DEFAULT
        ))
    # Materialize the pair list ONCE with its row count riding the
    # checkpoint: below the cap the union-find collect is a bounded
    # scan of the checkpoint; above it the distributed loop's
    # symmetric union reads the SAME blocks instead of recomputing the
    # candidate-pair plan for both union sides. No size heuristic
    # stands in for the count: a localCheckpoint leaf inherits its
    # origin JOIN's multiplied estimate (a 27 MB sf0.1 pair plan
    # reported 717 GB, and the driver path was wrongly skipped).
    uv, counts = checkpoint_observed(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        n=F.count(F.lit(1)),
    )
    if driver_edges_max > 0 and counts["n"] <= driver_edges_max:
        got = _dup_clusters_driver(uv)
        if got is not None:
            return got
    edges = (
        uv.unionByName(uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for i in range(max_iter):
        neigh = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label")))
                .alias("label"),
            )
            .localCheckpoint()  # truncate lineage every round
        )
        prev = labels
        labels = new_labels
        # convergence check every OTHER round: round 1 always changes
        # (every non-isolated node adopts a neighbor min), and a wasted
        # propagation round at the fixpoint is idempotent — so skipping
        # half the check jobs never alters the result, only job count
        if i % 2 == 1 or i == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(prev.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`dup_clusters`: recursive CTE reachability
    (UNION dedups rows, so the recursion terminates), min label per
    node = component representative."""
    return f"""
    WITH RECURSIVE pair_edges AS (
        SELECT doc_a AS u, doc_b AS v FROM ({pairs_sql})
        UNION
        SELECT doc_b AS u, doc_a AS v FROM ({pairs_sql})
    ),
    reach(node, label) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM pair_edges)
        UNION
        SELECT e.u, r.label FROM pair_edges e JOIN reach r ON e.v = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    """


def keep_best_per_cluster(labeled: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, quality) -> + ``keep``: the highest-quality
    member of each near-dup cluster survives (ties to the smallest doc
    id), everything else is dropped — quality-aware canonicalization,
    the standard upgrade over keep-min-id when a quality signal exists
    (the retained copy of a near-dup group should be the cleanest one,
    not the one with the smallest key).

    Scale shape: winner per cluster is ONE max(struct(quality, -id))
    aggregate — map-side partials, no per-cluster window, so a massive
    duplicate cluster (the classic hot key in web corpora) never
    funnels through a single task — then one broadcast-joinable
    winners table labels the corpus.
    """
    winners = labeled.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))).alias(
            "w"
        )
    ).select("cluster_id", (-F.col("w.neg_id")).alias("win_id"))
    return labeled.join(winners, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.col("doc_id") == F.col("win_id")).alias("keep"),
    )


def keep_best_canonicalize(quality: DataFrame, clusters: DataFrame) -> DataFrame:
    """Quality-aware canonicalization with the corpus kept MAP-SIDE.

    ``quality`` is corpus-sized (doc_id, quality); ``clusters`` is
    O(docs-in-dup-pairs) — near-dup-sized, broadcastable. The naive
    shape (left-join labels onto the corpus, aggregate winners over
    ALL cluster ids, join back) shuffles the corpus twice, because
    every singleton doc is its own cluster and the winners table is
    corpus-sized. Split instead:

    - clustered docs: inner broadcast-join to labels (O(dup-docs)
      rows), winner = one max(struct) aggregate over the SMALL side,
      broadcast back — the hot-duplicate-cluster key never sees a
      window or a corpus shuffle;
    - singletons: broadcast LEFT-ANTI join (map-side), trivially
      ``keep = true`` — zero shuffles for the overwhelming majority
      of a real corpus.

    Same output contract as :func:`keep_best_per_cluster`.
    """
    labels = F.broadcast(clusters.select("doc_id", "cluster_id"))
    clustered = quality.join(labels, "doc_id")
    winners = clustered.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))).alias("w")
    ).select("cluster_id", (-F.col("w.neg_id")).alias("win_id"))
    clustered = clustered.join(F.broadcast(winners), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.col("doc_id") == F.col("win_id")).alias("keep"),
    )
    singletons = quality.join(labels, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        "quality",
        F.lit(True).alias("keep"),
    )
    return clustered.unionByName(singletons)


def keep_best_per_cluster_sql(
    clusters_sql: str, quality_sql: str
) -> str:
    """DuckDB twin over a clusters subquery (doc_id, cluster_id — only
    docs appearing in dup pairs) and a quality subquery (doc_id,
    quality): unlabeled docs form their own singleton cluster."""
    return f"""
    WITH clusters AS ({clusters_sql}),
         quality AS ({quality_sql}),
         labeled AS (
            SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id,
                   q.quality
            FROM quality q LEFT JOIN clusters c ON q.doc_id = c.doc_id
         ),
         winners AS (
            SELECT cluster_id, doc_id AS win_id FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY quality DESC, doc_id ASC) AS rn
                FROM labeled
            ) WHERE rn = 1
         )
    SELECT l.doc_id, l.cluster_id, l.quality, l.doc_id = w.win_id AS keep
    FROM labeled l JOIN winners w USING (cluster_id)
    """


def sample_threshold_hex(fraction: float, digits: int = 6) -> str:
    """The md5-prefix cutoff selecting ~``fraction`` of keys."""
    return format(int(fraction * 16**digits), f"0{digits}x")


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float
) -> DataFrame:
    """Reproducible sample: keep rows whose md5(key) prefix falls below
    the fraction cutoff. Engine-, partitioning-, and run-independent —
    the property rand(seed) does NOT have across different
    partitionings. Lowercase-hex string comparison, so the same rows
    are picked by any engine with md5."""
    cutoff = sample_threshold_hex(fraction)
    prefix = F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 6)
    return df.where(prefix < F.lit(cutoff))


def deterministic_sample_sql(table: str, key_col: str, fraction: float) -> str:
    cutoff = sample_threshold_hex(fraction)
    return (
        f"SELECT * FROM {table} "
        f"WHERE substr(md5(CAST({key_col} AS VARCHAR)), 1, 6) < '{cutoff}'"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    capacity: int,
    n_shards: int = 32,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign documents to fixed-token-budget pack bins.

    Documents shard deterministically (``id % n_shards``); within a
    shard a running token sum ordered by id assigns
    ``bin = floor((cumsum - n_tokens) / capacity)`` — the bin where
    the document STARTS (boundary docs straddle into the next bin,
    the standard concat-and-chunk pretraining layout). The window is
    per-shard, so at corpus scale each partition sorts only its shard:
    no global sort, no single-partition window.

    ``keep_cols`` ride along unchanged (e.g. the token arrays when the
    packed output feeds an export directly) — cheaper than re-joining
    them back by id, which would recompute any UDF-produced column."""
    shard = (F.col(id_col) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.select(
        F.col(id_col), F.col(n_tokens_col).alias("n_tokens"), shard,
        *[F.col(c) for c in keep_cols],
    )
    # materialize the running sum ONCE: Catalyst does not CSE window
    # expressions, so referencing `cum` in three output columns would
    # make the Window node evaluate the identical sum three times
    # (observed as _we0/_we1/_we2 in the physical plan)
    out = out.withColumn("_cum", F.sum("n_tokens").over(w))
    start = F.col("_cum") - F.col("n_tokens")
    return out.select(
        id_col,
        "shard",
        "n_tokens",
        *keep_cols,
        F.floor(start / capacity).cast("long").alias("pack_bin"),
        (start - F.floor(start / capacity) * capacity)
        .cast("long")
        .alias("bin_offset"),
    )


def pack_sequences_sql(
    inner_sql: str, id_col: str, n_tokens_col: str, capacity: int, n_shards: int = 32
) -> str:
    """DuckDB twin of :func:`pack_sequences` over ``inner_sql``."""
    return f"""
    SELECT {id_col}, shard, n_tokens,
           CAST(floor((cum - n_tokens) / {capacity}) AS BIGINT) AS pack_bin,
           CAST(cum - n_tokens - floor((cum - n_tokens) / {capacity}) * {capacity}
                AS BIGINT) AS bin_offset
    FROM (
        SELECT {id_col}, {id_col} % {n_shards} AS shard,
               {n_tokens_col} AS n_tokens,
               sum({n_tokens_col}) OVER (
                   PARTITION BY {id_col} % {n_shards} ORDER BY {id_col}
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM ({inner_sql})
    )
    """


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample each language
    or source to its target mixture weight). Same md5-prefix scheme as
    :func:`deterministic_sample` — engine-, partitioning-, and
    run-independent — with the cutoff chosen per stratum value. Rows in
    strata absent from ``fractions`` keep ``default_fraction``.

    Pure map-side filter: no shuffle, no per-stratum scan — one pass
    with a CASE over the broadcast-free literal cutoff table.
    """
    prefix = F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 6)
    cutoff = F.lit(sample_threshold_hex(default_fraction))
    for value, frac in sorted(fractions.items()):
        cutoff = F.when(
            F.col(strata_col) == value, F.lit(sample_threshold_hex(frac))
        ).otherwise(cutoff)
    return df.where(prefix < cutoff)


def stratified_sample_sql(
    table: str,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> str:
    """DuckDB twin of :func:`stratified_sample`."""
    whens = " ".join(
        f"WHEN {strata_col} = '{v}' THEN '{sample_threshold_hex(f)}'"
        for v, f in sorted(fractions.items())
    )
    return (
        f"SELECT * FROM {table} WHERE "
        f"substr(md5(CAST({key_col} AS VARCHAR)), 1, 6) < "
        f"CASE {whens} ELSE '{sample_threshold_hex(default_fraction)}' END"
    )


def select_to_token_budget(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_tokens_col: str,
    budget_per_shard: int,
    n_shards: int = 32,
) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget:
    take the highest-``score_col`` documents until each shard's
    running token sum exceeds ``budget_per_shard`` (total budget =
    n_shards * budget_per_shard). The standard "best data that fits
    the compute budget" selection, made distributed by sharding on
    ``id % n_shards``: each shard sorts only its slice (partition-local
    window, no global sort) and budgets independently — at 1000
    executors the sort is n_shards-way parallel.

    Deterministic total order: (score desc, id) — ties never flip
    between runs/engines. Returns the kept rows + (shard, cum_tokens).
    """
    shard = (F.col(id_col) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.select("*", shard).withColumn(
        "cum_tokens", F.sum(n_tokens_col).over(w).cast("long")
    )
    return out.where(F.col("cum_tokens") <= budget_per_shard)


def select_to_token_budget_sql(
    inner_sql: str,
    id_col: str,
    score_col: str,
    n_tokens_col: str,
    budget_per_shard: int,
    n_shards: int = 32,
) -> str:
    """DuckDB twin of :func:`select_to_token_budget`."""
    return f"""
        SELECT * FROM (
            SELECT *, {id_col} % {n_shards} AS shard,
                   CAST(sum({n_tokens_col}) OVER (
                       PARTITION BY {id_col} % {n_shards}
                       ORDER BY {score_col} DESC, {id_col}
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_tokens
            FROM ({inner_sql})
        ) WHERE cum_tokens <= {budget_per_shard}
    """


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cosine near-dup candidate pairs (sign-LSH bucketed, never
    all-pairs) -> connected components -> keep ONE canonical document
    per semantic cluster (the min id), drop the rest.

    Returns every input doc labeled ``(doc_id, cluster_id, keep)`` —
    singleton docs are their own cluster and always kept, so the
    keep-set is ``where keep`` with no second pass over the corpus.

    Scale shape: the pair join is bounded by the LSH buckets; label
    propagation touches only docs that appear in a pair (O(near-dups),
    not O(corpus)); the final labeling is one left join of the corpus
    against that small cluster table.

    Pass ``pairs`` (an (id_a, id_b) relation, e.g. a session-shared
    stage also served to a pair-listing query) to skip the internal
    candidate-pair build.
    """
    from data_migration_etl_scripts_spark.operators.dedup import embedding_neardup_pairs

    if pairs is None:
        pairs = embedding_neardup_pairs(
            embeddings, id_col, vec_col, threshold=threshold, bucket_bits=bucket_bits
        )
    clusters = dup_clusters(pairs, src="id_a", dst="id_b")
    ids = embeddings.select(F.col(id_col).alias("doc_id"))
    labeled = ids.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return labeled.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


def semantic_dedup_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 8,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (recursive-CTE components
    over the same bucketed pair SQL)."""
    from data_migration_etl_scripts_spark.operators.dedup import embedding_neardup_pairs_sql

    pairs_sql = embedding_neardup_pairs_sql(
        table, id_col, vec_col, threshold=threshold, bucket_bits=bucket_bits
    )
    return f"""
    WITH RECURSIVE pair_edges AS (
        SELECT id_a AS u, id_b AS v FROM ({pairs_sql})
        UNION
        SELECT id_b AS u, id_a AS v FROM ({pairs_sql})
    ),
    reach(node, label) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM pair_edges)
        UNION
        SELECT e.u, r.label FROM pair_edges e JOIN reach r ON e.v = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT t.{id_col} AS doc_id,
           coalesce(c.cluster_id, t.{id_col}) AS cluster_id,
           coalesce(c.cluster_id, t.{id_col}) = t.{id_col} AS keep
    FROM {table} t LEFT JOIN clusters c ON t.{id_col} = c.doc_id
    """


def _cutoff_hex(frac: Column) -> Column:
    """6-hex-digit md5-prefix cutoff for a keep fraction ``frac``.

    frac within 2^-25 of 1.0 rounds cutoff_int up to 16^6, whose hex is
    7 chars; lpad(...,6) would TRUNCATE it to '100000' and keep only
    ~1/16 of a stratum that should be ~fully kept — so any cutoff at or
    above 16^6 takes the keep-all branch ('G' > every hex digit).
    """
    cutoff_int = F.floor(frac * F.lit(float(16**6)) + F.lit(0.5)).cast("long")
    return F.when(
        (frac >= 1.0) | (cutoff_int >= F.lit(16**6)), F.lit("G")
    ).otherwise(F.lpad(F.hex(cutoff_int), 6, "0"))


def mix_by_temperature(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    target_rows: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted domain mixing: sample each stratum (domain,
    language, source) so the output of ~``target_rows`` rows follows
    p(stratum) proportional to n^alpha — alpha < 1 upweights the tail
    domains, the standard multinomial-temperature mixture used for
    pretraining corpora.

    Per-stratum keep fraction: f_s = min(1, target * w_s / W / n_s)
    with w_s = n_s^alpha and W = sum(w_s). Row selection reuses the
    md5-prefix scheme of :func:`deterministic_sample`, with the cutoff
    RENDERED AS HEX IN THE PLAN (hex()/lpad agree across engines) so
    the data-derived fraction stays engine- and partitioning-
    independent.

    Cross-engine determinism: weights are rounded then DECIMAL-summed
    (order-independent — at 1000 executors double addition order is
    nondeterministic); alpha=0.5 uses sqrt(), which IEEE guarantees
    correctly rounded on every engine. Other alphas go through pow(),
    where a last-ulp libm difference could in principle flip one
    boundary row per stratum — documented trade.

    Scale shape: one count agg (map-side partials, stratum-cardinality
    rows), the tiny weight table broadcast back, one map-side filter.
    The corpus is scanned once and never shuffled.

    NULL strata form their own stratum (sampled like any other) rather
    than being dropped by the join — a null-equality sentinel keeps
    the equi-join shape.
    """
    skey = F.coalesce(F.col(strata_col).cast("string"), F.lit("\x00<null>"))
    w_raw = (
        F.sqrt(F.col("n_s").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_s").cast("double"), F.lit(float(alpha)))
    )
    weights = (
        df.groupBy(skey.alias("stratum"))
        .agg(F.count("*").alias("n_s"))
        .select("stratum", "n_s", F.round(w_raw, 6).cast("decimal(38,6)").alias("w"))
    )
    total = weights.agg(F.sum("w").alias("w_total"))
    frac = F.least(
        F.lit(1.0),
        (F.lit(float(target_rows)) * (F.col("w").cast("double")))
        / (F.col("w_total").cast("double"))
        / (F.col("n_s").cast("double")),
    )
    cutoffs = weights.crossJoin(F.broadcast(total)).select(
        "stratum", _cutoff_hex(frac).alias("cutoff_hex")
    )
    prefix = F.upper(
        F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 6)
    )
    return (
        df.join(F.broadcast(cutoffs), skey == cutoffs.stratum)
        .where(prefix < F.col("cutoff_hex"))
        .drop("stratum", "cutoff_hex")
    )


def mix_by_temperature_sql(
    table: str,
    key_col: str,
    strata_col: str,
    target_rows: int,
    alpha: float = 0.5,
) -> str:
    """DuckDB twin of :func:`mix_by_temperature` (alpha=0.5 path).

    NULL strata are kept as their own stratum (GROUP BY groups NULLs
    together; the join uses ``IS NOT DISTINCT FROM``) to match the Spark
    operator's NULL-sentinel behaviour — a plain equi-join would silently
    drop every NULL-stratum row.
    """
    w_expr = (
        f"round(sqrt(CAST(count(*) AS DOUBLE)), 6)"
        if alpha == 0.5
        else f"round(pow(CAST(count(*) AS DOUBLE), {alpha}), 6)"
    )
    return f"""
    WITH weights AS (
        SELECT {strata_col} AS stratum, count(*) AS n_s,
               CAST({w_expr} AS DECIMAL(38,6)) AS w
        FROM {table} GROUP BY {strata_col}
    ),
    cutoffs AS (
        SELECT stratum,
               CASE WHEN frac >= 1.0
                         OR CAST(floor(frac * 16777216.0 + 0.5) AS BIGINT) >= 16777216
                    THEN 'G'
                    ELSE lpad(hex(CAST(floor(frac * 16777216.0 + 0.5) AS BIGINT)), 6, '0')
               END AS cutoff_hex
        FROM (
            SELECT stratum, n_s,
                   least(1.0, ({float(target_rows)} * CAST(w AS DOUBLE))
                              / CAST((SELECT sum(w) FROM weights) AS DOUBLE)
                              / CAST(n_s AS DOUBLE)) AS frac
            FROM weights
        )
    )
    SELECT t.* FROM {table} t
    JOIN cutoffs c ON t.{strata_col} IS NOT DISTINCT FROM c.stratum
    WHERE upper(substr(md5(CAST(t.{key_col} AS VARCHAR)), 1, 6)) < c.cutoff_hex
    """


def filter_by_quantile(
    df: DataFrame,
    score_col: str,
    q: float = 0.75,
    keep: str = "above",
) -> DataFrame:
    """Keep rows whose ``score_col`` clears the corpus q-quantile.

    The standard "drop the bottom X% by quality" curation step (quality
    thresholds in web-corpus pipelines are usually stated as quantiles,
    not absolute scores, so the cut adapts per corpus/snapshot).

    Scale shape: ONE aggregate computes the threshold (exact
    interpolated ``percentile`` here so the DuckDB ``quantile_cont``
    oracle can hash-match; at 100 TB swap to ``percentile_approx`` —
    a mergeable t-digest sketch with map-side partials), the one-row
    threshold broadcasts, and the corpus filter is map-side. The corpus
    itself never shuffles and is scanned exactly twice (once for the
    sketch, once for the filter) — or once if the caller caches.

    keep="above": score >= threshold (the curation default);
    keep="below": score < threshold (e.g. flag-for-review split).
    """
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    thr = df.agg(F.expr(f"percentile({score_col}, {q!r})").alias("_thr"))
    cond = (
        F.col(score_col) >= F.col("_thr")
        if keep == "above"
        else F.col(score_col) < F.col("_thr")
    )
    return df.join(F.broadcast(thr)).where(cond).drop("_thr")


def filter_by_quantile_sql(
    inner_sql: str,
    score_col: str,
    q: float = 0.75,
    keep: str = "above",
) -> str:
    """DuckDB twin of :func:`filter_by_quantile` (``quantile_cont`` ==
    Spark's exact ``percentile``: both interpolate
    lower + (higher - lower) * frac over the sorted values)."""
    op = ">=" if keep == "above" else "<"
    return f"""
        WITH scored AS ({inner_sql})
        SELECT * FROM scored
        WHERE {score_col} {op} (SELECT quantile_cont({score_col}, {q}) FROM scored)
    """


def chunk_token_stream(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    n_shards: int = 32,
) -> DataFrame:
    """Concat-and-chunk materialization: the per-shard token stream
    (documents concatenated in id order) split into FIXED-``capacity``
    training sequences — the actual pretraining row format, one step
    past :func:`pack_sequences` (which only assigns bin ids; this
    emits the sequences, with boundary documents SPLIT across
    neighboring sequences exactly as a dataloader would).

    Scale shape: per-shard window cumsum (partition-local, no global
    sort) positions each doc in its shard's stream; each doc explodes
    into only the 1 + floor(n/capacity)-ish sequences it overlaps
    (map-side sequence() + slice — O(stream length) total, not
    O(docs * sequences)); one groupBy (shard, seq) reassembles pieces
    with a sort_array on the deterministic start offset. Every shard
    is independent — 1000 executors chunk 1000 streams in parallel.

    Returns (shard, seq, n_tokens, seq_tokens); the final sequence of
    each shard may be shorter than ``capacity``.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = (
        df.select(
            F.col(id_col),
            (F.col(id_col) % n_shards).alias("shard"),
            F.col(tokens_col).alias("_toks"),
            F.size(tokens_col).alias("n"),
        )
        .where(F.col("n") > 0)
        .withColumn("cum", F.sum("n").over(w).cast("long"))
        .withColumn("start", (F.col("cum") - F.col("n")).cast("long"))
    )
    exploded = pos.select(
        "shard",
        "start",
        "_toks",
        "n",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / capacity).cast("long"),
                F.floor((F.col("cum") - 1) / capacity).cast("long"),
            )
        ).alias("seq"),
    ).select(
        "shard",
        "seq",
        "start",
        F.slice(
            "_toks",
            (F.greatest(F.lit(0), F.col("seq") * capacity - F.col("start")) + 1).cast(
                "int"
            ),
            (
                F.least(F.col("n"), (F.col("seq") + 1) * capacity - F.col("start"))
                - F.greatest(F.lit(0), F.col("seq") * capacity - F.col("start"))
            ).cast("int"),
        ).alias("piece"),
    )
    return (
        exploded.groupBy("shard", "seq")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("start"), F.col("piece")))
                    ),
                    lambda x: x.piece,
                )
            ).alias("seq_tokens")
        )
        .select(
            "shard",
            "seq",
            F.size("seq_tokens").alias("n_tokens"),
            "seq_tokens",
        )
    )


def chunk_token_stream_sql(
    inner_sql: str,
    id_col: str,
    tokens_expr: str,
    capacity: int,
    n_shards: int = 32,
) -> str:
    """DuckDB twin of :func:`chunk_token_stream` over ``inner_sql``
    (must expose ``id_col``; ``tokens_expr`` builds the token list).
    ``list(x ORDER BY start)`` gives the same deterministic reassembly
    as Spark's sort_array-of-structs."""
    return f"""
    WITH toks AS (
        SELECT {id_col} AS doc_id, {tokens_expr} AS tokens FROM ({inner_sql})
    ),
    pos AS (
        SELECT doc_id, CAST(doc_id % {n_shards} AS BIGINT) AS shard, tokens,
               len(tokens) AS n,
               CAST(sum(len(tokens)) OVER (
                   PARTITION BY doc_id % {n_shards} ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM toks WHERE len(tokens) > 0
    ),
    expl AS (
        -- scalar generate_series + unnest: the table-function form
        -- cannot take lateral column arguments in DuckDB
        SELECT shard, tokens, n, cum - n AS start,
               unnest(generate_series(
                   CAST(floor((cum - n) / {capacity}) AS BIGINT),
                   CAST(floor((cum - 1) / {capacity}) AS BIGINT))) AS seq
        FROM pos
    ),
    sliced AS (
        SELECT shard, seq, start,
               list_slice(tokens,
                   greatest(0, seq * {capacity} - start) + 1,
                   least(n, (seq + 1) * {capacity} - start)) AS piece
        FROM expl
    )
    SELECT shard, seq,
           CAST(len(flatten(list(piece ORDER BY start))) AS INT) AS n_tokens,
           flatten(list(piece ORDER BY start)) AS seq_tokens
    FROM sliced GROUP BY shard, seq
    """


def sample_cluster_balanced(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    budget_per_cluster: int = 50,
    centroids: list | None = None,
) -> DataFrame:
    """Diversity-balanced subsampling: cluster documents by embedding
    and cap every cluster at ``budget_per_cluster`` members — the
    standard counter to topic skew (a corpus 80% news keeps at most
    the same budget of news as of every other cluster).

    Plan: seeded (or provided) centroids assign clusters MAP-SIDE
    (literal-expression argmax, zero shuffles — similarity._assign_cells);
    one count aggregate per cluster; per-cluster keep fraction
    ``min(1, budget/count)`` becomes an integer md5 threshold, so the
    kept set is deterministic across runs, engines, and partitionings
    (the rand()-free discipline of deterministic_sample). Returns
    (id, cluster_id) for the kept docs.
    """
    from data_migration_etl_scripts_spark.operators import textprep as tp
    from data_migration_etl_scripts_spark.operators.dedup import _norm
    from data_migration_etl_scripts_spark.operators.similarity import _assign_cells

    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", _norm(F.col("v"))).where(F.col("nrm") > 0)
    cent_rows = centroids if centroids is not None else (
        base.orderBy("vid")
        .limit(n_clusters)
        .select(
            F.col("vid").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .collect()
    )
    assigned = _assign_cells(base, cent_rows, "vid").select("vid", "centroid_id")
    counts = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("cnt"))
    thresholds = counts.select(
        "centroid_id",
        F.floor(
            F.least(
                F.lit(1.0), F.lit(float(budget_per_cluster)) / F.col("cnt").cast("double")
            )
            * 1000000
        ).alias("thresh"),
    )
    keep = (tp.md5_long(F.col("vid").cast("string"), digits=7) % 1000000) < F.col(
        "thresh"
    )
    return (
        assigned.join(F.broadcast(thresholds), "centroid_id")
        .where(keep)
        .select(F.col("vid").alias(id_col), F.col("centroid_id").alias("cluster_id"))
    )


def sample_cluster_balanced_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    budget_per_cluster: int = 50,
) -> str:
    """DuckDB twin of :func:`sample_cluster_balanced` (same seeding,
    assignment rounding/tie-break, threshold arithmetic, md5 rule)."""
    from data_migration_etl_scripts_spark.operators import textprep as tp

    md5l = tp.md5_long_sql("a.vid", digits=7)
    return f"""
        WITH base AS (
            SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v,
                   sqrt(list_inner_product(CAST({vec_col} AS DOUBLE[]), CAST({vec_col} AS DOUBLE[]))) AS nrm
            FROM {table}
        ),
        base_nz AS (SELECT * FROM base WHERE nrm > 0),
        cent AS (
            SELECT vid AS centroid_id, v AS cv, nrm AS cn
            FROM base_nz ORDER BY vid LIMIT {n_clusters}
        ),
        assigned AS (
            SELECT vid, centroid_id FROM (
                SELECT b.vid, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY b.vid
                           ORDER BY round(list_inner_product(b.v, c.cv) / (b.nrm * c.cn), 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM base_nz b CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        thresholds AS (
            SELECT centroid_id,
                   floor(least(1.0, {budget_per_cluster} / CAST(count(*) AS DOUBLE))
                         * 1000000) AS thresh
            FROM assigned GROUP BY centroid_id
        )
        SELECT a.vid AS {id_col}, a.centroid_id AS cluster_id
        FROM assigned a JOIN thresholds t USING (centroid_id)
        WHERE ({md5l} % 1000000) < t.thresh
    """
