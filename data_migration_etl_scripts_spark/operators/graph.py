"""Iterative graph analytics — PageRank with the engine's
deterministic-iteration discipline, extending the graph family beyond
the connected-components labeler in `operators/curation.py` (dedup
clusters) to importance scoring: entity ranking over relationship
graphs (who are the load-bearing suppliers/customers), link-graph
authority for web corpora (the `operators/html.py` front end yields
anchors), influence weighting for sampling.

Standard damped PageRank with dangling-mass redistribution:

    PR_{i+1}(v) = (1-d)/N + d * (sum_{u->v} PR_i(u)/out(u)
                                 + dangling_i/N)

DETERMINISM: per-edge contributions round to 9 dp and sum as
DECIMAL(20,10); each iteration's rank re-rounds — so K iterations
are bit-reproducible across partitionings and across engines, and
the SQL twin (:func:`pagerank_sql`) unrolls the same K rounds as
chained CTEs for a hash-matched oracle. (The same unrolled-iteration
oracle pattern as the trained classifier's gradient descent.)

Scale shape (r11): the edge relation is shuffled and sorted by src
ONCE and persisted — every iteration's contribution join reads it in
place (InMemoryRelation preserves partitioning/ordering where a
checkpoint scan reports UnknownPartitioning and would re-exchange the
full edge set per round). Per iteration only node-sized data moves:
the rank relation to the join key and the map-side-combined
contributions to dst. The dangling mass and the convergence delta
ride each round's checkpoint action as observed metrics — ONE job
per iteration, nothing collected but those two scalars; ranks
localCheckpoint per round so lineage stays flat at K iterations —
the Lloyd's/label-propagation discipline every iterative operator
here follows."""

from __future__ import annotations

import math
import os
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import planhook
from data_migration_etl_scripts_spark.gates import checkpoint_observed

_DEC = "decimal(20,10)"

#: below this many nodes the rank relation ((node, out, rank) — tens
#: of bytes per row, so 2M nodes ~ 60-100 MB framed) broadcasts into
#: the per-round contribution join; above it the r11 partitioned-edge
#: plan applies. Deploy knob: $SPARK_GRAFT_PAGERANK_BCAST_NODES.
_BCAST_NODES_DEFAULT = 2_000_000


def _initial_dangling_mass(n: int, n_dang: int) -> float:
    """The double the engines' DECIMAL aggregate would produce for the
    round-0 dangling mass, computed driver-side (r12: saves the
    separate collect job). Every dangling node holds rank
    r0 = q9(1/n) = k/1e9 for integer k; the DECIMAL(20,10) cast of
    that double is exactly k/1e9 (shortest-decimal round-trip of a
    correctly-rounded quotient of exactly-representable operands),
    the sum is exactly n_dang*k/1e9, and the final cast to double is
    the correctly-rounded value of that rational — which is what
    float(Fraction(...)) computes. Pinned against a live Spark
    aggregate in tests/test_graph.py."""
    r0 = math.floor((1.0 / n) * 1e9 + 0.5) / 1e9
    k = int(math.floor(r0 * 1e9 + 0.5))
    return float(Fraction(n_dang * k, 10**9))


def _q9(col: F.Column) -> F.Column:
    """Quantize to 9 dp via floor(x*1e9 + 0.5)/1e9 — every step an
    exactly-rounded IEEE op, so BOTH engines compute the identical
    double. round(x, 9) is NOT cross-engine safe here: iterated
    PageRank keeps landing decimal-aligned ranks on exact .5
    boundaries at the 10th digit, where Spark (HALF_UP on the
    shortest decimal repr) and DuckDB (half-away on the binary
    value) disagree."""
    return F.floor(col * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def _q9_sql(expr: str) -> str:
    return f"floor(({expr}) * 1e9 + 0.5) / 1e9"


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float | None = 0.0,
    broadcast_nodes_max: int | None = None,
) -> DataFrame:
    """(src, dst) edges -> (node, rank) after ``iterations`` rounds.
    Nodes = union of both endpoint sets; parallel edges count with
    multiplicity (a supplier filling 3 of a customer's orders pulls
    3 shares of that customer's rank). Ranks sum to ~1 (9-dp
    quantization wobble only).

    Convergence early-exit (r8): each round's projection carries the
    previous rank alongside the new one, and the L1 delta rides the
    round's OWN checkpoint action as an ``observe()`` metric (the
    gates.py observe-fused pattern) — zero extra jobs, zero extra
    shuffles. The loop stops when delta <= ``tol``. The default
    ``tol=0.0`` is PROVABLY lossless against the fixed-K oracle:
    ranks are 9-dp quantized, so delta == 0 means the vector is a
    bit-exact fixpoint and every remaining iteration would reproduce
    it unchanged — converged graphs pay only the rounds they need
    while the K-round hash contract holds. ``tol=None`` disables the
    check; a positive tol is an approximation knob whose output may
    diverge from the unrolled oracle."""
    if broadcast_nodes_max is None:
        broadcast_nodes_max = int(os.environ.get(
            "SPARK_GRAFT_PAGERANK_BCAST_NODES", _BCAST_NODES_DEFAULT
        ))
    sel = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # Fully-driver fixpoint (r12 second stage): ONE fused job — the
    # edge source aggregated to (src, dst, multiplicity) and collected
    # (bounded by the pair cap) — then nodes, out-degrees and all K
    # rounds are exact int64/float64 arithmetic on the driver; no edge
    # checkpoint, no per-round jobs. The round's
    # sum(CAST(q9(rank/out) AS DECIMAL(20,10))) over the edge multiset
    # is exactly sum(m * k)/1e9 for the integer numerators k, so the
    # result is bit-identical to both distributed plans (pinned by
    # test_paths_agree_bit_exactly / test_numpy_and_join_loop_paths_agree).
    pair_cap = int(os.environ.get(
        "SPARK_GRAFT_PAGERANK_DRIVER_EDGES", 4_000_000
    ))
    # probe gate (r13, VERDICT r12 item 5): the pair aggregate +
    # bounded collect below IS the work when the graph is small, but
    # pure overhead prepended to the distributed plan when it is not.
    # Gate it on the plan's LEAF scan bytes (driver-side statistics,
    # no job): above the ceiling the edge relation cannot plausibly
    # aggregate into a driver-sized pair table, so skip straight to
    # the distributed plans.
    from data_migration_etl_scripts_spark.plansize import probe_allowed

    may_probe = probe_allowed(
        sel, "SPARK_GRAFT_PAGERANK_PROBE_MAX_BYTES", 1 << 30
    )
    if broadcast_nodes_max > 0 and pair_cap > 0 and may_probe:
        gdf = sel.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("m"))
        gpdf = gdf.limit(pair_cap + 1).toPandas()
        if len(gpdf) <= pair_cap:
            node_type = (
                sel.select(F.col("src").alias("node"))
                .unionByName(sel.select(F.col("dst").alias("node")))
                .schema["node"].dataType.simpleString()
            )
            got = _pagerank_numpy(
                edges.sparkSession, gdf, gpdf, node_type,
                broadcast_nodes_max, iterations, damping, tol,
            )
            if got is not None:
                return got
    e = sel.localCheckpoint(eager=True)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out"))
    # STATIC structure, computed once: the rank relation carries its
    # node's out-degree (null = dangling -- the set never changes
    # across iterations, only its rank mass does), so no per-round
    # ranks->out_deg join and no dangling semi-join ever runs. n and
    # the dangling count ride the checkpoint action as observed
    # metrics -- no separate count jobs.
    flagged_plan = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(out_deg.withColumnRenamed("src", "node"), "node", "left")
    )
    # Materialize the flagged node relation ONCE: BOTH the
    # driver-resident path (bounded toPandas of the checkpoint, taken
    # only when n is already known to fit) and the partitioned-edge
    # plan consume it, so no separate over-cap probe pass runs.
    flagged, counts = checkpoint_observed(
        flagged_plan,
        n=F.count(F.lit(1)),
        n_dang=F.count_if(F.col("out").isNull()),
    )
    n = counts["n"]
    if n == 0:
        return flagged.select("node").withColumn("rank", F.lit(0.0))
    n_dang = counts["n_dang"]
    if broadcast_nodes_max > 0 and n <= broadcast_nodes_max:
        got = _pagerank_driver_resident(
            e, flagged, n, n_dang, iterations, damping, tol
        )
        if got is not None:
            return got
    # ---------------- big-graph path (r11 partitioned-edge plan) ----
    # PERSIST, not localCheckpoint (r11): a checkpointed RDD scan
    # reports UnknownPartitioning, so every iteration would
    # re-exchange AND re-sort the FULL edge relation for the contrib
    # join -- the dominant per-round cost, and the piece that breaks
    # at 100x edges. An InMemoryRelation preserves the child plan's
    # outputPartitioning/ordering, so shuffling+sorting by src ONCE
    # here lets all K per-round sort-merge joins reuse it: only the
    # (|nodes|-sized) rank relation moves per iteration.
    from pyspark.storagelevel import StorageLevel

    e_out = (
        e.join(out_deg, "src")
        .select("src", "dst", "out")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_out.count()   # eager, like the checkpoints around it
    # IEEE division itself is exactly rounded in both engines, so the
    # (1-d)/N and dangling/N terms need no defensive quantization.
    ranks = flagged.withColumn("rank", _q9(F.lit(1.0) / F.lit(float(n))))
    # Each round's dangling mass is an aggregate over the PREVIOUS
    # round's output -- it rides the previous round's checkpoint
    # action as an observed metric and feeds the next update as a
    # plain literal. The INITIAL mass is n_dang copies of the same
    # quantized 1/n, computed driver-side (bit-identical to the
    # DECIMAL aggregate -- see _initial_dangling_mass).
    dangm = _initial_dangling_mass(n, n_dang)
    for it in range(iterations):
        contrib = (
            e_out.join(
                ranks.select("node", "rank"), e_out["src"] == F.col("node")
            )
            .select(
                "dst",
                _q9(F.col("rank") / F.col("out")).cast(_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        # the previous round's relation (every node) is ALSO the left
        # side of the update join, so the new projection can carry the
        # old rank; the convergence delta AND the next round's
        # dangling mass both ride the checkpoint action as observed
        # metrics -- one job per iteration, no separate aggregates
        new = (
            ranks.join(contrib, ranks["node"] == contrib["dst"], "left")
            .select(
                ranks["node"].alias("node"),
                ranks["out"].alias("out"),
                _q9(
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0))
                       + F.lit(dangm) / F.lit(float(n)))
                ).alias("rank"),
                ranks["rank"].alias("_prev"),
            )
        )
        metrics = {}
        if it < iterations - 1:
            metrics["dangm"] = F.coalesce(
                F.sum(F.when(F.col("out").isNull(), F.col("rank"))
                      .cast(_DEC)).cast("double"),
                F.lit(0.0),
            )
            if tol is not None:
                metrics["d"] = F.coalesce(
                    F.sum(F.abs(F.col("rank") - F.col("_prev"))
                          .cast(_DEC)).cast("double"),
                    F.lit(0.0),
                )
        planhook.capture("pagerank_iteration", new)
        # the metrics read _prev, so it is checkpointed and dropped after
        ranks, m = checkpoint_observed(new, **metrics)
        ranks = ranks.select("node", "out", "rank")
        if m:
            if tol is not None and m["d"] <= tol:
                break
            dangm = m["dangm"]
    # ranks is checkpointed (no lineage into e_out): safe to release
    e_out.unpersist()
    return ranks.select("node", "rank")


def _k9(x: float) -> int:
    """Integer numerator of a 9-dp-quantized double: the k with
    x ~ k/1e9 (exact for every _q9 output; the recovered product
    x*1e9 is within fp error << 0.5 of k, so the floor(+0.5) is
    safe)."""
    return int(math.floor(x * 1e9 + 0.5))


def _pagerank_driver_resident(
    e: DataFrame,
    flagged: DataFrame,
    n: int,
    n_dang: int,
    iterations: int,
    damping: float,
    tol: float | None,
) -> DataFrame | None:
    """Small-graph plan (r12, guide §2.4/§3.1 + the Lloyd's pattern
    train_logreg already uses): the node-sized rank vector lives on
    the DRIVER; each round is ONE Spark job -- the checkpointed edge
    relation scanned in place, a broadcast hash join against the
    per-node quantized contributions, the map-side-combined DECIMAL
    aggregation by dst, and a node-sized collect. No edge shuffle, no
    sort, no edge re-cache, no per-round checkpoint.

    ``flagged`` is the caller's MATERIALIZED (node, out) checkpoint
    with n <= the broadcast cap already known from its observed
    metrics (r13) -- the collect below is a bounded scan of the
    checkpoint, not a probe. Returns None only on null node ids (the
    caller falls through to the partitioned-edge plan, whose
    equi-join semantics are the contract).

    BIT-IDENTICAL to the Spark-side loop (pinned by
    test_paths_agree_bit_exactly): the per-edge contribution
    q9(rank/out) is the same IEEE double whether computed in the JVM
    or in CPython (both are correctly-rounded binary64 ops), the
    per-dst DECIMAL(20,10) sums stay in Spark, and the driver-side
    update plus + damping*(inflow + dangm/n) replicates the JVM
    expression tree op for op. The dangling mass and L1 delta are
    exact-rational sums of 9-dp quantities, computed with integer
    numerators (see _k9/_initial_dangling_mass) -- equal to the
    engines' DECIMAL aggregates by construction."""
    import pandas as pd

    from data_migration_etl_scripts_spark.localdata import local_df

    spark = e.sparkSession
    node_type = flagged.schema["node"].dataType.simpleString()
    pdf = flagged.select("node", "out").toPandas()
    # null endpoints (ADVICE r12): the Spark paths' equi-joins never
    # match a null key, while a dict-keyed replica would treat
    # None/NaN as an ordinary node (and pandas coerces nullable int
    # ids to float) — fall back to the distributed plan, whose join
    # semantics are the contract.
    if pdf["node"].isna().any():
        return None
    if len(pdf) == 0:
        return local_df(spark, [], f"node {node_type}, rank double")
    nodes = pdf["node"].tolist()
    outs = [None if pd.isna(o) else int(o) for o in pdf["out"].tolist()]
    out = dict(zip(nodes, outs))
    nf = float(n)
    r0 = math.floor((1.0 / n) * 1e9 + 0.5) / 1e9
    rank = {v: r0 for v in nodes}
    dangm = _initial_dangling_mass(n, n_dang)
    plus = (1.0 - damping) / n
    for _it in range(iterations):
        c_rows = [
            (v, math.floor((rank[v] / o) * 1e9 + 0.5) / 1e9)
            for v, o in out.items()
            if o is not None
        ]
        cdf = local_df(spark, c_rows, f"node {node_type}, c double")
        contrib = (
            e.join(F.broadcast(cdf), e["src"] == cdf["node"])
            .select("dst", F.col("c").cast(_DEC).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        planhook.capture("pagerank_iteration", contrib)
        cpdf = contrib.toPandas()
        inflow = dict(zip(cpdf["dst"].tolist(), cpdf["inflow"].tolist()))
        new_rank = {
            v: math.floor(
                (plus + damping * (inflow.get(v, 0.0) + dangm / nf)) * 1e9
                + 0.5
            ) / 1e9
            for v in nodes
        }
        if tol is not None:
            dnum = sum(
                abs(_k9(new_rank[v]) - _k9(rank[v])) for v in nodes
            )
            rank = new_rank
            if float(Fraction(dnum, 10**9)) <= tol:
                break
        else:
            rank = new_rank
        dangm = float(Fraction(
            sum(_k9(rank[v]) for v, o in out.items() if o is None), 10**9
        ))
    return local_df(
        spark,
        [(v, rank[v]) for v in nodes],
        f"node {node_type}, rank double",
    )


def _pagerank_numpy(
    spark, gdf, gpdf, node_type, node_cap, iterations, damping, tol,
):
    """Vectorized exact fixpoint over pair-aggregated edges (nodes,
    out-degrees and the initial dangling mass all derive from the
    collected pair table — the union/distinct/out-degree jobs the
    Spark paths run are plain driver arithmetic here). Returns None
    when the node count exceeds ``node_cap`` (caller falls through to
    the distributed plans). Every step reproduces the engines'
    arithmetic bit for bit:

    - per-node contribution numerator k = floor(rank/out * 1e9 + 0.5)
      (the integer _q9 names; float64 mul/add/floor are the same
      correctly-rounded IEEE ops in numpy, CPython and the JVM);
    - inflow DECIMAL(20,10) sum == sum(m * k) exactly (m copies of the
      same 9-dp value) — int64 exact: k <= 1e9 * max_rank, and the
      per-dst sum is bounded by 1e9 * total mass ~ 1e9 * (n * r_max),
      far under 2^63 (and under 2^53 before the float conversion);
    - CAST(... AS DOUBLE) == int64 -> float64 exact conversion
      (< 2^53) divided by the exactly-representable 1e9 — a correctly
      rounded decimal->double, same as BigDecimal.doubleValue;
    - the update expression and final _q9 are the identical IEEE
      elementwise ops the JVM codegen runs;
    - dangling mass / L1 delta are the same integer-numerator sums the
      dict-loop path used (Fraction(sum_k, 1e9) == sum_k / 1e9 here
      because sum_k < 2^53).

    Pinned by test_paths_agree_bit_exactly / test_numpy_path_matches
    against the distributed plans."""
    import numpy as np

    from data_migration_etl_scripts_spark.localdata import local_df

    # null endpoints (ADVICE r12): the distributed plans' equi-joins
    # never match null keys (a null-src node is dangling, its edges
    # contribute nothing), while this index treats None/NaN as an
    # ordinary node with out-degree > 0 — and pandas null coercion
    # turns integer ids into floats. Fall back to the distributed
    # plans, whose join semantics are the contract.
    if gpdf["src"].isna().any() or gpdf["dst"].isna().any():
        return None
    src_list = gpdf["src"].tolist()
    dst_list = gpdf["dst"].tolist()
    m = gpdf["m"].to_numpy(dtype=np.int64)
    # nodes = union of endpoint sets, out-degree = sum of multiplicity
    # by src — exactly the distinct-union / count aggregates of the
    # Spark paths, as driver dict arithmetic
    idx: dict = {}
    for v in src_list:
        if v not in idx:
            idx[v] = len(idx)
    for v in dst_list:
        if v not in idx:
            idx[v] = len(idx)
    n = len(idx)
    if n == 0:
        return local_df(spark, [], f"node {node_type}, rank double")
    if n > node_cap:
        return None
    nodes = list(idx)
    src_i = np.fromiter(
        (idx[v] for v in src_list), dtype=np.int64, count=len(src_list)
    )
    dst_i = np.fromiter(
        (idx[v] for v in dst_list), dtype=np.int64, count=len(dst_list)
    )
    out_arr = np.zeros(n, dtype=np.int64)
    np.add.at(out_arr, src_i, m)
    has_out = out_arr > 0
    dang_mask = ~has_out
    r0 = math.floor((1.0 / n) * 1e9 + 0.5) / 1e9
    r = np.full(n, r0, dtype=np.float64)
    dangm = _initial_dangling_mass(n, int(dang_mask.sum()))
    plus = (1.0 - damping) / n
    nf = float(n)
    for _it in range(iterations):
        planhook.capture("pagerank_iteration", gdf)
        k = np.zeros(n, dtype=np.int64)
        src_nodes = has_out
        k[src_nodes] = np.floor(
            r[src_nodes] / out_arr[src_nodes] * 1e9 + 0.5
        ).astype(np.int64)
        inflow_num = np.zeros(n, dtype=np.int64)
        np.add.at(inflow_num, dst_i, m * k[src_i])
        inflow = inflow_num.astype(np.float64) / 1e9
        new_r = np.floor(
            (plus + damping * (inflow + dangm / nf)) * 1e9 + 0.5
        ) / 1e9
        if tol is not None:
            dnum = int(
                np.abs(
                    np.floor(new_r * 1e9 + 0.5).astype(np.int64)
                    - np.floor(r * 1e9 + 0.5).astype(np.int64)
                ).sum()
            )
            r = new_r
            if float(Fraction(dnum, 10**9)) <= tol:
                break
        else:
            r = new_r
        dangm = float(Fraction(
            int(np.floor(r[dang_mask] * 1e9 + 0.5).astype(np.int64).sum()),
            10**9,
        ))
    return local_df(
        spark,
        [(v, float(r[i])) for i, v in enumerate(nodes)],
        f"node {node_type}, rank double",
    )


def pagerank_sql(
    edges_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`pagerank`: the K iterations unroll as
    chained CTEs with the identical 9-dp + DECIMAL discipline.
    ``edges_sql`` must expose (src, dst).

    Literal discipline: damping constants are precomputed in Python
    and emitted in e-notation — DuckDB parses bare decimals as exact
    DECIMALs (1.0 - 0.85 = 0.15 exactly), which diverges from the
    IEEE double 0.15000000000000002 the Spark side computes; an
    e-notation literal forces DOUBLE parsing."""
    dd = f"{damping:.17e}"
    one_minus_d = f"{1.0 - damping:.17e}"
    ctes = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION "
        "SELECT dst AS node FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outd AS (SELECT src, count(*) AS \"out\" FROM e GROUP BY src)",
        f"pr0 AS (SELECT node, "
        f"{_q9_sql('CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)')} "
        "AS rank FROM nodes)",
    ]
    for i in range(iterations):
        prev, cur = f"pr{i}", f"pr{i + 1}"
        ctes.append(f"""dang{i} AS (
            SELECT CAST(COALESCE(sum(CAST(p.rank AS DECIMAL(20,10))), 0)
                        AS DOUBLE) AS m
            FROM {prev} p LEFT JOIN outd o ON p.node = o.src
            WHERE o."out" IS NULL)""")
        ctes.append(f"""con{i} AS (
            SELECT e.dst,
                   CAST(sum(CAST({_q9_sql('p.rank / o."out"')}
                                 AS DECIMAL(20,10))) AS DOUBLE) AS inflow
            FROM e
            JOIN {prev} p ON e.src = p.node
            JOIN outd o ON e.src = o.src
            GROUP BY e.dst)""")
        inner = (f"{one_minus_d} / (SELECT n FROM nn) "
                 f"+ {dd} * (COALESCE(c.inflow, CAST(0.0 AS DOUBLE)) "
                 f"+ (SELECT m FROM dang{i}) / (SELECT n FROM nn))")
        ctes.append(f"""{cur} AS (
            SELECT n.node, {_q9_sql(inner)} AS rank
            FROM nodes n LEFT JOIN con{i} c ON n.node = c.dst)""")
    return ("WITH " + ",\n".join(ctes)
            + f" SELECT node, rank FROM pr{iterations}")
