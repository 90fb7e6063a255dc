"""Trainable quality classifier — hashing-trick logistic regression,
the fastText-style linear gate real corpus pipelines train on weak
labels (GPT-3's WebText-similarity LR, CCNet's fastText filters) as
the learned upgrade over the fixed quality heuristics in
`operators/text.py`.

Features: word unigrams hashed into ``n_buckets`` via the engine's
cross-engine md5 idiom (hex-prefix -> integer -> modulo — identical
in Spark and DuckDB, the same trick the deterministic samplers use)
plus one bias bucket per document. Training: full-batch gradient
descent on the logistic loss, each round two bounded shuffles
(broadcast weight join -> per-doc score; residual join -> per-bucket
gradient). The weight vector (<= n_buckets+1 rows) is the only thing
the driver ever holds — the Lloyd's-centroid pattern.

DETERMINISM (the point): every float that crosses an aggregation is
rounded to 9 dp and summed as DECIMAL(20,10), weights re-round after
every update, and probabilities round before use — so training is
bit-reproducible across partitionings AND across engines. The SQL
twin (:func:`train_predict_sql`) unrolls the same rounds as chained
CTEs; the board query hash-matches a TRAINED model's predictions
against DuckDB running the identical descent.

At 100 TB: features are one explode + groupBy per corpus pass;
each GD round shuffles (doc, bucket) contribution rows keyed by doc
then bucket — both map-side combined; the weight table broadcasts.
Rounds are fixed and few (a linear probe, not a deep net)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark import planhook
from data_migration_etl_scripts_spark.gates import checkpoint_observed
from data_migration_etl_scripts_spark.operators import textprep as tp

_DEC = "decimal(20,10)"


def _bucket(col: F.Column, n_buckets: int) -> F.Column:
    """Cross-engine stable hash bucket: first 6 md5 hex chars as an
    integer, modulo n_buckets (md5 of the UTF-8 term bytes — the
    engine's deterministic-sampler idiom)."""
    hx = F.substring(F.md5(col.cast("binary")), 1, 6)
    return F.conv(hx, 16, 10).cast("long") % n_buckets


def _bucket_sql(expr: str, n_buckets: int) -> str:
    return (f"CAST(('0x' || substr(md5({expr}), 1, 6)) AS BIGINT) "
            f"% {n_buckets}")


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 1024
) -> DataFrame:
    """(doc, text) -> sparse feature rows (doc_id, h, x): hashed
    unigram counts plus a bias bucket (h = n_buckets, x = 1) so empty
    documents still carry a trainable intercept."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tp.tokens(text_col)).alias("w")
    )
    grams = toks.groupBy(
        "doc_id", _bucket(F.col("w"), n_buckets).alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    bias = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(n_buckets).cast("long").alias("h"),
        F.lit(1.0).alias("x"),
    )
    return grams.unionByName(bias)


def hashed_features_sql(
    table: str, id_col: str, text_col: str, n_buckets: int = 1024
) -> str:
    toks = tp.tokens_sql(text_col)
    return f"""
        SELECT doc_id, {_bucket_sql('w', n_buckets)} AS h,
               CAST(count(*) AS DOUBLE) AS x
        FROM (SELECT {id_col} AS doc_id, unnest({toks}) AS w FROM {table})
        GROUP BY doc_id, h
        UNION ALL
        SELECT {id_col} AS doc_id, {n_buckets} AS h, 1.0 AS x FROM {table}
    """


def _weight_lookup(w: dict[int, float]) -> F.Column:
    """Tiny weight vector as a JVM map literal: ``element_at`` gives
    the same missing->null semantics as the former broadcast left
    join, with ZERO jobs — the old
    ``createDataFrame(list(w.items()))`` route parallelized the <=
    n_buckets+1 tuples into defaultParallelism PythonRDD partitions,
    so every GD round launched ~32 Python workers (serially, under
    the createPythonWorker monitor) just to re-parse the weight
    table; thread dumps showed the whole stage parked there (guide
    §4: eliminate the Python boundary).

    Built as ONE SQL string parsed by F.expr, not F.create_map over
    2*|w| F.lit columns: each Column operator costs a py4j round trip
    at plan-BUILD time, and profiling showed the rebuilt map (~1026
    lits x 4 plans) putting ~3.5 s of driver time on the query
    (build 3.54 s vs exec 1.01 s warm). %.17E literals round-trip
    doubles exactly and parse as DOUBLE (never DECIMAL)."""
    body = ", ".join(
        f"{int(h)}L, {float(wv):.17E}" for h, wv in w.items()
    )
    return F.expr(f"map({body})")


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    rounds: int = 3,
    lr: float = 0.5,
) -> dict[int, float]:
    """Full-batch GD on the logistic loss. ``labels`` = (doc_id, y in
    {0, 1}). Returns bucket -> weight after ``rounds`` updates.
    Deterministic: 9-dp rounding + DECIMAL sums at every aggregation,
    so the result is independent of partitioning (and matches the SQL
    twin bit for bit)."""
    import os

    # the feature row count rides the checkpoint action: a separate
    # feats.count() would be a second scan spent only on picking the
    # driver-vs-distributed path
    feats, counts = checkpoint_observed(feats, n=F.count(F.lit(1)))
    # Two-path (the Lloyd's/pagerank-small pattern, guide §1.2): below
    # the cap the GD loop runs ENTIRELY on the driver over the
    # collected (doc, bucket, x) rows — the distributed loop costs
    # ~8 stages per round in scheduler latency alone while the actual
    # arithmetic is microseconds (measured: 25 stages, 2.3 s CPU for
    # 500 docs). The update arithmetic is replicated op-for-op
    # (9-dp HALF_UP double rounding = Spark's BigDecimal round, exact
    # decimal sums as scaled ints, float(sum)/n = the same IEEE
    # divide), so the returned weights are bit-identical — pinned by
    # tests/test_classifier.py::test_driver_and_spark_paths_agree.
    # Above the cap the distributed loop below is untouched.
    cap = int(os.environ.get("SPARK_GRAFT_LOGREG_DRIVER_ROWS", 2_000_000))
    if counts["n"] <= cap:
        got = _train_logreg_driver(feats, labels, rounds, lr)
        if got is not None:
            return got
    # the label count (the gradient's divisor) rides the labels'
    # checkpoint; the driver path takes it from its collect instead
    labels, label_stats = checkpoint_observed(labels, n=F.count(F.lit(1)))
    n_docs = label_stats["n"]
    w: dict[int, float] = {}
    for _ in range(rounds):
        if w:
            scored = feats.withColumn(
                "w", F.element_at(_weight_lookup(w), F.col("h"))
            )
        else:
            scored = feats.withColumn("w", F.lit(None).cast("double"))
        s = (
            scored.select(
                "doc_id",
                F.round(F.col("x") * F.coalesce("w", F.lit(0.0)), 9)
                .cast(_DEC).alias("c"),
            )
            .groupBy("doc_id").agg(F.sum("c").cast("double").alias("s"))
        )
        p = labels.join(s, "doc_id", "left").select(
            "doc_id", "y",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.coalesce("s", F.lit(0.0)))),
                9,
            ).alias("p"),
        )
        g_df = (
            feats.join(p, "doc_id")
            .select(
                "h",
                F.round((F.col("p") - F.col("y")) * F.col("x"), 9)
                .cast(_DEC).alias("c"),
            )
            .groupBy("h")
            .agg(F.round(F.sum("c").cast("double") / n_docs, 9).alias("g"))
        )
        planhook.capture("logreg_gradient_round", g_df)
        g_rows = g_df.collect()  # <= n_buckets+1 rows — the Lloyd's pattern
        for r in g_rows:
            w[r["h"]] = round(w.get(r["h"], 0.0) - lr * r["g"], 9)
    return w


def _r9_int_exact(v: float) -> int:
    """Spark's ``CAST(round(v, 9) AS DECIMAL(20,10))`` as an EXACT
    scaled integer (value * 1e9): BigDecimal.valueOf(v) is the
    double's shortest decimal representation — Python ``repr`` yields
    the same decimal value — rounded HALF_UP at 9 dp (both halves
    round away from zero for negatives). Returning the integer keeps
    the subsequent DECIMAL(20,10) sum exact and order-independent,
    exactly like the distributed aggregate.

    JVM assumption (ADVICE r12): ``repr(v) == Double.toString(v)``
    holds on JDK >= 19 (JDK-4511638 made Double.toString emit the
    shortest decimal); older JDKs can emit a longer non-shortest
    decimal whose 9-dp HALF_UP could differ within an ulp of a .5
    boundary. This repo pins Spark 4.x (requires JDK 17+; deploy on
    19+), and the bit-exactness tests compare against the local JVM,
    so a violating JDK fails tests/test_classifier.py rather than
    silently diverging."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(v)).quantize(Decimal("1E-9"), ROUND_HALF_UP).scaleb(9))


def _r9_int(v: float) -> int:
    """Fast path for :func:`_r9_int_exact`: HALF_UP of the decimal
    value equals ``floor(v*1e9 + 0.5)`` whenever v*1e9 is not within a
    few ulp of a .5 boundary (the decimal-vs-binary discrepancy of the
    shortest repr is < 1 ulp, so away from the boundary both round the
    same way; ``floor(t+0.5)`` is round-half-away for every non-half
    t, negatives included). Boundary-band values defer to the exact
    Decimal path. Pinned against the exact path over random and
    adversarial inputs by tests/test_classifier.py."""
    import math

    t = v * 1e9
    r = math.floor(t + 0.5)
    d = (t + 0.5) - r
    eps = 1e-6 + abs(t) * 1e-15
    if d < eps or d > 1.0 - eps:
        return _r9_int_exact(v)
    return r


def _sigmoid(s: float) -> float:
    """The distributed loop's ``1.0 / (1.0 + exp(-s))`` with the JVM's
    overflow semantics: ``F.exp`` of a huge argument returns +Infinity
    and the quotient is exactly 0.0, while CPython's ``math.exp``
    raises OverflowError past ~709.78 — map the overflow to the same
    1/(1+inf) = 0.0 the Spark path computes (ADVICE r12; pinned by
    tests/test_classifier.py::test_driver_sigmoid_extreme_scores)."""
    import math

    try:
        return 1.0 / (1.0 + math.exp(-s))
    except OverflowError:
        return 0.0


def _round9(v: float) -> float:
    """Spark's ``round(double, 9)`` (HALF_UP on the shortest decimal
    representation), back to double."""
    return _r9_int(v) / 10 ** 9


def _train_logreg_driver(
    feats: DataFrame, labels: DataFrame, rounds: int, lr: float
) -> dict[int, float] | None:
    """Driver-resident GD over the collected feature rows — the exact
    per-op replica of the distributed loop in :func:`train_logreg`
    (returns None — caller falls back to the distributed loop — on
    duplicate label rows or null keys, which the dict factorization
    below cannot replicate):

    - ``round(x * coalesce(w, 0), 9)`` -> :func:`_r9_int` of the same
      IEEE double product;
    - ``sum(CAST(c AS DECIMAL(20,10)))`` -> exact integer sum of the
      scaled 9-dp values (the decimal sum is exact in both engines);
    - ``CAST(s AS DOUBLE)`` -> ``int / 10**9``: Python's int/int true
      division is correctly rounded, the same decimal->double
      conversion BigDecimal.doubleValue performs;
    - the sigmoid and gradient rounds reuse the identical expressions
      (``math.exp`` is the platform libm — the same function the
      DuckDB oracle twin calls, which the distributed path already
      hash-matches), and the weight update line is literally the one
      the distributed path runs on the driver.
    """
    import numpy as np

    # Arrow collect (toPandas), not Row collect: the feature relation
    # is ~|docs| x |distinct hashed tokens| rows — Row materialization
    # costs ~1.5 s/M rows where Arrow batches cost ~0.1 s
    fpdf = feats.select("doc_id", "h", "x").toPandas()
    lpdf = labels.select("doc_id", "y").toPandas()
    # fall back to the distributed loop (return None) on inputs this
    # replica's dict factorization cannot reproduce bit-for-bit
    # (ADVICE r12): duplicate label rows per doc_id (the joins count
    # them with multiplicity; y_by_doc/doc_idx would keep one), and
    # null keys (pandas coerces nullable int64 to float64, and dict
    # keys would treat NaN as an ordinary node where the equi-joins
    # never match null).
    if (
        lpdf["doc_id"].duplicated().any()
        or lpdf["doc_id"].isna().any()
        or fpdf["doc_id"].isna().any()
        or fpdf["h"].isna().any()
    ):
        return None
    # labels.count(), without its job: every label row is collected
    n_docs = len(lpdf)
    docs = lpdf["doc_id"].tolist()
    y_by_doc = dict(zip(docs, lpdf["y"].tolist()))
    # factorized indices: di over LABELED docs (rows of unlabeled docs
    # drop out of the gradient, replicating the inner join), hi over
    # buckets
    doc_idx = {d: i for i, d in enumerate(docs)}
    all_docs = fpdf["doc_id"].tolist()
    hs = fpdf["h"].tolist()
    xs = np.asarray(fpdf["x"].tolist(), dtype=np.float64)
    buckets = sorted(set(hs))
    h_idx = {h: i for i, h in enumerate(buckets)}
    hi = np.fromiter((h_idx[h] for h in hs), dtype=np.int64, count=len(hs))
    # s-pass groups by EVERY doc in feats; factorize the extras past
    # the labeled block
    s_extra = {}
    for d in all_docs:
        if d not in doc_idx and d not in s_extra:
            s_extra[d] = len(docs) + len(s_extra)
    di_all = np.fromiter(
        (doc_idx.get(d) if d in doc_idx else s_extra[d] for d in all_docs),
        dtype=np.int64, count=len(all_docs),
    )
    labeled_rows = di_all < len(docs)
    y_arr = np.asarray([y_by_doc[d] for d in docs], dtype=np.float64)
    n_all = len(docs) + len(s_extra)

    def r9_int_vec(v: np.ndarray) -> np.ndarray:
        """Vectorized :func:`_r9_int` with the same boundary guard —
        ambiguous elements defer to the exact Decimal path."""
        t = v * 1e9
        r = np.floor(t + 0.5)
        d = (t + 0.5) - r
        eps = 1e-6 + np.abs(t) * 1e-15
        out = r.astype(np.int64)
        bad = (d < eps) | (d > 1.0 - eps)
        if bad.any():
            for i in np.nonzero(bad)[0]:
                out[i] = _r9_int_exact(float(v[i]))
        return out

    # only buckets reaching the gradient (rows surviving the labels
    # inner join) ever enter the weight dict — buckets confined to
    # unlabeled docs stay ABSENT (null -> coalesce 0), like the
    # distributed collect
    grad_buckets = np.unique(hi[labeled_rows])
    w_arr = np.zeros(len(buckets), dtype=np.float64)
    for _ in range(rounds):
        # s = feats -> round9(x * coalesce(w, 0)) -> DECIMAL sum by doc
        c = r9_int_vec(xs * w_arr[hi])
        s_int = np.zeros(n_all, dtype=np.int64)
        np.add.at(s_int, di_all, c)
        # p = labels LEFT JOIN s: round9(sigmoid(coalesce(s, 0)));
        # math.exp (libm), not np.exp (SIMD variant may differ by an
        # ulp from the libm the JVM/DuckDB agreement rides on)
        p_arr = np.asarray(
            [
                _round9(_sigmoid(int(si) / 10 ** 9))
                for si in s_int[: len(docs)]
            ],
            dtype=np.float64,
        )
        # g = feats INNER JOIN p -> round9((p - y) * x) -> DECIMAL sum
        #     by h -> round9(CAST(sum AS DOUBLE) / n_docs)
        li = di_all[labeled_rows]
        g_rows = r9_int_vec((p_arr[li] - y_arr[li]) * xs[labeled_rows])
        g_int = np.zeros(len(buckets), dtype=np.int64)
        np.add.at(g_int, hi[labeled_rows], g_rows)
        for j in grad_buckets:
            g = _round9((int(g_int[j]) / 10 ** 9) / n_docs)
            w_arr[j] = round(float(w_arr[j]) - lr * g, 9)
    return {buckets[j]: float(w_arr[j]) for j in grad_buckets}


def predict(
    feats: DataFrame, weights: dict[int, float], labels: DataFrame
) -> DataFrame:
    """(doc_id, y, p): scored probabilities under a trained weight
    vector (map-literal lookup, one shuffle)."""
    w_col = (
        F.element_at(_weight_lookup(weights), F.col("h"))
        if weights else F.lit(None).cast("double")
    )
    s = (
        feats.withColumn("w", w_col)
        .select(
            "doc_id",
            F.round(F.col("x") * F.coalesce("w", F.lit(0.0)), 9)
            .cast(_DEC).alias("c"),
        )
        .groupBy("doc_id").agg(F.sum("c").cast("double").alias("s"))
    )
    return labels.join(s, "doc_id", "left").select(
        "doc_id", "y",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.coalesce("s", F.lit(0.0)))), 6
        ).alias("p"),
    )


def train_predict_sql(
    feats_sql: str,
    labels_sql: str,
    rounds: int = 3,
    lr: float = 0.5,
) -> str:
    """DuckDB twin of train_logreg + predict: the GD rounds unroll as
    chained CTEs (w0 empty -> s/p/g/w per round), with the identical
    9-dp + DECIMAL discipline. ``labels_sql`` must expose (doc_id, y);
    ``feats_sql`` (doc_id, h, x)."""
    ctes = [
        f"feats AS ({feats_sql})",
        f"labels AS ({labels_sql})",
        "n AS (SELECT count(*) AS n_docs FROM labels)",
        "w0 AS (SELECT CAST(NULL AS BIGINT) AS h, CAST(NULL AS DOUBLE) AS w "
        "WHERE false)",
    ]
    for r in range(rounds):
        prev, cur = f"w{r}", r + 1
        ctes.append(f"""s{cur} AS (
            SELECT f.doc_id,
                   CAST(sum(CAST(round(f.x * COALESCE(w.w, 0.0), 9)
                                 AS DECIMAL(20,10))) AS DOUBLE) AS s
            FROM feats f LEFT JOIN {prev} w ON f.h = w.h
            GROUP BY f.doc_id)""")
        ctes.append(f"""p{cur} AS (
            SELECT l.doc_id, l.y,
                   round(1.0 / (1.0 + exp(-COALESCE(s.s, 0.0))), 9) AS p
            FROM labels l LEFT JOIN s{cur} s ON l.doc_id = s.doc_id)""")
        ctes.append(f"""g{cur} AS (
            SELECT f.h,
                   round(CAST(sum(CAST(round((p.p - p.y) * f.x, 9)
                                       AS DECIMAL(20,10))) AS DOUBLE)
                         / (SELECT n_docs FROM n), 9) AS g
            FROM feats f JOIN p{cur} p ON f.doc_id = p.doc_id
            GROUP BY f.h)""")
        ctes.append(f"""w{cur} AS (
            SELECT COALESCE(g.h, w.h) AS h,
                   round(COALESCE(w.w, 0.0) - {lr!r} * COALESCE(g.g, 0.0), 9)
                   AS w
            FROM g{cur} g FULL OUTER JOIN {prev} w ON g.h = w.h)""")
    final = f"""sF AS (
            SELECT f.doc_id,
                   CAST(sum(CAST(round(f.x * COALESCE(w.w, 0.0), 9)
                                 AS DECIMAL(20,10))) AS DOUBLE) AS s
            FROM feats f LEFT JOIN w{rounds} w ON f.h = w.h
            GROUP BY f.doc_id)"""
    ctes.append(final)
    return ("WITH " + ",\n".join(ctes) + f"""
        SELECT l.doc_id, l.y,
               round(1.0 / (1.0 + exp(-COALESCE(s.s, 0.0))), 6) AS p
        FROM labels l LEFT JOIN sF s ON l.doc_id = s.doc_id
    """)
