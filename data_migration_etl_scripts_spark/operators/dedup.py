"""Deduplication operator family for large-scale document pipelines.

Five strategies, all declarative Spark plans (no Python in the hot
path), each with a DuckDB-oracle-compatible formulation:

- :func:`exact_dup_groups`      — content-hash group-by (exact dedup).
- :func:`minhash_lsh_pairs`     — MinHash signatures + banded LSH
                                  candidate join (near-dup at scale).
- :func:`ngram_jaccard_pairs`   — exact n-gram Jaccard via a shared-
                                  shingle candidate join (the verifier
                                  for minhash, and a fine standalone
                                  dedup at moderate scale).
- :func:`simhash64`             — per-doc SimHash fingerprint over
                                  token hashes (+ banded pair join).
- :func:`embedding_neardup_pairs` — cosine near-dup over embeddings,
                                  sign-LSH bucketed so it never goes
                                  all-pairs.

Scale design (100 TB / 1000 executors):
- Every strategy is shuffle-bounded by *candidate generation*, never
  all-pairs: LSH bands, shared shingles, or sign-buckets.
- The explode(shingles) -> groupBy(shingle) join is the classic
  MinHash candidate shape; hot shingles (boilerplate) are the skew
  risk -> ``ngram_jaccard_pairs`` drops shingles shared by more than
  ``max_shingle_freq`` docs (stopword-shingle suppression), which is
  both a perf guard and standard practice.
- md5 is used for oracle parity; swap to ``xxhash64`` in production
  (see textprep module notes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.gates import checkpoint_observed
from data_migration_etl_scripts_spark.operators import textprep as tp

# ------------------------------------------------------------ exact


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (canonicalized) content; keep the min id.

    Returns (content_hash, keep_id, dup_count) for groups of size > 1.
    One shuffle on the 128-bit hash; partial aggregation map-side.
    """
    canon = F.concat_ws(" ", tp.tokens(text_col))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(canon).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def exact_dup_groups_sql(table: str, id_col: str, text_col: str) -> str:
    canon = f"array_to_string({tp.tokens_sql(text_col)}, ' ')"
    return f"""
        SELECT md5({canon}) AS content_hash,
               min({id_col}) AS keep_id,
               count(*) AS dup_count
        FROM {table}
        GROUP BY 1
        HAVING count(*) > 1
    """


# ---------------------------------------------------------- minhash


# universal-hash family for minhash permutations: (a_j*h + b_j) mod p
# over a 28-bit base hash. p = 2^31-1 (Mersenne prime); products stay
# well inside int64 so the same arithmetic runs in Spark and DuckDB.
MINHASH_P = 2_147_483_647
MINHASH_BASE_DIGITS = 7  # 28-bit base hash: enough for shingle minima


def _perm_coeffs(j: int) -> tuple[int, int]:
    """Independent md5-derived (a, b) per permutation.

    NOT an arithmetic progression like a_j = (j+1)*c: with that family
    a_j*h mod p = (j+1)*(c*h mod p), so one shingle whose c*h mod p is
    small wins MANY positions at once and est_sim is wildly inflated
    for pairs sharing it (observed 0.375 estimated vs 0.01 true
    Jaccard). Hash-derived coefficients make positions independent;
    tests/test_approx_and_recall.py pins the estimator against true
    Jaccard.
    """
    import hashlib

    h = hashlib.md5(f"minhash-perm:{j}".encode()).digest()
    a = (int.from_bytes(h[:8], "big") % (MINHASH_P - 1)) + 1
    b = int.from_bytes(h[8:16], "big") % MINHASH_P
    return a, b


def shingle_hashes(shingles: Column) -> Column:
    """md5-hash each shingle ONCE to a 28-bit int array.

    Callers must materialize this column (projection + exchange/persist)
    before feeding it to :func:`minhash_signature` — otherwise Catalyst
    CollapseProject inlines the md5 pass into all k permutation
    transforms and the single-hash saving evaporates.
    """
    return F.transform(shingles, lambda s: tp.md5_long(s, digits=MINHASH_BASE_DIGITS))


def minhash_signature(hashes: Column, k: int = 12) -> Column:
    """k-permutation MinHash over pre-hashed shingles: array of k
    BIGINT minima via cheap `(a_j*h + b_j) mod p` universal-hash
    permutations. NULL (not []) when the doc has no shingles, so empty
    docs never collide into one LSH bucket.
    """

    # one-param lambda via factory: a defaulted second param would
    # receive pyspark's array index, not the closed-over coefficients
    def perm(j: int):
        a, b = _perm_coeffs(j)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    sigs = [F.array_min(F.transform(hashes, perm(j))) for j in range(k)]
    return F.when(F.size(hashes) > 0, F.array(*sigs))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    rows_per_band = k // bands. Two docs are candidates iff at least
    one band of their signatures is identical; est_sim is the fraction
    of agreeing signature positions (unbiased Jaccard estimate).
    Returns (doc_a, doc_b, est_sim) with doc_a < doc_b, deduped.
    """
    assert k % bands == 0, "k must divide into equal bands"
    r = k // bands

    # Physical-plan shaping (matters at every scale):
    # 1. signatures via EXPLODE + k codegen'd min() aggregates — not
    #    array lambdas: higher-order transform() is tree-interpreted
    #    per element (observed ~20s for 5k docs), while explode +
    #    hash-agg stays in whole-stage codegen with map-side partial
    #    mins, so the doc_id shuffle carries one row per doc.
    #    Docs with zero shingles vanish at explode — exactly the "no
    #    empty-doc LSH bucket" rule.
    # 2. persist the slim (doc_id, sig) table — it feeds band explode
    #    plus two signature re-joins; without it the self-join would
    #    recompute every signature on both sides (observed 40x slower).
    # 3. the band self-join carries only (doc_id, band) — signatures
    #    re-attach to the (far smaller) candidate-pair set afterwards.
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tp.word_shingles(tp.tokens(text_col), n=shingle_n)).alias("s"),
    )
    h = tp.md5_long(F.col("s"), digits=MINHASH_BASE_DIGITS)
    mins = []
    for j in range(k):
        a, b = _perm_coeffs(j)
        mins.append(F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{j}"))
    docs = (
        exploded.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[F.col(f"m{j}") for j in range(k)]).alias("sig"))
        .persist()
    )
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.element_at("sig", b * r + j + 1).cast("string") for j in range(r)],
                )
            )
            for b in range(bands)
        ]
    )
    banded = docs.select("doc_id", F.posexplode(band_keys).alias("band_id", "band_key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return pairs.select(
        "doc_a", "doc_b", F.round(agree / F.lit(float(k)), 6).alias("est_sim")
    )


def minhash_lsh_pairs_sql(
    table: str, id_col: str, text_col: str, k: int = 12, bands: int = 4, shingle_n: int = 3
) -> str:
    r = k // bands
    shingles = tp.word_shingles_sql(tp.tokens_sql(text_col), n=shingle_n)
    base_hash = tp.md5_long_sql("s", digits=MINHASH_BASE_DIGITS)
    sig_elems = ", ".join(
        "list_min(list_transform(hs, h -> ({a} * h + {b}) % {p}))".format(
            a=_perm_coeffs(j)[0], b=_perm_coeffs(j)[1], p=MINHASH_P
        )
        for j in range(k)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"CAST(sig[{b * r + j + 1}] AS VARCHAR)" for j in range(r)),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sig_a[{i + 1}] = sig_b[{i + 1}] THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
        WITH shingled AS (
            SELECT {id_col} AS doc_id, {shingles} AS sh FROM {table}
        ),
        sigs AS (
            SELECT doc_id, [{sig_elems}] AS sig
            FROM (SELECT doc_id, list_transform(sh, s -> {base_hash}) AS hs
                  FROM shingled WHERE len(sh) > 0)
        ),
        banded AS ({band_rows}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b, sa.sig AS sig_a, sb.sig AS sig_b
            FROM cand
            JOIN sigs sa ON cand.doc_a = sa.doc_id
            JOIN sigs sb ON cand.doc_b = sb.doc_id
        )
        SELECT doc_a, doc_b, round(({agree}) / {float(k)}, 6) AS est_sim
        FROM pairs
    """


# --------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 50,
) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles, candidate-joined.

    Candidates = doc pairs sharing >= 1 (non-ubiquitous) shingle;
    |A ∩ B| counted per pair from the shared-shingle join, |A ∪ B| =
    |A| + |B| − |A ∩ B|. Shingles appearing in more than
    ``max_shingle_freq`` docs are dropped from candidate generation —
    boilerplate suppression + skew guard (they cannot push a true
    near-dup below threshold on their own at realistic sizes, and they
    are what makes naive shingle-joins explode at scale).

    NOTE exactness caveat: dropping ubiquitous shingles makes both the
    intersection and the doc sizes slightly smaller; the SAME filtered
    universe is used on both sides (and in the oracle), so the metric
    stays well-defined.
    """
    sh = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tp.word_shingles(tp.tokens(text_col), n=shingle_n)).alias("shingle"),
        )
    )
    # hot-shingle suppression via a count() window: one shuffle on
    # shingle computes freq, and the downstream self-join re-reads the
    # SAME exchange on both sides (ReusedExchange) — measured 2.5x
    # faster than the hash-agg + broadcast-anti-join alternative, which
    # cannot share work between the hot-set agg and the join sides.
    sh = sh.withColumn("freq", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    # LAZY localCheckpoint (r13, guide §2.4): ReusedExchange shares
    # only the exchange — the Window (sort + count) above it re-ran
    # per consumer (both join sides AND the sizes aggregate; three
    # ~4 s-CPU window passes in the cold profile). The lazy checkpoint
    # adds NO serial job: it materializes inside the query's own
    # action and every consumer reads the same blocks.
    sh = (
        sh.where(F.col("freq") <= max_shingle_freq).drop("freq")
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 50,
) -> str:
    shingles = tp.word_shingles_sql(tp.tokens_sql(text_col), n=shingle_n)
    return f"""
        WITH sh0 AS (
            SELECT {id_col} AS doc_id, unnest({shingles}) AS shingle FROM {table}
        ),
        sh AS (
            SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS freq FROM sh0
            ) WHERE freq <= {max_shingle_freq}
        ),
        sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= {threshold}
    """


# ----------------------------------------------------------- ppjoin


def ppjoin_candidate_estimate(
    prefix: DataFrame,
) -> int:
    """Pre-flight candidate-volume estimate for the PPJoin equi-join:
    the raw join output over a shared prefix token with df_p docs in
    prefixes is exactly C(df_p, 2) ordered pairs, so the sum of the
    doc-frequency second moment over PREFIX rows upper-bounds the
    join's row volume before the size/positional screens — one cheap
    aggregate over a relation the join builds anyway. On healthy
    (Zipf) corpora prefix tokens are rare and this stays near the
    true near-dup volume; on degenerate vocabularies it exposes the
    quadratic blow-up BEFORE the 850-second join does
    (SCALE.md "PPJoin at sf3 is candidate-bound")."""
    row = (
        prefix.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("est"))
        .collect()[0]
    )
    return int(row["est"] or 0)


#: ppjoin_pairs broadcasts the per-doc token arrays only up to this many
#: docs (docs x avg shingles x ~16 B must stay well under the 8 GB
#: broadcast ceiling).
_BCAST_DOCS_MAX = 2_000_000


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int = 1,
    warn_candidates: int = 50_000_000,
    max_candidates: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity join via the AllPairs/PPJoin prefix
    filter — the principled candidate bound: unlike
    :func:`ngram_jaccard_pairs`'s ubiquitous-shingle cap (a heuristic
    that also shrinks the measured universe), the prefix filter is
    LOSSLESS at the given threshold. Order every doc's distinct
    tokens by global rarity (freq asc, token asc); any pair with
    Jaccard >= t over sets of sizes na <= nb must share a token
    among each side's first n - ceil(t*n) + 1 tokens — so the
    candidate join touches only prefix rows, plus a size-ratio
    filter (t*na <= nb <= na/t), then exact verification counts the
    full intersection.

    Scale shape: one vocab-frequency shuffle, then ONE per-doc
    aggregate (size, rarity-ordered tokens, sorted token array) that
    is checkpointed once; per-doc ordering is an in-row array sort
    (NO window, NO global sort), and the prefix is a narrow slice +
    posexplode of that checkpoint. The candidate join is bounded by
    prefix length (~(1-t)*|d| rows per doc) and rare tokens first —
    the hot-token explosion naive shingle joins hit cannot occur
    because ubiquitous tokens sit at the END of every ordering,
    outside the prefixes.

    Degenerate-vocab note: on corpora whose distinct-token universe is
    tiny relative to doc count (the synthetic test tables), even rare
    tokens appear in thousands of docs and near-uniform doc sizes
    blunt the size/position bounds — candidates lawfully approach
    all-pairs because that many pairs genuinely clear prefix+size
    screening. Real web/text corpora (Zipf vocab, varied lengths) are
    the regime the filters were designed for. The positional filter
    (ubound >= alpha) is lossless, so it needs no oracle twin.

    Guardrail (r8): before launching the join, the prefix
    doc-frequency second moment estimates the raw candidate volume
    (:func:`ppjoin_candidate_estimate`). Above ``warn_candidates`` a
    UserWarning names the regime and the knobs (raise ``threshold``,
    widen ``shingle_n`` — SCALE.md's measured advice); above
    ``max_candidates`` (opt-in) the join refuses with ValueError so a
    cluster never discovers the quadratic at hour three. The
    estimate is one aggregate over the prefix, a narrow projection of
    the per-doc checkpoint, so the pre-flight costs a fraction of the
    join."""
    num, den = _rational(threshold)

    def ceil_tn(ncol):
        # exact ceil(threshold * n) as integer arithmetic: ceil(t*n)
        # with a DOUBLE t is a cross-engine trap (0.7*10 is
        # 7.000000000000001 in IEEE -> ceil 8; DuckDB's DECIMAL
        # literal gives exactly 7.0 -> ceil 7)
        return F.floor((F.lit(num) * ncol + F.lit(den - 1)) / F.lit(den))

    feat = (
        tp.tokens(text_col) if shingle_n <= 1
        else tp.word_shingles(tp.tokens(text_col), n=shingle_n)
    )
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(feat).alias("tok")
    ).distinct()
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    # ONE per-doc aggregate carries everything downstream reads: the
    # size n, the rarity order (freq asc, tok asc — tokens are distinct
    # per doc, so the order is total) and the sorted token array the
    # verification intersects. It is materialized once, by an eager
    # checkpoint whose action also counts its rows: one row per doc,
    # so nd is the exact doc count the broadcast gate reads. Under AQE
    # every shuffle stage below a build-time action is a serial job of
    # its own, so the tok relation feeds this one aggregate only.
    docs, doc_stats = checkpoint_observed(
        tok.join(freq, "tok").groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_list(F.struct("freq", "tok"))).alias("ord"),
            F.sort_array(F.collect_list("tok")).alias("toks"),
        ),
        nd=F.count(F.lit(1)),
    )
    # the prefix (first n - ceil(t*n) + 1 tokens in rarity order) is a
    # narrow projection of the checkpoint: no shuffle, no window
    prefix = docs.select(
        "doc_id", "n",
        F.posexplode(
            F.slice("ord", F.lit(1), F.col("n") - ceil_tn(F.col("n")) + 1)
        ).alias("pos", "ft"),
    ).select("doc_id", F.col("ft.tok").alias("tok"), "n",
             (F.col("pos") + 1).alias("pos"))
    if warn_candidates is not None or max_candidates is not None:
        est = ppjoin_candidate_estimate(prefix)
        knobs = (
            f"estimated ~{est:,} raw candidate pairs at threshold="
            f"{threshold}, shingle_n={shingle_n} — a degenerate-vocab "
            "regime (prefix tokens shared by many docs; candidates grow "
            "quadratically in per-token doc frequency). Knobs: raise "
            "`threshold` (shorter prefixes, tighter size screen) or "
            "widen `shingle_n` (grows the token universe). See the "
            "SCALE.md PPJoin section for measured behavior."
        )
        if max_candidates is not None and est > max_candidates:
            raise ValueError(
                f"ppjoin_pairs pre-flight refused: {knobs} "
                f"(max_candidates={max_candidates:,})"
            )
        if warn_candidates is not None and est > warn_candidates:
            import warnings

            warnings.warn(knobs, UserWarning, stacklevel=2)
    # PPJoin's POSITIONAL filter (lossless, result set unchanged — the
    # oracle needs no twin of it): a match at prefix positions (pa,
    # pb) bounds the achievable overlap by 1 + min(na-pa, nb-pb),
    # which must reach alpha = ceil(t/(1+t) * (na+nb)). On small-vocab
    # corpora the token prefix alone degenerates toward all-pairs;
    # the position bound restores candidate selectivity.
    alpha = F.floor(
        (F.lit(num) * (F.col("a.n") + F.col("b.n")) + F.lit(num + den - 1))
        / F.lit(num + den)
    )
    ubound = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # carry each side's size through the candidate set: n is
    # functionally dependent on doc_id, so the distinct over
    # (doc_a, doc_b, na, nb) yields exactly the (doc_a, doc_b) pair
    # set — and the two sizes joins the verification used to re-attach
    # them disappear (guide §2.4).
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= ceil_tn(F.col("a.n")))
            & (F.col("a.n") >= ceil_tn(F.col("b.n")))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        # dedup on an EXPLICIT hash repartition by the pair key (r13):
        # the candidate exchange is byte-light but the verification
        # above it is CPU-dense (an array intersection per pair), and
        # AQE's size-based coalescing collapsed the tiny exchange to
        # ONE task (~2 s serial at sf0.1). An explicit partition count
        # opts out of coalescing; (doc_a, doc_b) hash-partitioning
        # satisfies the 4-column dedup's clustering (n is functionally
        # dependent on doc_id), so this is still a single exchange —
        # deterministic keys, retry-safe, per-task state bounded (the
        # token arrays attach AFTER via broadcast join).
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            "doc_a", "doc_b",
        )
        .dropDuplicates(["doc_a", "doc_b", "na", "nb"])
    )
    # VERIFICATION as map-side array intersection, not an explode:
    # joining candidates back to the (doc, tok) relation materializes
    # O(candidates x |d|) rows (measured 3.3G rows / ~400 s at sf1 for
    # 42M candidates of 77 shingles), while attaching each side's
    # feature ARRAY (one row per doc, broadcast) and intersecting in
    # codegen touches the same elements without shuffling any of them.
    # Candidate volume is corpus-dependent; verification cost per
    # candidate is what this bounds.
    # Broadcast only while the per-doc array relation is bounded
    # (_BCAST_DOCS_MAX); above the bound, plain equi-joins — AQE
    # still broadcasts if runtime sizes allow, otherwise the attach
    # is two shuffles of the CANDIDATE set, never an explode.
    # n rides the candidate set, so the verification never
    # re-attaches sizes.
    bc = F.broadcast if doc_stats["nd"] <= _BCAST_DOCS_MAX else (lambda df: df)
    arr_a = docs.select(F.col("doc_id").alias("doc_a"),
                        F.col("toks").alias("toks_a"))
    arr_b = docs.select(F.col("doc_id").alias("doc_b"),
                        F.col("toks").alias("toks_b"))
    inter = (
        cands.join(bc(arr_a), "doc_a")
        .join(bc(arr_b), "doc_b")
        .select(
            "doc_a", "doc_b", "na", "nb",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
        )
    )
    jac = F.round(
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
    )
    return (
        inter.select("doc_a", "doc_b", "n_inter", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ppjoin_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int = 1,
) -> str:
    """DuckDB twin of :func:`ppjoin_pairs` (same ordering, prefix
    bound, size-ratio filter, and verification; the ceil(t*n) bounds
    use the same exact rational integer arithmetic)."""
    toks = (
        tp.tokens_sql(text_col) if shingle_n <= 1
        else tp.word_shingles_sql(tp.tokens_sql(text_col), n=shingle_n)
    )
    t = threshold
    num, den = _rational(threshold)

    def ceil_tn(expr: str) -> str:
        return f"floor(({num} * {expr} + {den - 1}) / {den})"
    return f"""
        WITH tok AS (
            SELECT DISTINCT {id_col} AS doc_id, tok FROM (
                SELECT {id_col}, unnest({toks}) AS tok FROM {table}
            )
        ),
        freq AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
        sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        ordered AS (
            SELECT t.doc_id, t.tok, s.n,
                   row_number() OVER (PARTITION BY t.doc_id
                                      ORDER BY f.freq, t.tok) AS pos
            FROM tok t JOIN freq f ON t.tok = f.tok
                       JOIN sizes s ON t.doc_id = s.doc_id
        ),
        prefix AS (
            SELECT doc_id, tok, n FROM ordered
            WHERE pos <= n - {ceil_tn('n')} + 1
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN prefix b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
             AND b.n >= {ceil_tn('a.n')}
             AND a.n >= {ceil_tn('b.n')}
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cands c
            JOIN tok ta ON ta.doc_id = c.doc_a
            JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b, i.n_inter,
               round(i.n_inter
                     / (sa.n + sb.n - i.n_inter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE round(i.n_inter / (sa.n + sb.n - i.n_inter), 6) >= {t:.17e}
    """


def _rational(threshold: float) -> tuple[int, int]:
    """threshold as an exact small rational (num, den) — thresholds
    are human-written short decimals (0.7, 0.85), so den <= 10^6."""
    from fractions import Fraction

    fr = Fraction(str(threshold)).limit_denominator(10 ** 6)
    return fr.numerator, fr.denominator


# ---------------------------------------------------------- simhash

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint (token-unigram features).

    Each token hashes to a 60-bit int (md5-derived, oracle-portable);
    bit j of the fingerprint is set iff the sum over tokens of
    (+1 if bit j set else -1) is positive. One explode + one groupBy
    — the agg is ``bits`` conditional sums, all codegen'd.
    Returns (doc_id, simhash) for docs with >= 1 token.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tp.tokens(text_col)).alias("tok"),
    ).withColumn("h", tp.md5_long(F.col("tok")))
    weights = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"w{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*weights)
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"w{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else (fingerprint + bit)
    return agg.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_sql(table: str, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> str:
    toks = tp.tokens_sql(text_col)
    h = tp.md5_long_sql("tok")
    weights = ", ".join(
        f"sum(CASE WHEN (h & {1 << j}) <> 0 THEN 1 ELSE -1 END) AS w{j}" for j in range(bits)
    )
    combine = " + ".join(f"CASE WHEN w{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits))
    return f"""
        WITH toks AS (
            SELECT doc_id, {h} AS h FROM (
                SELECT {id_col} AS doc_id, unnest({toks}) AS tok FROM {table}
            )
        ),
        agg AS (SELECT doc_id, {weights} FROM toks GROUP BY doc_id)
        SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM agg
    """


# ------------------------------------------- embedding near-dup (LSH)


# Session-scoped build-once memoization: promoted in round 6 to a
# documented engine surface with an explicit invalidation contract and
# dead-session eviction — see data_migration_etl_scripts_spark/
# stage_cache.py. Re-exported here for the existing call sites.
from data_migration_etl_scripts_spark.stage_cache import (  # noqa: F401
    cached_expr,
    memo_stage,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def sign_bucket(vec: Column, bits: int = 8, offset: int = 0) -> Column:
    """Sign-LSH bucket id from ``bits`` dimensions starting at ``offset``.

    A degenerate (axis-aligned) random-hyperplane LSH: cheap,
    deterministic, oracle-portable. 2^bits buckets bound the pair join
    to within-bucket pairs. ``offset`` lets multi-table OR
    constructions (similarity.cosine_topk_bucketed ``n_tables``) draw
    independent hyperplane sets from disjoint dimension ranges;
    out-of-range dimensions contribute a 0 bit (F.get is null-safe, no
    ANSI index error).
    """
    out = None
    for i in range(bits):
        bit = F.when(F.get(vec, offset + i) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        out = bit if out is None else (out + bit)
    return out


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 8,
) -> DataFrame:
    """Cosine near-duplicate pairs, sign-LSH bucketed.

    Recall caveat (documented, standard LSH trade): pairs whose sign
    pattern differs in the first ``bucket_bits`` dims are missed; near-
    identical vectors almost always share the pattern. The oracle uses
    the same bucketing, so correctness-vs-oracle is exact.
    """
    v = F.col(vec_col).cast("array<double>")
    docs = df.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        sign_bucket(v, bucket_bits).alias("bucket"),
        _norm(v).alias("nrm"),
    ).where(F.col("nrm") > 0)
    a, b = docs.alias("a"), docs.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_sql(
    table: str, id_col: str, vec_col: str, threshold: float = 0.95, bucket_bits: int = 8
) -> str:
    bucket = " + ".join(
        f"CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(bucket_bits)
    )
    return f"""
        WITH docs AS (
            SELECT {id_col} AS vec_id,
                   CAST({vec_col} AS DOUBLE[]) AS v,
                   sqrt(list_inner_product(CAST({vec_col} AS DOUBLE[]), CAST({vec_col} AS DOUBLE[]))) AS nrm
            FROM {table}
        ),
        bucketed AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM docs WHERE nrm > 0)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= {threshold}
    """


# ------------------------------------------- paragraph-level dedup


def remove_duplicate_paragraphs(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Corpus-wide paragraph dedup: every paragraph keeps only its
    FIRST occurrence (ordered by (doc_id, position)); later copies are
    dropped from their documents and the text is reassembled. The
    substring-level companion to document dedup — kills boilerplate
    shared across otherwise-distinct pages.

    Skew-safe at corpus scale: the winner per paragraph-hash is a
    ``min(struct(doc_id, pos))`` AGGREGATE (map-side partials; a
    boilerplate paragraph occurring 10M times still shuffles one
    partial per task) — NOT a window over the hash, which would drag
    every copy of a hot paragraph into one partition. Reassembly
    sorts each doc's kept paragraphs with array_sort(collect_list)
    (order-independent collect, deterministic result).

    Returns (doc_id, text_clean, n_paras, n_dropped); documents whose
    every paragraph was dropped keep an empty text_clean.
    """
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).where(F.trim(F.col("para")) != "")
    hashed = paras.withColumn("ph", F.md5(F.trim(F.col("para"))))
    winners = (
        hashed.groupBy("ph")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select(
            F.col("ph").alias("wph"),
            F.col("w.doc_id").alias("wdoc"),
            F.col("w.pos").alias("wpos"),
        )
    )
    kept = hashed.join(
        winners,
        (F.col("ph") == F.col("wph"))
        & (F.col("doc_id") == F.col("wdoc"))
        & (F.col("pos") == F.col("wpos")),
        "semi",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            (F.coalesce("n_paras", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def remove_duplicate_paragraphs_sql(
    table: str, id_col: str, text_col: str, sep: str = "\n"
) -> str:
    """DuckDB twin of :func:`remove_duplicate_paragraphs` (the oracle
    may use a window — it doesn't need to be skew-safe)."""
    sep_sql = sep.replace("\n", "' || chr(10) || '")
    return f"""
        WITH paras AS (
            SELECT {id_col} AS doc_id, u.pos - 1 AS pos, u.para,
                   md5(trim(u.para)) AS ph
            FROM {table},
            LATERAL (
                SELECT generate_subscripts(s, 1) AS pos, unnest(s) AS para
                FROM (SELECT string_split({text_col}, '{sep_sql}') AS s)
            ) u
            WHERE trim(u.para) <> ''
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY ph ORDER BY doc_id, pos
            ) AS rn
            FROM paras
        ),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(para, '{sep_sql}' ORDER BY pos) AS text_clean,
                   count(*) AS n_kept
            FROM ranked WHERE rn = 1 GROUP BY doc_id
        ),
        totals AS (
            SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id
        )
        SELECT d.{id_col} AS doc_id,
               COALESCE(r.text_clean, '') AS text_clean,
               CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
               CAST(COALESCE(t.n_paras, 0) - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_dropped
        FROM {table} d
        LEFT JOIN totals t ON d.{id_col} = t.doc_id
        LEFT JOIN rebuilt r ON d.{id_col} = r.doc_id
    """
