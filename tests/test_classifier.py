"""Hashing-trick logistic regression (operators/classifier.py):
feature extraction, learning on separable data, partitioning
determinism (the 9-dp + DECIMAL discipline), held-out
generalization, and degenerate inputs.

Reference parity note: a trained quality gate is LLM-data-pipeline
addendum surface (SURVEY.md) — the learned upgrade over the fixed
text-quality heuristics."""

from __future__ import annotations

import pytest

from data_migration_etl_scripts_spark.operators import classifier as clf

GOOD = [
    "the data model trains on curated data with careful evaluation",
    "training data quality drives model behavior more than size",
    "a clean data pipeline makes model training reproducible",
    "model evaluation needs held out data from the same pipeline",
]
BAD = [
    "buy cheap watches now lowest prices click here fast",
    "winner winner claim your prize account today free money",
    "hot deals hot deals subscribe unsubscribe mailing blast",
    "lorem ipsum dolor sit amet consectetur adipiscing elit",
]


def _docs(spark, texts_labels):
    return spark.createDataFrame(
        [(i, t) for i, (t, _y) in enumerate(texts_labels)],
        "doc_id long, text string",
    ), spark.createDataFrame(
        [(i, y) for i, (_t, y) in enumerate(texts_labels)],
        "doc_id long, y int",
    )


def test_hashed_features_counts_and_bias(spark):
    docs = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "")], "doc_id long, text string"
    )
    rows = clf.hashed_features(docs, "doc_id", "text", n_buckets=64).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.h, r.x))
    # doc 2: bias only; doc 1: bias + 2 token buckets (alpha x2, beta x1)
    assert by_doc[2] == [(64, 1.0)]
    assert (64, 1.0) in by_doc[1]
    token_feats = sorted(x for h, x in by_doc[1] if h != 64)
    assert token_feats == [1.0, 2.0]
    assert all(0 <= h <= 64 for h, _ in by_doc[1])


def test_learns_separable_labels(spark):
    data = [(t, 1) for t in GOOD] + [(t, 0) for t in BAD]
    docs, labels = _docs(spark, data)
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=256)
    w = clf.train_logreg(feats, labels, rounds=8, lr=1.0)
    preds = {r.doc_id: r for r in clf.predict(feats, w, labels).collect()}
    assert all(
        (r.p > 0.5) == (r.y == 1) for r in preds.values()
    ), {d: (r.y, r.p) for d, r in preds.items()}


def test_training_deterministic_across_partitioning(spark):
    data = [(t, 1) for t in GOOD] + [(t, 0) for t in BAD]
    docs, labels = _docs(spark, data)
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=256)
    w1 = clf.train_logreg(feats.repartition(1), labels, rounds=3, lr=0.5)
    w7 = clf.train_logreg(feats.repartition(7), labels, rounds=3, lr=0.5)
    assert w1 == w7


def test_generalizes_to_heldout(spark):
    data = [(t, 1) for t in GOOD] + [(t, 0) for t in BAD]
    docs, labels = _docs(spark, data)
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=256)
    w = clf.train_logreg(feats, labels, rounds=8, lr=1.0)
    unseen = spark.createDataFrame(
        [(100, "good training data and model evaluation pipeline"),
         (101, "click here free prize winner fast money")],
        "doc_id long, text string",
    )
    ulabels = spark.createDataFrame(
        [(100, 1), (101, 0)], "doc_id long, y int"
    )
    ufeats = clf.hashed_features(unseen, "doc_id", "text", n_buckets=256)
    got = {r.doc_id: r.p for r in clf.predict(ufeats, w, ulabels).collect()}
    assert got[100] > 0.5 > got[101]


def test_driver_and_spark_paths_agree(spark, monkeypatch):
    """The r12 driver-resident GD small path must return BIT-IDENTICAL
    weights to the distributed loop (same 9-dp HALF_UP double rounds,
    exact DECIMAL sums as scaled ints, same IEEE divides) — forced
    both ways via the row cap."""
    data = [(t, 1) for t in GOOD] + [(t, 0) for t in BAD]
    docs, labels = _docs(spark, data)
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=256)
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "1000000")
    w_driver = clf.train_logreg(feats, labels, rounds=4, lr=0.7)
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "0")
    w_spark = clf.train_logreg(feats, labels, rounds=4, lr=0.7)
    assert w_driver == w_spark


def test_r9_fast_path_matches_exact():
    """The guarded floor fast path must equal the exact Decimal
    HALF_UP path on random magnitudes, negatives, and adversarial
    .5-boundary values (which the guard routes to the exact path)."""
    import random

    random.seed(42)
    cases = [0.0, -0.0, 1e-10, -1e-10, 0.1234567895, -0.1234567895,
             0.0000000005, -0.0000000005, 1.5e-9, 2.5e-9, -2.5e-9,
             123.4567891235, 7.25e-9, 1e-18, -1e-18]
    cases += [random.uniform(-1000, 1000) for _ in range(2000)]
    cases += [random.uniform(-1, 1) * 10 ** random.randint(-12, 4)
              for _ in range(2000)]
    # exact decimal halves at the 10th digit
    cases += [k * 1e-9 + 5e-10 for k in (-3, -1, 0, 1, 7, 12345)]
    for v in cases:
        assert clf._r9_int(v) == clf._r9_int_exact(v), repr(v)


def test_empty_weights_score_half(spark):
    docs = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
    labels = spark.createDataFrame([(1, 0)], "doc_id long, y int")
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=32)
    got = clf.predict(feats, {}, labels).collect()[0]
    assert got.p == 0.5


def test_driver_sigmoid_extreme_scores(spark, monkeypatch):
    """ADVICE r12 (medium): scores past the math.exp overflow bound
    (|s| > ~709.78) crashed the driver GD path with OverflowError
    while the distributed loop's F.exp returns +Infinity and yields
    p = 0.0 exactly. The guarded sigmoid must make both paths agree
    bit for bit on an extreme-score input."""
    # 100 feature rows of x=100 on one doc: after round 1 each carries
    # c = x*w = -1250 (well inside DECIMAL(20,10)), but the per-doc
    # sum s = -125000 is far past math.exp's ~709.78 overflow bound
    feats = spark.createDataFrame(
        [(1, h, 100.0) for h in range(100)] + [(2, 500, 1.0)],
        "doc_id long, h long, x double",
    )
    labels = spark.createDataFrame([(1, 0), (2, 1)], "doc_id long, y int")
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "1000000")
    w_driver = clf.train_logreg(feats, labels, rounds=3, lr=0.5)
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "0")
    w_spark = clf.train_logreg(feats, labels, rounds=3, lr=0.5)
    assert w_driver == w_spark
    # the helper itself: overflow maps to the JVM's 1/(1+inf) = 0.0
    assert clf._sigmoid(-1000.0) == 0.0
    assert clf._sigmoid(-709.0) > 0.0
    assert clf._sigmoid(1000.0) == 1.0


def test_duplicate_label_rows_fall_back_to_distributed(spark, monkeypatch):
    """ADVICE r12 (low): duplicate label rows count with multiplicity
    in the distributed joins; the driver replica's dict factorization
    cannot reproduce that, so it must defer to the distributed loop —
    forced-driver-cap and forced-distributed results must agree."""
    feats = spark.createDataFrame(
        [(1, 0, 2.0), (1, 256, 1.0), (2, 1, 1.0), (2, 256, 1.0)],
        "doc_id long, h long, x double",
    )
    labels = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 0)], "doc_id long, y int"
    )
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "1000000")
    w_guarded = clf.train_logreg(feats, labels, rounds=3, lr=0.5)
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS", "0")
    w_spark = clf.train_logreg(feats, labels, rounds=3, lr=0.5)
    assert w_guarded == w_spark


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_training_job_budget(spark, monkeypatch, jobs_started, path):
    """Training starts no ``labels.count()`` job of its own: the driver
    path takes the label count from its collect of the labels, and the
    distributed path from the labels' observed checkpoint. Pinned at
    local[4] over a derived (non-local) label relation, two rounds;
    with a separate ``labels.count()`` these were 6 (driver) and 19
    (distributed)."""
    from pyspark.sql import functions as F

    from data_migration_etl_scripts_spark.operators import textprep as tp

    docs, _ = _docs(spark, [(t, 1) for t in GOOD] + [(t, 0) for t in BAD])
    labels = docs.select(
        "doc_id",
        F.arrays_overlap(tp.tokens("text"), F.array(F.lit("data"), F.lit("model")))
        .cast("int").alias("y"),
    )
    feats = clf.hashed_features(docs, "doc_id", "text", n_buckets=64)
    monkeypatch.setenv("SPARK_GRAFT_LOGREG_DRIVER_ROWS",
                       "1000000" if path == "driver" else "0")
    n = jobs_started(lambda: clf.train_logreg(feats, labels, rounds=2))
    assert n == {"driver": 4, "distributed": 17}[path]
