"""Semantics tests for the relational macro-operators and the
training-data-pipeline operator families, on small explicit fixtures.
"""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.gates import (
    IncrementalDependencyError,
    checkpoint_observed,
    observed_gate,
    require_no_nulls,
)
from data_migration_etl_scripts_spark.operators import (
    anti_join_existing,
    backfill_from_group_earliest,
    collect_group_json,
    cross_seed,
    fk_remap,
    top1_per_group,
    unpivot_kv,
)
from data_migration_etl_scripts_spark.operators import dedup as dd
from data_migration_etl_scripts_spark.operators import multimodal as mm
from data_migration_etl_scripts_spark.operators import similarity as sim
from data_migration_etl_scripts_spark.operators import text as tx
from data_migration_etl_scripts_spark.operators import textprep as tp


# ---------------------------------------------------------- relational


def test_fk_remap_gate_aborts_on_unmatched(spark):
    facts = spark.createDataFrame([(1, 10), (2, 99)], ["id", "old_fk"])
    lookup = spark.createDataFrame([(10, 1010)], ["old_fk", "new_fk"])
    ok = fk_remap(facts.where("old_fk = 10"), lookup, on="old_fk", gate="new_fk")
    assert ok.count() == 1
    with pytest.raises(IncrementalDependencyError):
        fk_remap(facts, lookup, on="old_fk", gate="new_fk", context="facts->lookup")


def test_observed_gate_fuses_with_action(spark):
    df = spark.createDataFrame([(1, None), (2, 20)], ["id", "fk"])
    observed, gate = observed_gate(df, "fk", context="t")
    observed.write.format("noop").mode("overwrite").save()
    with pytest.raises(IncrementalDependencyError):
        gate.check()


def test_checkpoint_observed_metrics_ride_eager_checkpoint(spark, monkeypatch):
    df = spark.range(1000).where("id % 3 = 0")
    cp, m = checkpoint_observed(
        df, n=F.count(F.lit(1)), top=F.max("id"), evens=F.count_if(F.col("id") % 2 == 0)
    )
    assert m == {"n": 334, "top": 999, "evens": 167}
    plan = cp._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LogicalRDD", plan.toString()
    assert cp.count() == 334

    def no_observe(*args, **kwargs):
        raise AssertionError("observe() called with no metrics")

    monkeypatch.setattr(type(df), "observe", no_observe)
    cp, m = checkpoint_observed(df)
    assert m == {}
    assert cp._jdf.queryExecution().optimizedPlan().nodeName() == "LogicalRDD"


def test_observe_only_in_gates():
    """Every observed metric in the package goes through gates.py, so
    there is one eagerness policy for reading them."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_migration_etl_scripts_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py")) if path != pkg / "gates.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "Observation(" in line or ".observe(" in line
    ]
    assert not offenders, offenders


def test_require_no_nulls_passes_clean(spark):
    df = spark.createDataFrame([(1, 1)], ["a", "b"])
    assert require_no_nulls(df, "a", "b") is df


def test_anti_join_existing(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    existing = spark.createDataFrame([(2,), (2,)], ["k"])
    assert sorted(r.k for r in anti_join_existing(df, existing, on="k").collect()) == [1, 3]


def test_top1_per_group_total_order(spark):
    rows = [("g", 1, "b"), ("g", 1, "a"), ("g", 2, "c"), ("h", 5, "z")]
    df = spark.createDataFrame(rows, ["grp", "pri", "tie"])
    out = top1_per_group(
        df, keys=["grp"], order=[F.col("pri").desc()], tiebreakers=["tie"]
    ).collect()
    got = {r.grp: (r.pri, r.tie) for r in out}
    assert got == {"g": (2, "c"), "h": (5, "z")}


def test_collect_group_json_sorted_deterministic(spark):
    df = spark.createDataFrame([(1, "b", 2), (1, "a", 1), (2, "c", 3)], ["k", "name", "v"])
    out = collect_group_json(df, "k", ["name", "v"], "j").orderBy("k").collect()
    assert json.loads(out[0].j) == [{"name": "a", "v": 1}, {"name": "b", "v": 2}]
    assert json.loads(out[1].j) == [{"name": "c", "v": 3}]


def test_unpivot_kv(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "x", "y"])
    out = unpivot_kv(df, ids=["id"], values=["x", "y"], key_col="k", value_col="v")
    assert sorted((r.k, r.v) for r in out.collect()) == [("x", 10.0), ("y", 20.0)]


def test_cross_seed(spark):
    a = spark.createDataFrame([(1,), (2,)], ["a"])
    b = spark.createDataFrame([("x",), ("y",), ("z",)], ["b"])
    assert cross_seed(a, b).count() == 6


def test_backfill_from_group_earliest(spark):
    cars = spark.createDataFrame(
        [(1, None), (2, "2024-05-05"), (3, None)], ["car", "created"]
    )
    junc = spark.createDataFrame(
        [(1, "2020-01-02", "2020-01-02"), (1, "2020-01-01", "2020-01-01"),
         (3, "2021-07-07", "2021-07-07")],
        ["car", "seen", "created_src"],
    )
    out = backfill_from_group_earliest(
        cars, junc, key="car", fill_cols=["created"],
        aux_order="seen", aux_source_col="created_src",
    )
    got = {r.car: r.created for r in out.collect()}
    assert got == {1: "2020-01-01", 2: "2024-05-05", 3: "2021-07-07"}


# ------------------------------------------------------------ textprep


def tokens_oracle(s):
    import re as _re

    return [t for t in _re.sub(r"[^a-z0-9]+", " ", s.lower()).split(" ") if t]


def test_tokens_and_shingles(spark):
    texts = ["The quick brown fox", "a-b_c  d!", "", "ΑΒΓ unicode ok"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    rows = (
        df.select("i", tp.tokens("t").alias("tok"),
                  tp.word_shingles(tp.tokens("t"), n=2, distinct=False).alias("sh"))
        .orderBy("i")
        .collect()
    )
    for row, text in zip(rows, texts):
        want_tok = tokens_oracle(text)
        assert row.tok == want_tok
        want_sh = [" ".join(want_tok[i : i + 2]) for i in range(len(want_tok) - 1)]
        assert row.sh == want_sh


# --------------------------------------------------------------- dedup


def test_exact_dup_groups(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world!"), (3, "different doc")],
        ["doc_id", "text"],
    )
    out = dd.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(out) == 1 and out[0].keep_id == 1 and out[0].dup_count == 2


def test_minhash_identical_docs_always_pair(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "completely unrelated words here now today")],
        ["doc_id", "text"],
    )
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=12, bands=4).collect()
    got = {(r.doc_a, r.doc_b): r.est_sim for r in pairs}
    assert got.get((1, 2)) == 1.0
    assert (1, 3) not in got and (2, 3) not in got


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; jaccard = 1/2
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")], ["doc_id", "text"]
    )
    out = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.0, max_shingle_freq=10
    ).collect()
    assert len(out) == 1
    assert out[0].doc_a == 1 and out[0].doc_b == 2 and out[0].jaccard == 0.5


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat today"),
         (2, "the cat sat on the mat yesterday"),
         (3, "quantum flux capacitors misalign readily")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.simhash for r in dd.simhash(docs, "doc_id", "text").collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])


def test_embedding_neardup(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, -0.001, 0.0, 0.0]),  # near-dup of 1, same sign bucket
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = dd.embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.95, bucket_bits=4)
    got = [(r.id_a, r.id_b) for r in out.collect()]
    assert got == [(1, 2)]


# ---------------------------------------------------------- similarity


def test_cosine_topk_bruteforce_ranks(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = sim.cosine_topk_bruteforce(df, df.where("vec_id = 0"), k=2).collect()
    ranked = [(r.rank, r.corpus_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1), (2, 2)]


# ---------------------------------------------------------------- text


def test_language_id_votes(spark):
    docs = spark.createDataFrame(
        [(1, "the cat is on the mat"),
         (2, "der hund ist von zu mit"),
         (3, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang_guess for r in tx.language_id(docs, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_token_stats_values(spark):
    docs = spark.createDataFrame([(1, "Aa bb-cc dd")], ["doc_id", "text"])
    r = tx.token_stats(docs, "doc_id", "text").collect()[0]
    assert r.n_tokens == 4 and r.n_types == 4
    assert r.avg_token_len == 2.0
    assert r.approx_bpe_tokens == 3  # ceil(11/4)


def test_fingerprint_robust_to_local_edit(spark):
    base = "one two three four five six seven eight nine ten"
    edited = base.replace("ten", "eleven")  # edit at the END; early windows shared
    docs = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    rows = {r.doc_id: r for r in tx.fingerprint(docs, "doc_id", "text").collect()}
    assert rows[1].content_md5 != rows[2].content_md5
    # winnow fingerprint = min over 5-token windows; likely equal under local edit
    assert rows[1].winnow_fp == rows[2].winnow_fp


# ----------------------------------------------------------- multimodal


def test_multimodal_features_deterministic(spark):
    media = mm.synthetic_media(spark, n=16)
    a = mm.extract_features(media, dim=4).orderBy("media_id").collect()
    b = mm.extract_features(media, dim=4).orderBy("media_id").collect()
    assert [r.feature for r in a] == [r.feature for r in b]
    assert all(len(r.feature) == 4 for r in a)
    assert all(r.n_bytes and r.n_bytes > 0 for r in a)


def test_multimodal_real_decoder_is_marked(spark):
    media = mm.synthetic_media(spark, n=4)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        mm.extract_features(media, dim=4, decoder="real").collect()


def test_frame_sample_plan(spark):
    media = mm.synthetic_media(spark, n=12)
    out = mm.frame_sample_plan(media, every_ms=1000)
    rows = out.groupBy("media_id").count().collect()
    # every media id yields at least the t=0 sample
    assert {r.media_id for r in rows} == set(range(12))


def test_multimodal_resize_kernel(spark):
    media = mm.synthetic_media(spark, n=8)
    out = mm.resize_images(media, width=64, height=64).collect()
    assert len(out) == 8
    assert all(r.width == 64 and r.height == 64 for r in out)
    assert all(r.content is not None and len(r.content) > 0 for r in out)
    # deterministic: same input -> same bytes
    again = mm.resize_images(media, width=64, height=64).collect()
    assert {r.media_id: bytes(r.content) for r in out} == {
        r.media_id: bytes(r.content) for r in again
    }


def test_multimodal_audio_features(spark):
    media = mm.synthetic_media(spark, n=6)
    out = mm.audio_features(media, n_mfcc=5).collect()
    assert len(out) == 6
    assert all(len(r.mfcc) == 5 for r in out)
    assert all(r.duration_ms > 0 for r in out)


# ------------------------------------------------------------ URL dedup


def test_canonical_url_golden(spark):
    cases = [
        # case/www/port/slash/fragment/tracking/param-order noise -> one form
        ("HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&z=1&a=2#frag",
         "https://example.com/a/b?a=2&z=1"),
        ("https://example.com/a/b?a=2&z=1",
         "https://example.com/a/b?a=2&z=1"),
        ("http://example.com:80", "http://example.com/"),
        ("http://example.com/", "http://example.com/"),
        ("https://example.com/x?utm_source=a&utm_medium=b&fbclid=z",
         "https://example.com/x"),
        ("not a url", None),
        ("", None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], ["i", "u"])
    got = {
        r.i: r.c
        for r in df.select("i", tx.canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_url_dedup_groups_and_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            (5, "https://A.com/x?b=1&a=1"),
            (3, "HTTPS://a.com/x/?a=1&b=1#f"),   # same canonical as 5
            (9, "https://a.com/y"),
            (7, "nonsense"),                      # dropped (NULL canonical)
        ],
        ["id", "url"],
    )
    rows = {r.canonical_url: r for r in tx.url_dedup(df, "id", "url").collect()}
    assert rows["https://a.com/x?a=1&b=1"].keep_id == 3
    assert rows["https://a.com/x?a=1&b=1"].n_dups == 2
    assert rows["https://a.com/y"].keep_id == 9
    assert len(rows) == 2


def test_canonical_url_is_idempotent(spark):
    # canonicalizing an already-canonical URL must be a no-op —
    # guarantees repeated pipeline passes cannot re-split dup groups
    urls = [
        "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&z=1&a=2#frag",
        "http://example.com:80//x//y/?b=2&a=1",
        "https://sub.domain.example.com/path?id=7&ref=nav",
        "ftp://Files.Example.net/data/",
        "https://example.com",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "u"])
    once = df.select("i", tx.canonical_url(F.col("u")).alias("c1"))
    twice = once.select("i", "c1", tx.canonical_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r.c2 == r.c1, f"not idempotent: {r.c1!r} -> {r.c2!r}"


def test_quality_zscore_is_calibrated_within_source(spark):
    """Each source stratum z-scores to ~zero mean; a degenerate
    single-doc stratum gets z = 0 instead of null/inf."""
    from data_migration_etl_scripts_spark.operators import text as tx

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then rests", "web"),
        (2, "a b c d e f g h i j k l m n o p q r s t", "web"),
        (3, "the old harbor wall holds against the winter tide for years", "web"),
        (4, "solitary entry in its own source bucket entirely", "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in tx.quality_zscore_by_source(df).collect()}
    assert out[4].quality_z == 0.0  # single-doc stratum
    web_z = [out[i].quality_z for i in (1, 2, 3)]
    assert abs(sum(web_z)) < 1e-6  # mean-centered within source
    assert max(web_z) > 0 > min(web_z)
