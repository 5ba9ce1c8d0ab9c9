"""Adversarial-input robustness: Spark 4 runs ANSI mode, so any
unguarded ratio (x/0) or malformed input throws at runtime. Every
text/similarity operator must survive empty/null/unicode/degenerate
rows without erroring — the 100 TB corpora these target always
contain them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators import similarity as S
from bigdata_quality_assessment_spark.operators import text as T


@pytest.fixture(scope="module")
def nasty_docs(spark):
    rows = [
        (1, ""), (2, "   "), (3, "\n\t"), (4, "one"),
        (5, "héllo wörld ünïcode ẞ 中文 🎉"), (6, "a " * 5000),
        (7, None), (8, "word"), (9, ". . . . ."),
        (10, "ALLCAPS SHOUTING TEXT HERE"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING").cache()


@pytest.fixture(scope="module")
def nasty_emb(spark):
    import random

    random.seed(1)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(20)]
    rows += [(100, [0.0] * 8), (101, None), (102, [float("nan")] * 8)]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>").cache()


def test_text_operators_survive_nasty_docs(nasty_docs):
    n = nasty_docs.count()
    assert T.text_stats(nasty_docs).count() == n
    assert T.language_id(nasty_docs).count() == n
    assert T.quality_score(nasty_docs).count() == n
    assert T.exact_dedup(nasty_docs).count() == n  # all texts distinct (incl null)
    T.doc_fingerprints(nasty_docs).count()  # short docs yield no shingles — no error
    assert T.near_dedup_minhash(
        nasty_docs, k=3, n_hashes=16, bands=4, min_jaccard=0.5
    ).count() == n
    assert T.simhash_near_dedup(nasty_docs).count() == n


def test_quality_score_bounded_on_nasty_docs(nasty_docs):
    rows = T.quality_score(nasty_docs).collect()
    for r in rows:
        if r["quality"] is not None:
            assert 0.0 <= r["quality"] <= 1.0, r


def test_similarity_operators_survive_degenerate_vectors(nasty_emb):
    q = nasty_emb.filter(F.col("vec_id").isin(0, 100, 102)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # zero-norm and NaN queries must not throw; real query still gets k
    out = S.knn_brute_force(nasty_emb, q, k=3)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 3
    S.cosine_pairs(nasty_emb, threshold=0.5).count()
    S.ann_hyperplane_knn(nasty_emb, q, dim=8, k=3).count()
    assert S.embedding_near_dedup(nasty_emb, threshold=0.95, dim=8).count() >= 1


def test_operators_survive_empty_frames(spark):
    """Empty-input sweep across families: no operator may throw on a
    0-row frame (the 100 TB pipeline routinely produces empty slices
    after filters)."""
    from bigdata_quality_assessment_spark.operators import asof as A
    from bigdata_quality_assessment_spark.operators import score as SC
    from bigdata_quality_assessment_spark.operators import select as SEL
    from bigdata_quality_assessment_spark.operators import windows as W
    from bigdata_quality_assessment_spark.operators.density import kde_1d, trapz

    empty_ev = spark.createDataFrame(
        [], "event_id BIGINT, user_id BIGINT, ts BIGINT, value DOUBLE"
    )
    empty_pool = spark.createDataFrame(
        [], "point_id BIGINT, y DOUBLE, y_mean DOUBLE, y_var DOUBLE"
    )
    assert W.sliding_windows(
        empty_ev, "event_id", "value", history=3, prediction=1, group_cols=["user_id"]
    ).count() == 0
    assert W.minmax_scale(empty_ev, "value").count() == 0
    assert A.time_rollup(empty_ev, "ts", "value").count() == 0
    assert kde_1d(empty_ev, "value", bw=0.5, ngrid=8).count() == 0
    # all-NULL weights or values bin nothing: 0 rows, as for no input
    null_ev = spark.range(5).select(
        F.col("id").cast("double").alias("value"), F.lit(None).cast("double").alias("w")
    )
    assert kde_1d(null_ev, "value", bw=0.5, ngrid=8, weight_col="w").count() == 0
    assert kde_1d(null_ev, "w", bw=0.5, ngrid=8).count() == 0
    assert trapz(
        empty_ev.select(F.col("value").alias("x"), F.col("value").alias("f")), "x", "f"
    ).count() == 1  # one NULL-integral row, not an error
    assert SEL.top_k(empty_pool, "y", 5).count() == 0
    assert SEL.argmax(empty_pool, "y").count() == 0
    assert SC.regression_metrics(empty_pool, "y_mean", "y", "y_var").count() == 1
    assert SC.inverse_density_weights(
        empty_pool.withColumn("pdf", F.col("y"))
    ).count() == 0
    assert SEL.weighted_sample_without_replacement(
        empty_pool.withColumn("w", F.lit(1.0)), "w", 3
    ).count() == 0


def test_profile_table_exact_percentiles(spark):
    """Round-5: exact p50/p95 (linear interpolation, matching SQL
    quantile_cont) ride the single profiling pass."""
    from bigdata_quality_assessment_spark.operators.profiling import profile_table

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x DOUBLE")
    got = {
        (r["column"], r["metric"]): r["value"] for r in profile_table(df).collect()
    }
    assert got[("x", "p50")] == pytest.approx(50.5)   # interpolated median
    assert got[("x", "p95")] == pytest.approx(95.05)  # 1 + 0.95*99
    assert got[("x", "min")] == 1.0 and got[("x", "max")] == 100.0


def test_round5_continuation_ops_survive_nasty_inputs(spark, nasty_docs, nasty_emb):
    """decontaminate / semantic_dedup / quantize / bpe / cdc on
    empty / null / degenerate inputs (ANSI mode throws on any
    unguarded arithmetic)."""
    from bigdata_quality_assessment_spark.operators.bpe import (
        bpe_token_count,
        train_bpe,
    )
    from bigdata_quality_assessment_spark.operators.select import apply_cdc
    from bigdata_quality_assessment_spark.operators.similarity import (
        quantize_embeddings,
        semantic_dedup,
    )

    # empty benchmark -> nothing contaminated, nothing dropped
    empty_bench = nasty_docs.limit(0)
    out = T.decontaminate(nasty_docs, empty_bench, k=3)
    assert out.count() == nasty_docs.count()
    assert out.filter("contaminated").count() == 0
    # nasty docs as BOTH sides (nulls, unicode, empties)
    both = T.decontaminate(nasty_docs, nasty_docs, k=3)
    assert both.count() == nasty_docs.count()

    # semantic dedup over degenerate vectors (zeros, singletons)
    sd = semantic_dedup(nasty_emb, dim=4, eps=0.05, n_centroids=2, seed=0)
    assert 0 < sd.count() <= nasty_emb.count()
    # collect (not count) so the tinyint cast actually evaluates on
    # the NaN / zero / null fixture rows — ANSI would throw here
    q = {r.vec_id: r.qvec for r in quantize_embeddings(nasty_emb).collect()}
    assert len(q) == nasty_emb.count()
    assert q[102] == [0] * 8  # all-NaN vector quantizes to zeros
    assert q[100] == [0] * 8  # zero vector
    assert q[101] is None     # null vector passes through as null

    # BPE over empty/null/unicode text
    merges = train_bpe(nasty_docs, n_merges=5)
    counts = {r.doc_id: r.n_bpe_tokens for r in bpe_token_count(nasty_docs, merges).collect()}
    assert counts[1] == 0 and counts[7] == 0 and counts[5] > 0

    # CDC with empty change log / empty target
    t = spark.createDataFrame([(1, 1.0)], "k long, x double")
    empty_log = spark.createDataFrame([], "k long, x double, seq long, op string")
    assert {r.k for r in apply_cdc(t, empty_log, "k").collect()} == {1}
    empty_t = spark.createDataFrame([], "k long, x double")
    log = spark.createDataFrame([(2, 2.0, 1, "I")], "k long, x double, seq long, op string")
    assert {r.k for r in apply_cdc(empty_t, log, "k").collect()} == {2}


def test_expectations_survive_nasty_inputs(spark, nasty_docs):
    from bigdata_quality_assessment_spark.operators.expectations import (
        check_expectations,
        in_range,
        matches,
        not_null,
        unique,
    )

    out = {r.rule: r.n_violations for r in check_expectations(
        nasty_docs,
        [
            not_null("text"),
            matches("text", "^[a-z ]+$"),
            in_range("doc_id", 0, 5),
            unique("doc_id"),
        ],
    ).collect()}
    assert out["not_null(text)"] == 1          # the null row
    assert out["unique(doc_id)"] == 0
    assert out["in_range(doc_id,0,5)"] == 5    # ids 6..10
    assert 0 < out["matches(text)"] <= 10


def test_fuzzy_tfidf_survive_nasty_docs(spark, nasty_docs):
    from bigdata_quality_assessment_spark.operators.text import (
        fuzzy_decontaminate,
        tf_idf,
    )

    # nasty docs on BOTH sides: nulls, unicode, empties, shorts
    out = fuzzy_decontaminate(nasty_docs, nasty_docs, k=3, min_jaccard=0.9)
    flagged = {r.doc_id for r in out.collect()}
    # every doc is its own exact near-duplicate... but self-pairs are
    # excluded only across ids — docs too short to shingle never flag
    assert flagged.issubset({r.doc_id for r in nasty_docs.collect()})
    ti = tf_idf(nasty_docs, top_k=2)
    assert ti.count() >= 1  # unicode/long docs produce terms, no crash
    assert ti.filter(F.col("term") == "").count() == 0


def test_new_text_ops_survive_null_text(spark):
    """NULL text rows (real corpora have them): ngram_lm_score and
    dedup_spans degrade to the token-less contract, classify_quality
    scores at the bias — nothing throws under ANSI mode."""
    import numpy as np

    from bigdata_quality_assessment_spark.operators.classifier import (
        QualityClassifier,
        classify_quality,
    )
    from bigdata_quality_assessment_spark.operators.text import (
        dedup_spans,
        ngram_lm_score,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    lm = {r["doc_id"]: r for r in ngram_lm_score(docs).collect()}
    assert lm[1]["n_lm_tokens"] == 0 and lm[1]["ppl"] is None
    assert lm[2]["n_lm_tokens"] == 0

    sp = {r["doc_id"]: r for r in dedup_spans(docs, 5).collect()}
    assert sp[1]["n_spans"] == 0 and sp[1]["text_deduped"] is None
    assert sp[0]["n_spans"] == 2

    model = QualityClassifier(weights=tuple(np.ones(8)), bias=0.25, dim=8)
    cl = {r["doc_id"]: r for r in classify_quality(docs, model).collect()}
    assert cl[1]["logit"] == pytest.approx(0.25)
    assert cl[2]["logit"] == pytest.approx(0.25)


def test_env_extra_conf_wins_over_call_site(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF is a diagnostic override facility — it
    must be applied AFTER the programmatic extra_conf so it can
    actually override call-site settings (round-14, ADVICE)."""
    from bigdata_quality_assessment_spark.session import resolved_extra_conf

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", '{"spark.foo": "env", "spark.only": 1}'
    )
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        merged = resolved_extra_conf({"spark.foo": "call", "spark.bar": "b"})
    assert merged == {
        "spark.foo": "env", "spark.only": "1", "spark.bar": "b"
    }
    # round-15 (ADVICE): an env override of a call-site-pinned key is a
    # real config change to a deployment — warned, never silent; the
    # non-colliding keys warn nothing
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == 1 and "spark.foo" in msgs[0], msgs
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF")
    assert resolved_extra_conf(None) == {}
