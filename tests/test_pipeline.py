"""End-to-end curation pipeline: stage composition, ledger counts,
and parity with the operators applied individually."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate
from bigdata_quality_assessment_spark.sources.textgen import eval_spans, realistic_documents

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the trees all day long here"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE, "web"),
        (1, BASE.upper(), "web"),            # exact dup after normalize
        (2, BASE.replace("lazy", "sleepy"), "web"),  # near dup
        (3, "an eval question about the meaning of catalyst plans and shuffles " * 3, "web"),
        (4, "good long content " + "solid words of adequate quality here " * 8, "books"),
        (5, "short", "books"),
        (6, "more perfectly adequate content with the and of tokens " * 6, "books"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_curate_full_ledger(spark, corpus):
    bench = spark.createDataFrame(
        [(100, "an eval question about the meaning of catalyst plans and shuffles")],
        "doc_id long, text string",
    )
    cfg = CurationConfig(quality_frac=0.5, min_jaccard=0.6, decon_k=5)
    clean, report = curate(corpus, benchmark=bench, config=cfg)
    ledger = {r.stage: r.rows for r in report.collect()}
    assert ledger["input"] == 7
    assert ledger["exact_dedup"] == 6          # doc 1 collapses into 0
    assert ledger["near_dedup"] == 5           # doc 2 collapses too
    assert ledger["decontaminate"] == 4        # doc 3 flagged (13-gram hit)
    assert ledger["quality_filter"] <= 4
    ids = {r.doc_id for r in clean.collect()}
    assert 1 not in ids and 2 not in ids and 3 not in ids
    # report order is pipeline order
    order = [r.stage for r in report.collect()]
    assert order == ["input", "exact_dedup", "near_dedup", "decontaminate", "quality_filter"]


def test_curate_job_count(spark):
    """One 200-doc ``realistic_documents`` delivery curated against a
    benchmark, with the report, runs a pinned number of Spark jobs:
    the report counts ride the stage barriers' jobs and near-dedup's
    closure is sized on its edge barrier. A change that adds a job
    fails."""
    from test_loop import _jobs

    docs = realistic_documents(spark, 200, seed=5).select(
        "doc_id", "text", "source"
    ).localCheckpoint(eager=True)
    bench = eval_spans(spark, seed=5).select("text").localCheckpoint(eager=True)
    out = {}
    jobs = _jobs(spark, lambda: out.update(r=curate(docs, bench, CurationConfig())))
    assert jobs == 23
    report = [tuple(r) for r in out["r"][1].collect()]
    assert report == [
        ("input", 200), ("exact_dedup", 186), ("near_dedup", 179), ("decontaminate", 177)
    ]


def test_curate_minimal_config(spark, corpus):
    cfg = CurationConfig(normalize=False, near_dedup=False)
    clean, report = curate(corpus, config=cfg)
    stages = [r.stage for r in report.collect()]
    assert stages == ["input", "exact_dedup"]
    assert clean.count() == 7  # no exact dups without normalization


def test_curate_mixture(spark, corpus):
    cfg = CurationConfig(near_dedup=False, mixture_rates={"books": 1.0})
    clean, report = curate(corpus, config=cfg)
    assert {r.source for r in clean.select("source").distinct().collect()} == {"books"}


def test_curate_fuzzy_tier(spark):
    eval_doc = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps in the warm sun and the birds sing in the trees"
    )
    # paraphrase with edits < 13 words apart -> NO clean exact 13-gram
    leaked = eval_doc.replace("lazy", "sleepy").replace("warm", "hot")
    rows = [
        (0, leaked, "web"),
        (1, "completely different material on catalyst and parquet and arrow " * 2, "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(100, eval_doc)], "doc_id long, text string")
    cfg = CurationConfig(
        near_dedup=False, decon_k=13, fuzzy_decon=True, fuzzy_min_jaccard=0.5
    )
    clean, report = curate(docs, benchmark=bench, config=cfg)
    stages = {r.stage: r.rows for r in report.collect()}
    assert stages["decontaminate"] == 2       # exact tier misses the paraphrase
    assert stages["fuzzy_decontaminate"] == 1  # fuzzy tier catches it
    assert {r.doc_id for r in clean.collect()} == {1}


def test_curate_decon_normalizes_benchmark(spark):
    eval_doc = "An Eval Question About The Meaning Of Catalyst Plans And Shuffles Here"
    leaked = eval_doc.lower() + ""  # verbatim leak, case-differing
    docs = spark.createDataFrame(
        [(0, leaked, "web"), (1, "unrelated clean words entirely different topic matter", "web")],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame([(100, eval_doc)], "doc_id long, text string")
    clean, report = curate(
        docs, benchmark=bench, config=CurationConfig(near_dedup=False, decon_k=5)
    )
    assert {r.doc_id for r in clean.collect()} == {1}


def test_prepare_training_data_end_to_end(spark):
    from bigdata_quality_assessment_spark.pipeline import prepare_training_data

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(120)) + " the and of to in is", "web")
        for i in range(12)
    ]
    rows.append((100, rows[0][1], "web"))  # exact duplicate
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = prepare_training_data(
        docs,
        config=CurationConfig(near_dedup=False),
        max_chunk_tokens=32,
        chunk_overlap=8,
        seq_budget=70,
        splits={"train": 0.6, "val": 0.2, "test": 0.2},
    ).cache()
    rows_out = out.collect()
    assert len(rows_out) > 0
    # duplicate doc 100 is gone
    assert not any(r.doc_id == 100 for r in rows_out)
    # split integrity: every chunk of one sequence lands in ONE split
    seq_split = {}
    for r in rows_out:
        seq_split.setdefault(r.seq_id, set()).add(r.split)
    assert all(len(s) == 1 for s in seq_split.values())
    # budget honored for non-oversize sequences
    seqs = {}
    for r in rows_out:
        seqs.setdefault(r.seq_id, []).append(r)
    for rs in seqs.values():
        if not rs[0].oversize:
            assert sum(r.n_chunk_tokens for r in rs) <= 70
    # all three splits present at this scale
    assert {r.split for r in rows_out} == {"train", "val", "test"}
    out.unpersist()


def test_curate_span_dedup_stage(spark):
    """span_dedup rewrites survivors in place: the repeated 5-word
    boilerplate survives only at its first occurrence; a doc that was
    pure boilerplate is dropped from the pipeline entirely."""
    boiler = "click here to subscribe today"
    rows = [
        (0, f"{boiler} real content of doc zero", "web"),
        (1, f"{boiler} other content of doc one", "web"),
        (2, boiler, "web"),  # pure boilerplate -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, report = curate(
        docs,
        config=CurationConfig(normalize=False, near_dedup=False, span_dedup=True),
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == {
        0: f"{boiler} real content of doc zero",
        1: "other content of doc one",
    }
    rep = dict(report.collect())
    assert rep["span_dedup"] == 2


def test_curate_perplexity_filter_stage(spark):
    """max_ppl drops the statistical outlier (self-trained LM): 30
    fluent repeats + 1 gibberish doc -> the gibberish doc has the
    highest perplexity and is the one dropped."""
    rows = [(i, "the cat sat on the mat and the dog sat too", "web") for i in range(30)]
    rows.append((30, "zq xv jk wp mn bt lr dh fg sc", "web"))
    # make each fluent doc unique so exact_dedup keeps them all
    rows = [(i, t + f" tag{i}", s) for i, t, s in rows]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, report = curate(
        docs,
        config=CurationConfig(normalize=False, near_dedup=False, max_ppl=10.0),
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 30 not in kept
    assert len(kept) == 30
    rep = dict(report.collect())
    assert rep["perplexity_filter"] == 30


def test_curate_classifier_filter_and_quota_stages(spark):
    """A trained classifier drops the docs it scores bad; exact quotas
    then cap each source — both recorded in the ledger."""
    import numpy as np

    from bigdata_quality_assessment_spark.operators.classifier import (
        train_quality_classifier,
    )

    rng = np.random.default_rng(3)
    good_w = "the quick brown fox jumps over lazy dog warm sun".split()
    bad_w = "zz qq xx kk vv ww yy jj pp ff".split()
    rows, labeled = [], []
    for i in range(40):
        t = " ".join(rng.choice(good_w, size=10))
        rows.append((i, t, "web" if i % 2 else "books"))
        labeled.append((i, t, 1.0))
    for i in range(40, 60):
        t = " ".join(rng.choice(bad_w, size=10))
        rows.append((i, t, "web"))
        labeled.append((i, t, 0.0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    lab = spark.createDataFrame(labeled, "doc_id long, text string, label double")
    model = train_quality_classifier(lab, dim=128, n_train=60)

    out, report = curate(
        docs,
        config=CurationConfig(
            normalize=False,
            near_dedup=False,
            classifier_model=model,
            mixture_quotas={"web": 5, "books": 5},
        ),
    )
    rep = dict(report.collect())
    kept = out.collect()
    assert rep["classifier_filter"] >= 35          # the good docs survive
    assert rep["classifier_filter"] <= 45          # the bad ones don't
    assert rep["mixture_quota"] == 10
    by_src = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert by_src == {"web": 5, "books": 5}
    assert all(r["doc_id"] < 40 for r in kept)     # only good docs reach quota


def test_ngram_lm_construction_runs_no_eager_count(spark):
    """Constructing ngram_lm_score must not run an eager
    vocabulary-size count (V rides the plan as a one-row aggregate).
    Budget: <= 1 job — the lazy barrier's AQE shuffle-map compile —
    where the eager count added two more (materialize + distinct)."""
    docs = spark.createDataFrame(
        [(i, f"the cat sat tag{i}") for i in range(20)],
        "doc_id long, text string",
    )
    from bigdata_quality_assessment_spark.operators.text import ngram_lm_score

    sc = spark.sparkContext
    before = sc._jsc.sc().dagScheduler().nextJobId()
    lm = ngram_lm_score(docs)
    after = sc._jsc.sc().dagScheduler().nextJobId()
    assert after - before <= 1, f"construction ran {after - before} jobs"
    assert lm.count() == 20  # the deferred pipeline still works


def test_curate_span_dedup_passes_tokenless_docs(spark):
    """A whitespace-only doc must survive span_dedup with its original
    text (token-less pass-through convention), while an all-boilerplate
    doc is still dropped."""
    b = "one two three four five"
    docs = spark.createDataFrame(
        [(0, b, "web"), (1, b, "web"), (2, "   ", "web")],
        "doc_id long, text string, source string",
    )
    out, _ = curate(
        docs,
        config=CurationConfig(normalize=False, near_dedup=False, span_dedup=True),
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == {0: b, 2: "   "}


def test_curate_markup_and_encoding_repairs(spark):
    """strip_markup + fix_encoding run before normalization, so an
    HTML-wrapped mojibake doc dedups against its clean plain twin."""
    def corrupt(s):
        return s.encode("utf-8").decode("latin-1")

    clean = "café content words here now"
    rows = [
        (0, clean, "web"),
        (1, "<p>" + corrupt(clean) + "</p>", "web"),  # same doc, wrapped+broken
        (2, "<b>other</b> doc entirely", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, report = curate(
        docs,
        config=CurationConfig(
            strip_markup=True, fix_encoding=True, near_dedup=False
        ),
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {0, 2}          # doc 1 collapsed into doc 0
    assert got[2] == "other doc entirely"
    rep = dict(report.collect())
    assert rep["exact_dedup"] == 2


def test_curate_substr_dedup_stage(spark):
    """Unaligned substring tier: offset-shifted boilerplate (invisible
    to the span grid) is excised from later docs; a doc that was pure
    repeated substring is dropped."""
    run = " ".join(f"b{i}" for i in range(8))
    rows = [
        (0, f"intro words {run} outro"),
        (1, f"x {run} y"),          # same 8-token run at another offset
        (2, run),                    # nothing but the run -> dropped
    ]
    docs = spark.createDataFrame(
        [(i, t, "web") for i, t in rows], "doc_id long, text string, source string"
    )
    out, report = curate(
        docs,
        config=CurationConfig(
            normalize=False, near_dedup=False,
            substr_dedup=True, substr_min_tokens=8,
        ),
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == {0: f"intro words {run} outro", 1: "x y"}
    rep = dict(report.collect())
    assert rep["substr_dedup"] == 2


def test_curate_dsir_select_stage(spark):
    """DSIR selection stage: curate keeps exactly dsir_n docs chosen
    by target-domain importance resampling, ledgered as its own
    stage, biased toward target-like text."""
    from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate

    like = [(i, f"alpha beta gamma delta epsilon zeta tag{i} " * 3, "web")
            for i in range(10)]
    noise = [(100 + i, f"w{i % 17} v{i % 13} zig zag quux corge u{i % 7}", "web")
             for i in range(90)]
    docs = spark.createDataFrame(like + noise, ["doc_id", "text", "source"])
    target = spark.createDataFrame(
        [(1000 + i, "alpha beta gamma delta epsilon zeta " * 4) for i in range(5)],
        ["doc_id", "text"],
    )
    clean, ledger = curate(
        docs,
        config=CurationConfig(
            normalize=False, near_dedup=False,
            dsir_target=target, dsir_n=20,
        ),
    )
    stages = {r["stage"]: r["rows"] for r in ledger.collect()}
    assert stages["dsir_select"] == 20
    ids = {r["doc_id"] for r in clean.collect()}
    assert len(ids) == 20
    assert sum(1 for i in ids if i < 100) >= 8  # 10% of corpus, heavily kept


def test_dataset_card_sections_and_values(spark):
    """dataset_card: volume/shape numbers exact, duplicate fraction
    from the digest pass, language and source mixes present, all in
    one long-format frame."""
    from bigdata_quality_assessment_spark.pipeline import dataset_card

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "the quick brown fox jumps over the lazy dog", "web"),  # exact dup
        (2, "der schnelle braune fuchs und der faule hund ist", "books"),
        (3, "mail me at a@b.co now", "web"),
    ]
    rows.append((4, None, "web"))  # NULL text: counted, PII-free
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    card = {(r.section, r.metric): r.value for r in dataset_card(docs).collect()}
    assert card[("volume_and_shape", "n_docs")] == 5.0
    assert card[("volume_and_shape", "pii_doc_fraction")] == 0.2  # 1 of 5
    assert card[("duplication", "exact_duplicate_fraction")] == 0.25  # of non-null
    # mixes are FRACTIONS of the corpus
    assert card[("source_mix", "source:web")] == 0.8
    assert card[("source_mix", "source:books")] == 0.2
    lang_fracs = [v for (s, m), v in card.items() if s == "language_mix"]
    assert abs(sum(lang_fracs) - 1.0) < 1e-9
    # id_col threading: a non-default id column must not crash
    renamed = docs.withColumnRenamed("doc_id", "id")
    card2 = {(r.section, r.metric) for r in dataset_card(renamed, id_col="id").collect()}
    assert ("volume_and_shape", "n_docs") in card2


def test_curate_audio_counts_null_id_rows(spark):
    """NULL-id clips cannot ride the id-set stage barriers (a semi-join
    never matches NULL): curate_audio drops them once, up front, and
    the report counts them as its ``non_null_id`` row -- for every
    stage mix, including the near-dedup-only config where they used to
    vanish without trace."""
    from bigdata_quality_assessment_spark.pipeline import (
        AudioCurationConfig,
        curate_audio,
    )
    from bigdata_quality_assessment_spark.session import local_frame
    from bigdata_quality_assessment_spark.sources.audiogen import square_wav

    amps = [(i * 997) % 20000 + 100 for i in range(65)]
    # b inverts every window-to-window energy step of a: far apart in
    # fingerprint space, so near-dedup keeps both
    a, b = square_wav(amps), square_wav([20200 - x for x in amps])
    c = square_wav([(i * 613) % 20000 + 100 for i in range(65)])
    media = local_frame(
        spark,
        [(1, a), (2, a), (3, b), (None, a), (None, c)],
        "media_id long, content binary",
    )
    cases = [
        (AudioCurationConfig(near_dedup=False), {1, 3}, [("exact_dedup", 2)]),
        (
            AudioCurationConfig(exact_dedup=False, trim_robust=False),
            {1, 3},
            [("near_dedup", 2)],
        ),
        (AudioCurationConfig(exact_dedup=False, near_dedup=False), {1, 2, 3}, []),
    ]
    for cfg, kept, tail in cases:
        clean, report = curate_audio(media, cfg)
        assert {r.media_id for r in clean.collect()} == kept
        assert [tuple(r) for r in report.collect()] == [
            ("input", 5),
            ("non_null_id", 3),
            *tail,
        ]
        unreported, none = curate_audio(media, cfg, with_report=False)
        assert none is None
        assert {r.media_id for r in unreported.collect()} == kept

    # all ids set: no non_null_id row
    _, report = curate_audio(
        media.filter("media_id is not null"), AudioCurationConfig(near_dedup=False)
    )
    assert [tuple(r) for r in report.collect()] == [
        ("input", 3),
        ("exact_dedup", 2),
    ]
