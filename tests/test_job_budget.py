"""Call-time job budget: the Spark jobs an operator runs between its
call and its return, before anything reads the result. A builder with
no barrier runs none; each eager ``session.barrier`` runs one; a lazy
barrier over an adaptive plan with a shuffle runs that plan's map
stages when it is built (see ``session.barrier``). The inputs are
stored before the count starts, so only the operator's own jobs are
counted. A change that adds or moves a call-time job fails here.
Pinned at ``local[4]`` with 4 shuffle partitions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_loop import _jobs

from bigdata_quality_assessment_spark.session import barrier, local_frame

_WORDS = np.array("alpha beta gamma delta epsilon zeta eta theta".split())


def _docs(spark):
    """60 docs in near-duplicate pairs, two of them exact copies."""
    rows = [
        (i, " ".join(np.random.default_rng(i // 2).choice(_WORDS, 20)))
        for i in range(60)
    ]
    rows += [(100, rows[0][1]), (101, rows[7][1])]
    return barrier(local_frame(spark, rows, "doc_id long, text string"))


def _exact_dedup(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.text import exact_dedup

    docs = _docs(spark)
    return lambda: exact_dedup(docs)


def _minhash_signatures(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.text import minhash_signatures

    docs = _docs(spark)
    return lambda: minhash_signatures(docs)


def _minhash_lsh_candidates(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.text import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    sigs = barrier(minhash_signatures(_docs(spark)))
    return lambda: minhash_lsh_candidates(sigs)


def _near_dedup_minhash(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.text import near_dedup_minhash

    docs = _docs(spark)
    return lambda: near_dedup_minhash(docs)


def _simhash_near_dedup(two_level):
    def case(spark, tmp_path):
        from bigdata_quality_assessment_spark.operators.text import (
            simhash_near_dedup,
        )

        docs = _docs(spark)
        return lambda: simhash_near_dedup(docs, two_level=two_level)

    return case


def _connected_components(strategy):
    def case(spark, tmp_path):
        from bigdata_quality_assessment_spark.operators.graph import (
            connected_components,
        )

        pairs = barrier(local_frame(
            spark,
            [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (50, 60), (60, 70)],
            "doc_a long, doc_b long",
        ))
        return lambda: connected_components(pairs, strategy=strategy)

    return case


def _kde_input(spark):
    return barrier(spark.range(500).select((F.col("id") % 97 / 97.0).alias("x")))


def _kde_1d(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.density import kde_1d

    df = _kde_input(spark)
    return lambda: kde_1d(df, "x", bw=0.1, ngrid=64)


def _kde_1d_multi(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    df = _kde_input(spark)
    specs = [
        {"tag": "a", "col": "x", "bw": 0.1},
        {"tag": "b", "col": "x", "bw": "scott", "where": F.col("x") > 0.5},
    ]
    return lambda: kde_1d_multi(df, specs, ngrid=64)


def _apply_cdc(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.select import apply_cdc

    target = barrier(local_frame(
        spark, [(k, float(k)) for k in range(20)], "k long, x double"
    ))
    changes = barrier(local_frame(
        spark,
        [(k, 10.0 * k, 100 + k, "DU"[k % 2]) for k in range(0, 30, 3)]
        + [(3, 7.0, 500, "U")],
        "k long, x double, seq long, op string",
    ))
    return lambda: apply_cdc(target, changes, "k")


def _curate(with_report):
    def case(spark, tmp_path):
        from bigdata_quality_assessment_spark.pipeline import (
            CurationConfig,
            curate,
        )
        from bigdata_quality_assessment_spark.sources.textgen import (
            eval_spans,
            realistic_documents,
        )

        docs = barrier(realistic_documents(spark, 60, seed=5).select(
            "doc_id", "text", "source"
        ))
        bench = barrier(eval_spans(spark, seed=5).select("text"))
        return lambda: curate(docs, bench, CurationConfig(), with_report=with_report)

    return case


def _open_bm25_index(spark, tmp_path):
    from bigdata_quality_assessment_spark.operators.text import (
        append_bm25_index,
        delete_bm25_docs,
        open_bm25_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    append_bm25_index(docs.filter(F.col("doc_id") < 30), path, n_buckets=4)
    append_bm25_index(docs.filter(F.col("doc_id") >= 30), path)
    delete_bm25_docs(docs.filter(F.col("doc_id") == 3), path)
    return lambda: open_bm25_index(spark, path, materialize=True)


BUDGET = {
    "exact_dedup": (_exact_dedup, 0),
    "minhash_signatures": (_minhash_signatures, 0),
    # the band keys are always barriered eagerly before the self-join
    "minhash_lsh_candidates": (_minhash_lsh_candidates, 1),
    "near_dedup_minhash": (_near_dedup_minhash, 6),
    "simhash_near_dedup[auto]": (_simhash_near_dedup("auto"), 5),
    "simhash_near_dedup[False]": (_simhash_near_dedup(False), 5),
    "connected_components[auto]": (_connected_components("auto"), 1),
    "connected_components[iterative]": (_connected_components("iterative"), 29),
    # kde_1d is a one-spec kde_1d_multi: both run the map stages of
    # their lazy binned barrier, the grid convolutions run in the reader
    "kde_1d": (_kde_1d, 3),
    "kde_1d_multi": (_kde_1d_multi, 3),
    "apply_cdc": (_apply_cdc, 1),
    "curate[report]": (_curate(True), 23),
    "curate[no_report]": (_curate(False), 19),
    "open_bm25_index[materialize]": (_open_bm25_index, 6),
}


@pytest.mark.parametrize("name", list(BUDGET))
def test_call_time_job_budget(spark, tmp_path, name):
    setup, pinned = BUDGET[name]
    call = setup(spark, tmp_path)
    assert _jobs(spark, call) == pinned
