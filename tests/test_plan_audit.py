"""Physical-plan audit of the engine's hottest paths at sf0.01: flags
scale anti-patterns in the planned (not executed) physical plans.

  * `Exchange SinglePartition` on a data-sized frame (global window /
    unpartitioned sort) — single-executor bottleneck at scale;
  * `BatchEvalPython` (row-at-a-time Python UDF) — only ArrowEval /
    mapInPandas python boundaries are sanctioned;
  * per-operator shape checks: the fused scorer is exchange-free, the
    kNN paths keep their partial top-k, the as-of join uses exactly
    one hash exchange, media decode never shuffles blobs, the rollup
    scans once.

The flagship audited is ``headline.flagship_us_lw``'s frame — the plan
``bench.py`` times, behind its eager barrier.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.headline import flagship_us_lw, points
from bigdata_quality_assessment_spark.operators.asof import asof_join, time_rollup
from bigdata_quality_assessment_spark.operators.audio import near_dedup_audio
from bigdata_quality_assessment_spark.operators.models import (
    predict_ensemble_stats,
    train_ensemble,
)
from bigdata_quality_assessment_spark.operators.multimodal import decode_media
from bigdata_quality_assessment_spark.operators.phash import near_dedup_videos
from bigdata_quality_assessment_spark.operators.score import inverse_density_weights
from bigdata_quality_assessment_spark.operators.select import pool_remove
from bigdata_quality_assessment_spark.operators.similarity import (
    embedding_near_dedup,
    ivf_knn,
    ivfpq_knn,
    knn_brute_force,
    semantic_dedup,
)
from bigdata_quality_assessment_spark.operators.text import (
    bm25_index_delta,
    bm25_search,
    exact_dedup,
    fuzzy_decontaminate,
    merge_bm25_stats,
    minhash_lsh_candidates,
    minhash_signatures,
    near_dedup_minhash,
    simhash,
    simhash_near_dedup,
)
from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate
from bigdata_quality_assessment_spark.sources.audiogen import planted_audio
from bigdata_quality_assessment_spark.sources.tables import load_table
from bigdata_quality_assessment_spark.streaming.ingest import (
    init_ingest_store,
    streaming_ingest_curated,
)

SF_DIR = "/root/testdata/sf0.01"
SINGLE = "Exchange SinglePartition"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def flags(df, allow: tuple[str, ...] = ()) -> list[str]:
    """The scale anti-patterns in ``df``'s plan, minus ``allow``.

    Matched on the SIMPLE plan string: formatted mode prints node names
    and their arguments in separate sections, so "Exchange
    SinglePartition" can never match there."""
    plan = simple(df)
    found = []
    if "BatchEvalPython" not in allow and "BatchEvalPython" in plan:
        found.append("BatchEvalPython")
    if SINGLE in allow:
        return found
    # a single-partition exchange is SANCTIONED when its child is a
    # partial aggregate (map-side combine ran: the exchange carries one
    # row per task, not data rows); the pathology is raw data rows
    # feeding a global window/sort through one partition
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if SINGLE not in line:
            continue
        # the aggregate child may sit under wrapper nodes
        # (WholeStageCodegen / InputAdapter / AQEShuffleRead /
        # ShuffleQueryStage); walk past them to the first real operator
        # line. ReusedExchange is deliberately NOT skipped — it is a leaf
        # reference, not a wrapper; skipping it would land the check on
        # an unrelated sibling
        child = ""
        for nxt in lines[i + 1 : i + 6]:
            stripped = re.sub(r"^[\s:+\-*()0-9]*", "", nxt)
            if not stripped or stripped.startswith(
                ("WholeStageCodegen", "InputAdapter", "AQEShuffleRead", "ShuffleQueryStage")
            ):
                continue
            child = nxt
            break
        if "partial_" not in child:
            found.append(SINGLE)
            break
    return found


@pytest.fixture(scope="module")
def t(spark):
    li = load_table(spark, "lineitem", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    emb = load_table(spark, "embeddings", SF_DIR)
    ev = load_table(spark, "events", SF_DIR).withColumn("ts", F.expr("ts DIV 1000"))
    return {
        "li": li,
        "pts": points(spark, SF_DIR),
        "docs": docs,
        "emb": emb,
        "q": emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        "ev": ev,
    }


def _asof(t):
    clicks = t["ev"].filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    buys = t["ev"].filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    return asof_join(clicks, buys, on=["user_id"], ts_col="ts")


def _bm25_inc(t):
    p_a, d_a, s_a = bm25_index_delta(t["docs"], n_buckets=8)
    qdf = t["docs"].filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_search(p_a, qdf, merge_bm25_stats(s_a), top_k=5, max_df_frac=0.5,
                       df_frame=d_a)


def _doc_frames(t):
    """Two frame slots per document: its word and character SimHash."""
    return simhash(t["docs"]).select(
        F.col("doc_id").alias("media_id"), F.lit(0).alias("frame_id"),
        F.col("simhash").alias("dhash"),
    ).union(
        simhash(t["docs"], mode="char", k=5).select(
            F.col("doc_id").alias("media_id"), F.lit(1).alias("frame_id"),
            F.col("simhash").alias("dhash"),
        )
    )


def _media(t):
    return t["docs"].select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )


# name -> (build(spark, tables), allowed flags). A closure's single-
# partition hop is sanctioned where it moves the duplicates-only edge
# list (threshold-bounded, operators/graph.py), never documents.
AUDITED = {
    # column pruning / pushdown on a filtered scan
    "pruned_filtered_scan": (
        lambda s, t: t["li"].filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity"),
        (),
    ),
    # top-k itself compiles to TakeOrderedAndProject (no global sort)
    "flagship_us_lw": (lambda s, t: flagship_us_lw(s, SF_DIR).frame, ()),
    # P12 weights: agg + broadcast, no Window, no single-partition pass of the pool
    "inverse_density_weights": (
        lambda s, t: inverse_density_weights(t["pts"].withColumn("pdf", F.col("y"))),
        (),
    ),
    # pool deletion must broadcast the tiny side
    "pool_remove_broadcast_anti": (
        lambda s, t: pool_remove(
            t["pts"], t["pts"].filter(F.col("point_id") % 100000 == 3).select("point_id")
        ),
        (),
    ),
    # minhash candidates: shuffle only on (band,bucket) keys
    "minhash_lsh_candidates": (
        lambda s, t: minhash_lsh_candidates(minhash_signatures(t["docs"], n_hashes=32), bands=8),
        (),
    ),
    # exact/simhash dedup: exchanges carry (digest/signature, id) only;
    # the drop-set anti-join is UNHINTED (corpus-shaped at web scale;
    # AQE broadcasts measured-small drop sets itself)
    "exact_dedup": (lambda s, t: exact_dedup(t["docs"]), ()),
    "simhash_near_dedup": (lambda s, t: simhash_near_dedup(t["docs"]), (SINGLE,)),
    "near_dedup_videos": (
        lambda s, t: near_dedup_videos(_media(t), frame_hashes=_doc_frames(t)),
        (SINGLE,),
    ),
    "embedding_near_dedup": (lambda s, t: embedding_near_dedup(t["emb"]), (SINGLE,)),
    # knn: two-phase top-k — no single-partition sort over the scored
    # corpus (phase-1 window partitions on (query, spark_partition_id))
    "knn_two_phase_topk_sql": (lambda s, t: knn_brute_force(t["emb"], t["q"], k=5, impl="sql"), ()),
    "knn_gemm_topk_arrow": (lambda s, t: knn_brute_force(t["emb"], t["q"], k=5), ()),
    "ivf_knn": (lambda s, t: ivf_knn(t["emb"], t["q"], dim=64, k=5, n_centroids=8, n_probe=2), ()),
    "ivfpq_knn": (
        lambda s, t: ivfpq_knn(t["emb"], t["q"], dim=64, k=5, n_centroids=8, n_probe=2, m=4),
        (),
    ),
    "semantic_dedup": (
        lambda s, t: semantic_dedup(t["emb"], dim=64, eps=0.1, n_centroids=8, seed=0),
        (),
    ),
    # as-of join: one hash exchange on the key, no cartesian/range blowup
    "asof_join": (lambda s, t: _asof(t), ()),
    "decode_media": (lambda s, t: decode_media(_media(t)), ()),
    "near_dedup_minhash_cluster": (
        lambda s, t: near_dedup_minhash(t["docs"], k=3, n_hashes=32, bands=8, min_jaccard=0.7),
        (SINGLE,),
    ),
    # incremental BM25 search: postings without df + delta-df side
    # frame; the only broadcasts are query-scoped, scoring is one
    # aggregation, the top-k window partitions on query_id
    "bm25_inc_search": (lambda s, t: _bm25_inc(t), ()),
    # audio segment tier: peak-anchored segment fingerprints through the
    # slot-banded offset verify — one Arrow decode pass, slim exchanges
    "audio_segment_dedup": (
        lambda s, t: near_dedup_audio(
            planted_audio(s, 300, trim_rate=0.1, n_segments=4, seed=5),
            seg_frames=2080, max_offset=1,
        ),
        (SINGLE,),
    ),
}


def test_flags_catch_what_they_name(t):
    from pyspark.sql import Window

    ranked = t["li"].withColumn("r", F.row_number().over(Window.orderBy("l_orderkey")))
    assert flags(ranked) == [SINGLE]
    # a partial aggregate under the exchange is the sanctioned shape
    assert flags(t["li"].agg(F.sum("l_quantity"))) == []
    udf = F.udf(lambda x: x, "double")
    assert flags(t["li"].select(udf("l_quantity"))) == ["BatchEvalPython"]


@pytest.mark.parametrize("name", list(AUDITED))
def test_plan_free_of_scale_flags(spark, t, name):
    build, allow = AUDITED[name]
    assert flags(build(spark, t), allow) == []


def test_fused_scorer_is_exchange_free(t):
    """The fused scorer must be a single narrow pass."""
    pts = t["pts"]
    thetas = train_ensemble(pts.filter(F.col("point_id") % 9973 == 0), ["x1", "x2"], "y")
    fused = predict_ensemble_stats(pts, thetas, ["x1", "x2"], carry_cols=["y"])
    assert "Exchange" not in formatted(fused)


def test_knn_paths_keep_their_topk_shapes(t):
    # the SQL path salts its partial top-k by partition id
    assert "SPARK_PARTITION_ID" in formatted(
        knn_brute_force(t["emb"], t["q"], k=5, impl="sql")
    ).upper()
    # arrow (production) path: phase-1 is the in-batch gemm top-k — no
    # crossJoin fanout anywhere; the only window is the k-bounded merge
    arrow = formatted(knn_brute_force(t["emb"], t["q"], k=5))
    assert "MapInPandas" in arrow
    assert "BroadcastNestedLoopJoin" not in arrow


def test_ivfpq_is_not_a_product_join(t):
    plan = formatted(ivfpq_knn(t["emb"], t["q"], dim=64, k=5, n_centroids=8, n_probe=2, m=4))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # the Arrow index/scoring stages


def test_semantic_dedup_drop_join_unhinted(t):
    """SemDeDup's own workload prunes ~50% of the corpus, so the drop
    set is corpus-shaped and the build side belongs to AQE."""
    sd = semantic_dedup(t["emb"], dim=64, eps=0.1, n_centroids=8, seed=0)
    assert "ResolvedHint" not in sd._jdf.queryExecution().analyzed().toString()


def test_asof_join_one_hash_exchange(t):
    # structural node counts on the simple plan string (formatted mode
    # separates node names from their arguments)
    plan = simple(_asof(t))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_decode_media_never_shuffles_blobs(t):
    """ONE Arrow pass; blobs never leave the executors after the decode
    fans out. The single sanctioned Exchange is ensure_min_parallelism's
    ROUND-ROBIN widen of an under-split local input
    (operators/partitioning.py); any hash/range exchange means content
    bytes shuffle through operator logic."""
    plan = formatted(decode_media(_media(t))).lower()
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "exchange" not in plan or "roundrobinpartitioning" in plan


def test_time_rollup_single_scan(t):
    """Expand + single aggregation, no re-scan per level."""
    plan = simple(time_rollup(t["ev"].withColumn("ts", F.col("ts") * 1000), "ts", "value"))
    assert plan.count("FileScan parquet") == 1 and "Expand" in plan


def _nodes(tree):
    """``tree`` and every descendant of a Catalyst tree (a plan or an
    expression), walked through py4j."""
    yield tree
    kids = tree.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _checkpointed_plans(monkeypatch, frame_cls) -> list:
    """Patch ``frame_cls.localCheckpoint`` to record the planned
    physical plan of every frame checkpointed from now on (foreachBatch
    bodies run on the driver, so streaming folds are seen too)."""
    plans = []
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().sparkPlan())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    return plans


def _signing_faults(plans) -> tuple[list, list]:
    """``(split_in_lambda, wide_aggs)`` over ``plans``: every lambda
    that tokenizes text, and the size of every aggregate with more than
    ``spark.sql.codegen.maxFields`` = 100 aggregate expressions."""
    split_in_lambda, wide_aggs = [], []
    for plan in plans:
        for node in _nodes(plan):
            if _kind(node) == "HashAggregateExec":
                n_aggs = node.aggregateExpressions().size()
                if n_aggs > 100:
                    wide_aggs.append(n_aggs)
            exprs = node.expressions()
            for i in range(exprs.size()):
                for e in _nodes(exprs.apply(i)):
                    if _kind(e) == "LambdaFunction" and any(
                        _kind(x) == "StringSplit" for x in _nodes(e.function())
                    ):
                        split_in_lambda.append(e.toString()[:200])
    return split_in_lambda, wide_aggs


@pytest.mark.parametrize("lanes", ["xxhash64", "lane_params"])
def test_near_dedup_minhash_lanes_read_a_barrier(t, monkeypatch, lanes):
    """The signature lanes are higher-order functions over a STORED hash
    array. Over an unmaterialized projection CollapseProject inlines
    the tokenize+shingle array into the lane lambda, which re-splits
    every document once per lane; an explode into one ``min`` column
    per lane builds an aggregate too wide for whole-stage codegen
    (``spark.sql.codegen.maxFields`` = 100). Checked on every frame
    the operator checkpoints and on its result."""
    from bigdata_quality_assessment_spark.queries import _MINHASH_LANES

    plans = _checkpointed_plans(monkeypatch, type(t["docs"]))
    kw = {"lane_params": _MINHASH_LANES} if lanes == "lane_params" else {}
    out = near_dedup_minhash(t["docs"], k=3, n_hashes=128, bands=16, **kw)
    plans.append(out._jdf.queryExecution().sparkPlan())
    assert len(plans) >= 3  # the hash table, the band keys, the result
    assert _signing_faults(plans) == ([], [])


def _fuzzy(lanes: str):
    def run(t, tmp_path):
        from bigdata_quality_assessment_spark.queries import _MINHASH_LANES

        bench = t["docs"].filter(F.col("doc_id") % 50 == 0)
        kw = {"lane_params": _MINHASH_LANES} if lanes == "lane_params" else {}
        return fuzzy_decontaminate(t["docs"], bench, bands=32, **kw)

    return run


def _curate_fuzzy(t, tmp_path):
    bench = t["docs"].filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    cfg = CurationConfig(fuzzy_decon=True, fuzzy_min_jaccard=0.5)
    return curate(t["docs"], bench, cfg)[0]


def _ingest(span_dedup: bool):
    def run(t, tmp_path):
        docs = t["docs"].filter(F.col("doc_id") < 200).select("doc_id", "text")
        docs.coalesce(1).write.parquet(str(tmp_path / "arrivals" / "d0"))
        schema = "doc_id long, text string"
        root = str(tmp_path / "store")
        init_ingest_store(docs.sparkSession, root, schema)
        stream = docs.sparkSession.readStream.schema(schema).parquet(
            str(tmp_path / "arrivals" / "*")
        )
        q = streaming_ingest_curated(
            stream, root, checkpoint=str(tmp_path / "ckpt"), span_dedup=span_dedup
        )
        q.awaitTermination()
        assert q.exception() is None

    return run


# caller -> (run(t, tmp_path) returning its result frame or None, the
# Spark jobs the call itself runs or None where another test pins them)
SIGNING_CALLERS = {
    "minhash_signatures": (lambda t, tmp_path: minhash_signatures(t["docs"]), 1),
    "fuzzy_xxhash64": (_fuzzy("xxhash64"), 2),
    "fuzzy_lane_params": (_fuzzy("lane_params"), 2),
    "curate_fuzzy": (_curate_fuzzy, None),
    "ingest": (_ingest(False), None),
    "ingest_span_dedup": (_ingest(True), None),
}


@pytest.mark.parametrize("caller", list(SIGNING_CALLERS))
def test_minhash_signing_callers_read_a_barrier(spark, t, monkeypatch, tmp_path, caller):
    """Every caller of the MinHash signing kernel signs a stored hash
    array: no recorded plan tokenizes inside a lambda or builds an
    aggregate wider than whole-stage codegen takes (see
    ``test_near_dedup_minhash_lanes_read_a_barrier``). The lazy hash
    barriers of ``minhash_signatures`` and ``fuzzy_decontaminate`` run
    a pinned number of jobs at call time."""
    from test_loop import _jobs

    run, call_jobs = SIGNING_CALLERS[caller]
    plans = _checkpointed_plans(monkeypatch, type(t["docs"]))
    out = {}
    jobs = _jobs(spark, lambda: out.update(r=run(t, tmp_path)))
    if out["r"] is not None:
        plans.append(out["r"]._jdf.queryExecution().sparkPlan())
    assert plans
    assert _signing_faults(plans) == ([], [])
    if call_jobs is not None:
        assert jobs == call_jobs
