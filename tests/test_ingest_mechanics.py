"""Mechanics shared by the streaming curation tiers: Spark jobs per
``availableNow`` drain, crash recovery of the directory swap, replay
markers of the expectations ledger, and NULL-id rows in text ingest."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.sources.textgen import realistic_documents
from bigdata_quality_assessment_spark.streaming.embedding_ingest import (
    forget_embeddings,
    init_embedding_store,
    read_embedding_corpus,
    streaming_embedding_ingest,
)
from bigdata_quality_assessment_spark.streaming.ingest import (
    forget,
    init_ingest_store,
    read_corpus,
    streaming_expectations_ledger,
    streaming_ingest_curated,
)

TEXT_SCHEMA = "doc_id long, text string"


def _drain_jobs(spark, q) -> int:
    """Spark jobs run by one drained query. Streaming makes the query's
    run id the job group of every job its batches start."""
    q.awaitTermination()
    assert q.exception() is None
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))


def _stream(spark, path, schema):
    return spark.readStream.schema(schema).parquet(str(path / "*"))


def _leftovers(root) -> list[str]:
    return sorted(
        n for n in os.listdir(root) if n.endswith(("__old__", "__forget__", "__compact__"))
    )


@pytest.mark.parametrize(
    "kw, jobs",
    [
        # the benchmark's shape: BM25 index on, no span tier, no event time
        ({"bm25": True}, 29),
        ({"span_dedup": True, "event_time_col": "ts"}, 44),
    ],
    ids=["bm25", "span_event_time"],
)
def test_text_ingest_drain_job_count(spark, tmp_path, kw, jobs):
    """One 200-doc ``realistic_documents`` delivery into a fresh store
    runs a pinned number of Spark jobs; a refactor that adds one fails."""
    kw = dict(kw)
    docs = realistic_documents(spark, 200, seed=5).select("doc_id", "text")
    schema = TEXT_SCHEMA
    if kw.get("event_time_col"):
        docs = docs.withColumn("ts", F.col("doc_id").cast("double"))
        schema += ", ts double"
    docs.coalesce(1).write.parquet(str(tmp_path / "arrivals" / "d0"))
    root = str(tmp_path / "store")
    init_ingest_store(spark, root, TEXT_SCHEMA)
    if kw.pop("bm25", False):
        kw.update(bm25_index_path=str(tmp_path / "bm25"), bm25_n_buckets=16)
    q = streaming_ingest_curated(
        _stream(spark, tmp_path / "arrivals", schema),
        root,
        checkpoint=str(tmp_path / "ckpt"),
        **kw,
    )
    assert _drain_jobs(spark, q) == jobs
    assert read_corpus(spark, root).count() > 150


def _vec(seed, dim=16, jitter=0.0):
    rng = np.random.RandomState(seed)
    v = rng.randn(dim)
    if jitter:
        v = v + np.random.RandomState(seed + 1000).randn(dim) * jitter
    return [float(x) for x in v]


@pytest.mark.parametrize(
    "verify_threshold, jobs", [(None, 15), (0.95, 19)], ids=["band", "verify"]
)
def test_embedding_ingest_drain_job_count(spark, tmp_path, verify_threshold, jobs):
    """One 64-vector delivery (8 of them near duplicates of earlier
    rows) into a fresh store runs a pinned number of Spark jobs."""
    rows = [(i, _vec(i)) for i in range(56)]
    rows += [(100 + i, _vec(i, jitter=1e-3)) for i in range(8)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(tmp_path / "arrivals" / "d0"))
    root = str(tmp_path / "store")
    init_embedding_store(spark, root, 16, n_planes=16, n_tables=4, seed=7)
    q = streaming_embedding_ingest(
        _stream(spark, tmp_path / "arrivals", "vec_id long, embedding array<float>"),
        root,
        checkpoint=str(tmp_path / "ckpt"),
        verify_threshold=verify_threshold,
    )
    assert _drain_jobs(spark, q) == jobs
    ids = {r.vec_id for r in read_embedding_corpus(spark, root).collect()}
    assert ids == set(range(56))


def _crash_mid_swap(path: str, tmp_suffix: str) -> None:
    """The state a crash between a swap's two renames leaves: the data
    under ``<path>.__old__``, a finished rewrite under the temp sibling."""
    os.rename(path, path + ".__old__")
    os.makedirs(path + tmp_suffix)
    with open(os.path.join(path + tmp_suffix, "part-stale.parquet"), "w") as fh:
        fh.write("stale")


def test_forget_recovers_crashed_swap(spark, tmp_path):
    root = str(tmp_path / "store")
    init_ingest_store(spark, root, TEXT_SCHEMA)
    spark.createDataFrame(
        [(0, "first unique document body with many distinct words"),
         (1, "second document entirely different content about topics")],
        TEXT_SCHEMA,
    ).coalesce(1).write.parquet(str(tmp_path / "arrivals" / "b0"))
    q = streaming_ingest_curated(
        _stream(spark, tmp_path / "arrivals", TEXT_SCHEMA),
        root,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    _crash_mid_swap(os.path.join(root, "corpus"), ".__forget__")
    _crash_mid_swap(os.path.join(root, "buckets"), ".__forget__")
    assert forget(spark, root, [0]) == 1
    assert _leftovers(root) == []
    assert {r.doc_id for r in read_corpus(spark, root).collect()} == {1}
    assert spark.read.parquet(root + "/digests").count() == 1
    assert {
        r.doc_id for r in spark.read.parquet(root + "/buckets").select("doc_id").collect()
    } == {1}


def test_forget_embeddings_recovers_crashed_swap(spark, tmp_path):
    root = str(tmp_path / "store")
    init_embedding_store(spark, root, 16, seed=9)
    spark.createDataFrame(
        [(i, _vec(10 + i)) for i in range(4)], "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(tmp_path / "arrivals" / "b0"))
    q = streaming_embedding_ingest(
        _stream(spark, tmp_path / "arrivals", "vec_id long, embedding array<float>"),
        root,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    _crash_mid_swap(os.path.join(root, "corpus"), ".__forget__")
    assert forget_embeddings(spark, root, [1, 3]) == 2
    assert _leftovers(root) == []
    assert sorted(r.vec_id for r in read_embedding_corpus(spark, root).collect()) == [0, 2]
    b = spark.read.parquet(root + "/buckets")
    assert sorted(r.vec_id for r in b.select("vec_id").distinct().collect()) == [0, 2]


def test_compact_lake_recovers_crashed_swap(spark, tmp_path):
    from bigdata_quality_assessment_spark.sources.io import compact_lake

    path = str(tmp_path / "lake")
    spark.range(1000).repartition(10).write.parquet(path)
    _crash_mid_swap(path, ".__compact__")
    assert compact_lake(spark, path, target_records_per_file=500) == 2
    assert _leftovers(str(tmp_path)) == []
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(1000))


def test_streaming_expectations_ledger_replay_idempotent(spark, tmp_path):
    """A commit marker for batch 0 under the checkpoint short-circuits
    the batch; a fresh checkpoint ledgers it and records its marker."""
    from bigdata_quality_assessment_spark.operators.expectations import not_null

    spark.createDataFrame([(1, 10.0), (2, None)], "id long, v double").coalesce(
        1
    ).write.parquet(str(tmp_path / "in" / "b0"))
    stream = _stream(spark, tmp_path / "in", "id long, v double")
    ledger = str(tmp_path / "ledger")
    ck = str(tmp_path / "c1")
    os.makedirs(os.path.join(ck, "_ledger_commits"))
    open(os.path.join(ck, "_ledger_commits", "0"), "w").write("done")
    streaming_expectations_ledger(stream, [not_null("v")], ledger, checkpoint=ck).awaitTermination()
    assert not os.path.exists(ledger)
    ck2 = str(tmp_path / "c2")
    streaming_expectations_ledger(stream, [not_null("v")], ledger, checkpoint=ck2).awaitTermination()
    rows = [(r.batch_id, r.n_rows, r.n_violations) for r in spark.read.parquet(ledger).collect()]
    assert rows == [(0, 2, 1)]
    assert os.path.exists(os.path.join(ck2, "_ledger_commits", "0"))


def test_text_ingest_drops_null_id_rows(spark, tmp_path):
    """A NULL-id row is dropped with the invalid-text rows: it reaches
    neither the corpus nor a state store, so its text arriving later
    under a real id is accepted."""
    lone = "a lone passage whose words appear in no other document of this batch"
    spark.createDataFrame(
        [(None, lone), (1, "doc one has its own distinct and separate wording here")],
        TEXT_SCHEMA,
    ).coalesce(1).write.parquet(str(tmp_path / "arrivals" / "b0"))
    root = str(tmp_path / "store")
    init_ingest_store(spark, root, TEXT_SCHEMA)

    def drain():
        streaming_ingest_curated(
            _stream(spark, tmp_path / "arrivals", TEXT_SCHEMA),
            root,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    drain()
    assert [r.doc_id for r in read_corpus(spark, root).collect()] == [1]
    assert spark.read.parquet(root + "/digests").count() == 1
    assert {r.doc_id for r in spark.read.parquet(root + "/buckets").collect()} == {1}
    time.sleep(0.05)
    spark.createDataFrame([(7, lone)], TEXT_SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "arrivals" / "b1")
    )
    drain()
    assert sorted(r.doc_id for r in read_corpus(spark, root).collect()) == [1, 7]
