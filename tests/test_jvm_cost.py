"""Fixed per-op JVM cost that ``build_session`` removes: the generated
classes of one op stay in the codegen cache for the next op, and no
case mapping runs ICU's one-time table build
(``CollationAwareUTF8String``'s static initializer)."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate
from bigdata_quality_assessment_spark.sources.textgen import eval_spans, realistic_documents
from bigdata_quality_assessment_spark.streaming.ingest import (
    init_ingest_store,
    streaming_ingest_curated,
)

REPO = Path(__file__).resolve().parent.parent
TEXT_SCHEMA = "doc_id long, text string"


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (codegen cache
    misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_op_reuses_generated_classes(spark, tmp_path):
    """One benchmark-shaped delivery (``curate`` with its report, then
    the survivors streamed into a fresh dedup store and BM25 index)
    compiles well over 100 generated classes. At Spark's default cache
    size (100 entries) the repeated op finds its early classes evicted
    by its later ones and compiles them again; the session's cache
    holds one op's classes."""
    docs = realistic_documents(spark, 50, seed=3).select(
        "doc_id", "text", "source"
    ).localCheckpoint(eager=True)
    bench = eval_spans(spark, seed=3).select("text").localCheckpoint(eager=True)

    def op(d):
        clean, report = curate(docs, bench, CurationConfig())
        report.collect()
        clean.select("doc_id", "text").write.parquet(str(d / "arrivals" / "d0"))
        init_ingest_store(spark, str(d / "store"), TEXT_SCHEMA)
        stream = spark.readStream.schema(TEXT_SCHEMA).parquet(str(d / "arrivals" / "*"))
        q = streaming_ingest_curated(
            stream,
            str(d / "store"),
            checkpoint=str(d / "ckpt"),
            bm25_index_path=str(d / "bm25"),
            bm25_n_buckets=16,
        )
        q.awaitTermination()
        assert q.exception() is None

    counts = []
    for i in range(2):
        c0 = _compiles(spark)
        op(tmp_path / f"op{i}")
        counts.append(_compiles(spark) - c0)
    assert counts[1] < 25, counts


_CHILD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from bigdata_quality_assessment_spark.operators.text import (
        normalize_text, stopword_ratio,
    )
    from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate
    from bigdata_quality_assessment_spark.session import build_session, local_frame
    from bigdata_quality_assessment_spark.sources.textgen import (
        eval_spans, realistic_documents,
    )

    spark = build_session(
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Xlog:class+init=info:file={log}",
        }},
    )
    texts = local_frame(
        spark,
        [(0, "The Quick Brown Fox"), (1, "Café ẞ straße ΟΔΟΣ İstanbul ПРИВЕТ 東京 😀")],
        "doc_id long, text string",
    )
    texts.select(
        normalize_text("text"), stopword_ratio(F.col("text"), ("the", "and"))
    ).collect()
    docs = realistic_documents(spark, 50, seed=5).select("doc_id", "text", "source")
    clean, report = curate(docs, eval_spans(spark, seed=5).select("text"), CurationConfig())
    report.collect()
    spark.stop()
    """
)


def test_fresh_jvm_runs_no_icu_case_table_init(tmp_path):
    """In a JVM of its own (the shared test JVM may have run ICU case
    mapping in another test), the text layer and ``curate`` never
    initialize ``CollationAwareUTF8String``: on Spark 4.1 its static
    initializer title-cases every code point, ~4 CPU-s. The class is
    loaded and verified at session start either way, so the guard reads
    the JVM's class-initialization log, not its class-load log."""
    log = tmp_path / "class_init.log"
    script = tmp_path / "child.py"
    script.write_text(_CHILD.format(repo=str(REPO), log=str(log)))
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = log.read_text().splitlines()
    assert any("Initializing 'org/apache/spark/" in ln for ln in lines)
    marker = "Initializing 'org/apache/spark/sql/catalyst/util/CollationAwareUTF8String'"
    hits = [ln for ln in lines if marker in ln]
    assert not hits, hits
