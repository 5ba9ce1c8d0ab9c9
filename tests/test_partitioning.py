"""ensure_min_parallelism: the under-split input guard.

The local testdata tables are one parquet part with one row group, so
they arrive as a single input split; the guard must widen exactly that
case, leave well-split inputs untouched, pass streaming frames through
unchanged, and never alter operator RESULTS (the salts and samples the
operators use are partition-independent by design).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.partitioning import (
    ensure_min_parallelism,
)


def test_widens_single_partition_input(spark):
    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = ensure_min_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same rows, nothing dropped or duplicated by the round-robin
    assert out.count() == 1000
    assert out.agg(F.sum("id")).first()[0] == 999 * 1000 // 2


def test_no_op_when_already_wide(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 2)
    out = ensure_min_parallelism(df)
    # identity: no extra exchange inserted on an already-wide input
    assert out is df


def test_streaming_frame_passes_through(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert stream.isStreaming
    out = ensure_min_parallelism(stream)
    assert out is stream


def test_operator_results_partition_invariant(spark, tmp_path):
    # the guard's consumers must produce identical RESULTS whether the
    # input arrives as one split or many — pin it on the heaviest
    # consumer (minhash near-dedup end-to-end: signatures, banding,
    # verify, closure)
    from bigdata_quality_assessment_spark.operators.text import (
        near_dedup_minhash,
    )

    rows = [(i, f"the quick brown fox {i % 7} jumps over dog {i % 7}")
            for i in range(60)]
    docs1 = spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(1)
    docsN = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(8)
    a = sorted(r.doc_id for r in near_dedup_minhash(docs1, k=3).collect())
    b = sorted(r.doc_id for r in near_dedup_minhash(docsN, k=3).collect())
    assert a == b


def test_widen_decision_on_scan_and_checkpoint_inputs(spark, tmp_path):
    # the decision is the input split count, as the inputs arrive
    target = spark.sparkContext.defaultParallelism
    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "one"))
    scan = spark.read.parquet(str(tmp_path / "one"))
    assert ensure_min_parallelism(scan) is not scan
    one = spark.range(1000).coalesce(1).localCheckpoint(eager=True)
    assert ensure_min_parallelism(one) is not one
    wide = spark.range(1000).repartition(target).localCheckpoint(eager=True)
    assert ensure_min_parallelism(wide) is wide


def test_shuffled_input_runs_no_job_at_call_time(spark):
    # reading the count of an adaptive plan must not run its map stages
    # (the caller's action would run them again)
    from test_loop import _jobs

    base = spark.range(100).localCheckpoint(eager=True)

    def grouped():
        return base.groupBy((F.col("id") % 7).alias("k")).count()

    df = grouped()
    out = {}
    assert _jobs(spark, lambda: out.update(r=ensure_min_parallelism(df))) == 0
    alone = _jobs(spark, lambda: grouped().count())
    assert _jobs(spark, lambda: ensure_min_parallelism(grouped()).count()) == alone
    assert out["r"].count() == 7


def test_adaptive_plan_over_scan_counts_scan_splits(spark, tmp_path):
    # a broadcast join makes the plan adaptive while the output keeps
    # the streamed scan's splits; a union adds its inputs' splits
    from test_loop import _jobs

    target = spark.sparkContext.defaultParallelism
    small = F.broadcast(spark.range(10).withColumnRenamed("id", "k"))

    def joined(n_files):
        path = str(tmp_path / f"f{n_files}")
        spark.range(1000).withColumnRenamed("id", "k").repartition(n_files).write.parquet(path)
        return spark.read.parquet(path).join(small, "k")

    one, full, half = joined(1), joined(target), joined(target // 2)
    union = half.unionByName(half)
    out = {}

    def call():
        out.update({name: ensure_min_parallelism(df) for name, df in
                    (("one", one), ("full", full), ("union", union))})

    assert _jobs(spark, call) == 0
    assert out["one"] is not one
    assert out["full"] is full
    assert out["union"] is union
