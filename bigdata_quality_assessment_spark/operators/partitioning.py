"""Input-parallelism guard for compute-heavy operator entry points.

Spark's scan parallelism is the input split count, and a parquet file
is only splittable at row-group boundaries. A small table written as
one part with one row group therefore arrives as ONE partition, and
every map-side stage before the operator's first shuffle — shingling,
signature folds, regexp chains, Pandas-UDF decode — serializes onto a
single core no matter how many the cluster has. (Measured: the sf0.1
documents table is one 0.6 MB part/row-group; MinHash near-dedup ran
4.9 s as-is vs 2.7 s widened on local[32], and a 500-query brute-force
kNN batch pinned one core for 14+ CPU-minutes on the sf1 replica.)

``ensure_min_parallelism`` round-robins such an input up to the
cluster's default parallelism. The repartition costs one shuffle of
the operator's narrow input projection — paid once, BEFORE the heavy
per-row work fans out — and is a no-op branch whenever the input
already has enough splits, which is always true for the multi-split
datasets a real cluster reads. Operators apply it only where their
own first stage is the expensive one; pure projections (text_stats,
quality_score, redaction) leave partitioning to the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to ``defaultParallelism`` if it arrives
    with fewer partitions; identity otherwise (the at-scale path).
    Runs no Spark job (see ``_planned_partitions``)."""
    if df.isStreaming:
        # a streaming frame has no static partition count to inspect
        # (.rdd is illegal); micro-batch parallelism is the source's
        # concern (maxFilesPerTrigger etc.), not this guard's
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if _planned_partitions(df) < target:
        return df.repartition(target)
    return df


def _planned_partitions(df: DataFrame) -> int:
    """The partition count of ``df``'s physical plan, read without
    running any of it.

    A plan with no exchange (a scan, a checkpoint, narrow work over
    either) is not adaptive, and building its RDD runs no job, so its
    count is the input split count. An adaptive plan would run every
    shuffle-map stage to build its RDD (``df.rdd``), and the caller's
    own action would then run them again; its count is read from the
    plan AQE starts from instead. For a plan that ends in a shuffle
    that is the planned shuffle partition count: AQE's runtime
    coalescing, which only merges the partitions of small shuffles,
    is not known until the stages run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return df.rdd.getNumPartitions()
    return _node_partitions(plan.executedPlan())


def _node_partitions(node) -> int:
    # a node that passes its input's partitioning through (a broadcast
    # join's streamed side, a project over a scan) reports it as
    # unknown (0) when the input is a scan: count the scan's splits
    n = node.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = node.children()
    if kids.isEmpty():
        rdd = node.executeColumnar() if node.supportsColumnar() else node.execute()
        return rdd.getNumPartitions()
    counts = [_node_partitions(kids.apply(i)) for i in range(kids.size())]
    return sum(counts) if node.nodeName() == "Union" else max(counts)


def id_ddl_type(df: DataFrame, col: str) -> str:
    """The DDL type string of ``df[col]`` — used by Arrow operators to
    carry the caller's id column through a ``mapInPandas`` schema
    unchanged (a hardcoded ``long`` would silently miscast string or
    int ids on the Arrow path while the Catalyst path preserves them)."""
    return df.schema[col].dataType.simpleString()
