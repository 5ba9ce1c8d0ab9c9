"""Streaming CDC materializer: a change stream (I/U/D + sequence)
continuously folded into a queryable columnar snapshot.

Extends the batch ``apply_cdc`` (operators/select.py) to Structured
Streaming via ``foreachBatch`` — the documented pattern for sinks that
need batch-only semantics (multi-pass reads, overwrite) from a stream.
Each micro-batch:

1. reads the CURRENT snapshot version (payload + ``seq`` + ``op`` kept
   per key — tombstones are retained so a late, lower-``seq`` update
   for a deleted key cannot resurrect it);
2. unions the batch's changes and reduces to the per-key winner with
   ``max_by(struct(payload), seq)`` — map-side-combinable, and because
   the stored ``seq`` participates, the fold is ORDER-INDEPENDENT
   across micro-batches: replays and out-of-order batch delivery
   converge to the same snapshot (pinned by a test that delivers the
   high-seq file first);
3. writes the new snapshot to a fresh ``v{batch_id}`` directory and
   atomically flips a ``LATEST`` pointer file — readers never observe
   a half-written snapshot, and a crash between write and flip leaves
   the previous version live (write-ahead versioning, the minimal
   lakehouse commit protocol). Superseded versions are pruned after
   the flip.

Scale shape: the per-batch cost is one scan of the snapshot + one scan
of the batch and a keyed shuffle of their union — the standard
compact-on-write tradeoff. At 100 TB snapshots you partition the
snapshot by a key prefix and rewrite only touched partitions (dynamic
partition overwrite); the version-flip protocol here is exactly that
design at whole-snapshot granularity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.session import barrier

LATEST = "LATEST"


def compact_cdc_log(
    log: DataFrame,
    keys: str | list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Per-key last-change-wins reduction of a CDC log, KEEPING the
    winning row's ``seq`` and ``op`` (tombstones survive compaction).
    ``max_by(struct(non-key cols), seq)`` — map-side combinable,
    idempotent, order-independent."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    others = [c for c in log.columns if c not in keys]
    latest = log.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(seq_col)).alias("__w")
    )
    return latest.select(*keys, *[F.col(f"__w.{c}") for c in others])


def list_versions(root: str) -> list[str]:
    """Committed snapshot versions still on disk, newest first (the
    retention window of :func:`_commit`)."""
    versions = [
        d
        for d in os.listdir(root)
        if d.startswith("v") and os.path.isdir(os.path.join(root, d))
    ]
    versions.sort(key=lambda d: os.path.getmtime(os.path.join(root, d)), reverse=True)
    return versions


def read_snapshot(
    spark: SparkSession,
    root: str,
    op_col: str = "op",
    seq_col: str = "seq",
    with_meta: bool = False,
    version: str | None = None,
) -> DataFrame:
    """Read the LATEST committed snapshot version — or, for time
    travel within the retention window, an explicit ``version`` from
    :func:`list_versions`. ``with_meta=False`` (default) hides
    tombstones and the seq/op bookkeeping — the live table a consumer
    queries. Pass the same ``seq_col``/``op_col`` the store was built
    with."""
    if version is None:
        ptr = os.path.join(root, LATEST)
        with open(ptr) as fh:
            version = fh.read().strip()
    df = spark.read.parquet(os.path.join(root, version))
    if with_meta:
        return df
    return df.filter(F.col(op_col) != "D").drop(op_col, seq_col)


def _commit(df: DataFrame, root: str, version: str, keep_versions: int = 2) -> None:
    """Write a new version directory, atomically flip the LATEST
    pointer, then prune versions beyond the ``keep_versions`` newest.
    Retaining the previous version (default) gives in-flight readers
    that already resolved the old pointer a grace window — deleting it
    at flip time would fail their lazy scans mid-job. Real lakehouse
    protocols make this a time-based retention; version-count
    retention is the minimal equivalent at this store's scale."""
    path = os.path.join(root, version)
    df.write.mode("overwrite").parquet(path)
    tmp = os.path.join(root, f".{LATEST}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(root, LATEST))  # atomic pointer flip
    versions = list_versions(root)
    survivors = {version, *versions[:keep_versions]}
    for d in versions:
        if d not in survivors:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def init_snapshot(
    target: DataFrame,
    root: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Seed the snapshot store from an initial batch table (rows get
    ``seq = -1``, ``op = 'I'`` — any real change outranks them)."""
    os.makedirs(root, exist_ok=True)
    seeded = target.withColumn(seq_col, F.lit(-1).cast("long")).withColumn(
        op_col, F.lit("I")
    )
    _commit(seeded, root, "v_init")


def streaming_apply_cdc(
    changes: DataFrame,
    root: str,
    keys: str | list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    checkpoint: str | None = None,
):
    """Fold a STREAM of CDC rows (payload + ``seq`` + ``op``) into the
    snapshot store at ``root`` (created by :func:`init_snapshot`).
    Returns the started StreamingQuery; drain with
    ``trigger(availableNow=True)`` semantics via ``awaitTermination``.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        current = read_snapshot(
            spark, root, op_col=op_col, seq_col=seq_col, with_meta=True
        )
        merged = compact_cdc_log(
            current.unionByName(batch.select(*current.columns)),
            keys,
            seq_col,
            op_col,
        )
        # the new version is derived FROM the old one; materialize
        # before the directory swap so the write never reads its own
        # output path
        _commit(barrier(merged), root, f"v{batch_id}")

    w = changes.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
