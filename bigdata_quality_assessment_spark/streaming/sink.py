"""Mechanics shared by the streaming curation sinks
(:mod:`.ingest` for text, :mod:`.embedding_ingest` for vectors, and
the expectations ledger): the replay-safe ``foreachBatch`` sink, the
event-time gate with its ``watermark.json``, the first-arrival LSH
screen, and small-file compaction of the stores."""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.sources.io import compact_lake


def replay_safe_sink(
    stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint: str | None,
    marker_subdir: str,
):
    """Start ``body`` as an ``availableNow`` ``foreachBatch`` sink and
    return the StreamingQuery.

    Replay idempotence: foreachBatch REDELIVERS the in-flight batch
    after a restart; a commit marker at
    ``<checkpoint>/<marker_subdir>/<batch_id>``, written after ``body``
    returns, makes the re-run a no-op. Batch ids are only meaningful
    RELATIVE TO A CHECKPOINT (a fresh checkpoint restarts at 0), so
    markers live under the checkpoint and reset with it. Without a
    checkpoint there are no replays and no markers."""
    marker_dir = os.path.join(checkpoint, marker_subdir) if checkpoint else None

    def run(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, str(batch_id)) if marker_dir else None
        if marker and os.path.exists(marker):
            return
        body(batch, batch_id)
        if marker:
            os.makedirs(marker_dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("done")

    w = stream.writeStream.foreachBatch(run).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def event_time_gate(
    batch: DataFrame, root: str, event_time_col: str | None, late_delay_s: float
) -> tuple[DataFrame, Callable[[], None]]:
    """Lateness bound of one micro-batch against the store's
    ``<root>/watermark.json`` (the maximum event time ever observed).
    Returns the gated batch and a callable that advances the
    watermark; call it once the batch's appends are done.

    The horizon comes from PRIOR batches (Spark's ``withWatermark``
    trigger rule): rows older than ``max_observed − late_delay_s`` and
    rows with a NULL event time drop. Every observed row, late ones
    included, advances the watermark. The advance is monotone and lands
    by atomic rename, so a replayed batch leaves it unchanged. Without
    ``event_time_col`` the batch passes through."""
    if event_time_col is None:
        return batch, lambda: None
    path = os.path.join(root, "watermark.json")
    ts_d = F.col(event_time_col).cast("double")
    new_max = batch.agg(F.max(ts_d)).first()[0]
    horizon = None
    if os.path.exists(path):
        with open(path) as fh:
            horizon = json.load(fh)["max_event_ts"]
        batch = batch.filter(ts_d >= horizon - late_delay_s)

    def advance() -> None:
        if new_max is None or (horizon is not None and horizon >= new_max):
            return
        with open(path + ".tmp", "w") as fh:
            json.dump({"max_event_ts": float(new_max)}, fh)
        os.rename(path + ".tmp", path)

    return batch.filter(ts_d.isNotNull()), advance


def earlier_arrival_pairs(
    keys: DataFrame, id_col: str, key_cols: list[str]
) -> DataFrame:
    """``(__idb, __ida)`` pairs of one batch's long-format LSH keys
    where ``__idb`` shares a key with the EARLIER arrival ``__ida``
    (lower id)."""
    a = keys.select(F.col(id_col).alias("__ida"), *key_cols)
    b = keys.select(F.col(id_col).alias("__idb"), *key_cols)
    return (
        a.join(b, key_cols)
        .filter(F.col("__ida") < F.col("__idb"))
        .select("__idb", "__ida")
    )


def first_arrival_drops(
    keys: DataFrame, stored: DataFrame, id_col: str, key_cols: list[str]
) -> DataFrame:
    """Ids of one batch to drop under first-arrival-wins: those whose
    LSH keys hit a stored key, plus those colliding with an earlier
    arrival of the same batch."""
    hit_stored = (
        keys.join(stored.select(*key_cols).distinct(), key_cols)
        .select(id_col)
        .distinct()
    )
    hit_earlier = (
        earlier_arrival_pairs(keys, id_col, key_cols)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return hit_stored.unionByName(hit_earlier).distinct()


def compact_stores(
    spark: SparkSession, root: str, names: tuple[str, ...], target_records_per_file: int
) -> dict[str, int]:
    """One :func:`...sources.io.compact_lake` pass per store under
    ``root`` that exists. Returns {store: new_file_count}."""
    out: dict[str, int] = {}
    for name in names:
        p = os.path.join(root, name)
        if os.path.exists(p):
            out[name] = compact_lake(
                spark, p, target_records_per_file=target_records_per_file
            )
    return out
