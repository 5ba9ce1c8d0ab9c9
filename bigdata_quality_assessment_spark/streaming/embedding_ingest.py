"""Incremental EMBEDDING ingest: a stream of new vectors folded into a
growing deduplicated embedding corpus — the vector twin of the text
tier in :mod:`.ingest`, and the production arrival shape of the batch
embedding near-dedup family (``embedding_near_dedup`` /
``semantic_dedup`` re-dedup a complete corpus; a 100 TB embedding
store checks each DELTA against the accumulated state instead).

Per micro-batch (``foreachBatch`` — multi-pass batch semantics):

1. validity gate: NULL / wrong-dim vectors are routed out (they can
   never candidate-match, and a NULL bucket key would silently pass
   every screen and re-append each batch);
2. id replay gate: a ``vec_id`` already accepted is dropped (duplicate
   delivery), keeping corpus ids unique — the gate anti-joins the ids
   of BOTH stores, and a redelivered batch first HEALS the crash
   window between the two appends of step 4 (ids corpus-present but
   bucket-absent get their band keys recomputed from the batch's own
   vectors and re-appended), so a crash at any point between the
   corpus append and the commit marker replays to the exact
   no-crash state;
3. near-dup screen against the accumulated BUCKET store: the batch's
   hyperplane-LSH band keys (seeded planes pinned in the store's meta
   file, so every batch — and any rebuild — buckets identically)
   equi-join the stored ``(table, bucket)`` keys; a collision drops
   the arrival, as does colliding with an EARLIER row of the same
   batch (first-arrival-wins — the only causal choice online);
4. survivors append to the corpus store; their band keys append to
   the bucket store.

``verify_threshold`` upgrades step 3 from band-level drops to exact
cosine verification: candidates are only the same-bucket pairs (never
all-pairs), their vectors join back from the corpus/batch, and an
arrival is dropped only when some candidate's cosine ≥ threshold.
Band-level (the default) is the cheap high-precision regime when
``n_planes`` is sized for the target similarity — random vectors
false-collide at ~n_tables/2^n_planes; verification buys exactness
for the price of reading the colliding stored vectors.

Scale shape: the state the per-batch join touches is ``(table,
bucket, vec_id)`` — 20 bytes per accepted vector per table — plus the
corpus's ID COLUMN (8 bytes/vector, for the replay gate), NEVER the
vectors themselves (the verify tier reads only same-bucket corpus
rows); appends are per-batch files — compact with
:func:`compact_embedding_state` on a maintenance schedule. Replay
idempotence via checkpoint-scoped commit markers, exactly the text
tier's contract (:func:`.ingest.streaming_ingest_curated`).

Batch-parity semantics: streaming drops GREEDILY (an arrival with
duplicate-evidence against any earlier row drops, whether or not that
earlier row itself survived), while batch
``embedding_near_dedup(cluster=True)`` drops by connected-components
closure. On clique-shaped duplicate clusters (every pair mutually
similar — the common near-dup shape) the two agree exactly
(pytest-pinned); on hub topologies (x~hub, hub~min, x≁min) a later
arrival can survive streaming where the batch closure would drop it —
the defensible online-causal choice, since at drop time the evidence
linking x to the kept representative does not exist in the store.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.session import local_frame

_META = "embedding_store_meta.json"


def _load_meta(root: str) -> dict:
    with open(os.path.join(root, _META)) as fh:
        return json.load(fh)


def init_embedding_store(
    spark: SparkSession,
    root: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> None:
    """Create the empty corpus/bucket stores and pin the LSH family
    (dim, planes, tables, seed) in a meta file — every future batch,
    and any :func:`forget_embeddings` rebuild, buckets with the SAME
    planes or the stored keys silently stop matching."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, _META), "w") as fh:
        json.dump(
            {
                "dim": int(dim),
                "n_planes": int(n_planes),
                "n_tables": int(n_tables),
                "seed": int(seed),
            },
            fh,
        )
    local_frame(
        spark, [], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(os.path.join(root, "corpus"))
    local_frame(
        spark, [], "__t int, __b long, vec_id long"
    ).write.mode("overwrite").parquet(os.path.join(root, "buckets"))


def read_embedding_corpus(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "corpus"))


def _band_keys(df: DataFrame, meta: dict, id_col: str, vec_col: str) -> DataFrame:
    """Long-format ``(id, __t, __b)`` hyperplane band keys under the
    store's pinned family (one row per table; NULL-bucket rows from
    invalid vectors are dropped — they must not candidate-match)."""
    from bigdata_quality_assessment_spark.operators.similarity import (
        hyperplane_buckets,
    )

    b = hyperplane_buckets(
        df.select(id_col, vec_col),
        meta["dim"],
        meta["n_planes"],
        meta["n_tables"],
        meta["seed"],
        id_col,
        vec_col,
    )
    cols = [F.col(f"bucket_{t}") for t in range(meta["n_tables"])]
    return (
        b.select(id_col, F.posexplode(F.array(*cols)).alias("__t", "__b"))
        .filter(F.col("__b").isNotNull())
    )


def _read_watermark(root: str) -> float | None:
    p = os.path.join(root, "watermark.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)["max_event_ts"]


def _advance_watermark(root: str, new_max: float | None) -> None:
    """Monotone max-event-time advance, atomic rename — idempotent
    under batch replay (max is commutative), never moves backward."""
    if new_max is None:
        return
    cur = _read_watermark(root)
    if cur is not None and cur >= new_max:
        return
    p = os.path.join(root, "watermark.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"max_event_ts": float(new_max)}, fh)
    os.rename(tmp, p)


def streaming_embedding_ingest(
    emb_stream: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_threshold: float | None = None,
    checkpoint: str | None = None,
    event_time_col: str | None = None,
    late_delay_s: float = 600.0,
):
    """Start the incremental embedding-dedup sink over ``emb_stream``
    (schema ``vec_id long, embedding array<float>``). Returns the
    StreamingQuery (drain with availableNow). See the module docstring
    for semantics; the store must exist (:func:`init_embedding_store`).

    Event-time tier (round 10 — the text tier's watermark contract for
    the vector store): pass ``event_time_col`` (timestamp or numeric
    epoch) to enforce a LATENESS BOUND. The store tracks the maximum
    event time ever observed (``watermark.json``, monotone, atomic
    rename, idempotent under batch replay); an arrival whose event
    time is older than ``max_observed − late_delay_s`` at the START of
    its batch is dropped before every other gate — exactly Spark's
    ``withWatermark`` placement rule, where the watermark used by a
    trigger is computed from PRIOR triggers, so an in-batch mix of old
    and new rows is judged against the previous batch's horizon. NULL
    event times drop at the validity gate (they cannot be placed in
    event time). All observed rows — including late-dropped ones —
    advance the watermark, matching the engine's semantics. Batch
    parity: the accepted set equals pre-filtering the late rows and
    running the same fold without event time (pytest-pinned)."""
    from bigdata_quality_assessment_spark.functions.arrays import (
        cosine_similarity,
    )

    meta = _load_meta(root)
    marker_dir = (
        os.path.join(checkpoint, "_ingest_commits") if checkpoint else None
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, str(batch_id)) if marker_dir else None
        if marker and os.path.exists(marker):
            return
        if not batch.take(1):
            return
        spark = batch.sparkSession
        new_max = None
        if event_time_col is not None:
            ts_d = F.col(event_time_col).cast("double")
            # watermark from PRIOR batches (Spark's trigger rule);
            # every observed row advances it, late ones included
            new_max = batch.agg(F.max(ts_d)).first()[0]
            horizon = _read_watermark(root)
            if horizon is not None:
                batch = batch.filter(ts_d >= horizon - late_delay_s)
            batch = batch.filter(ts_d.isNotNull())
        valid = batch.filter(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & (F.size(vec_col) == meta["dim"])
        )
        stored = spark.read.parquet(os.path.join(root, "buckets"))
        bucket_ids = stored.select(id_col).distinct()
        corpus_ids = spark.read.parquet(
            os.path.join(root, "corpus")
        ).select(id_col)
        # crash-window heal: a crash between the corpus append and the
        # bucket append leaves accepted ids corpus-present but
        # bucket-absent; the crashed batch is redelivered (no commit
        # marker), so its ids in that state get their band keys
        # recomputed FROM THE BATCH'S OWN VECTORS and re-appended —
        # completing the interrupted commit before anything else runs
        heal = (
            valid.join(corpus_ids, id_col, "left_semi")
            .join(bucket_ids, id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        if heal.take(1):
            heal_keys = _band_keys(heal, meta, id_col, vec_col).select(
                "__t", "__b", id_col
            ).localCheckpoint(eager=True)
            heal_keys.write.mode("append").parquet(
                os.path.join(root, "buckets")
            )
            # healed keys must screen the REST of this batch exactly as
            # if the crash had never happened
            stored = stored.unionByName(heal_keys)
        # duplicate-delivery gate reads BOTH stores' ids: the bucket
        # store alone would re-accept an id whose corpus append
        # committed but whose bucket append crashed, duplicating the
        # corpus row on replay (the heal above makes the two id sets
        # converge, but the union keeps the invariant even mid-heal)
        cur = valid.join(
            bucket_ids.unionByName(corpus_ids).distinct(),
            id_col,
            "left_anti",
        ).localCheckpoint(eager=False)
        bb = _band_keys(cur, meta, id_col, vec_col).localCheckpoint(
            eager=False
        )
        if verify_threshold is None:
            hit_stored = (
                bb.join(stored.select("__t", "__b").distinct(), ["__t", "__b"])
                .select(id_col)
                .distinct()
            )
            a = bb.select(F.col(id_col).alias("__ida"), "__t", "__b")
            b = bb.select(F.col(id_col).alias("__idb"), "__t", "__b")
            hit_earlier = (
                a.join(b, ["__t", "__b"])
                .filter(F.col("__ida") < F.col("__idb"))
                .select(F.col("__idb").alias(id_col))
                .distinct()
            )
        else:
            corpus = spark.read.parquet(os.path.join(root, "corpus"))
            batch_vecs = cur.select(
                F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb")
            )
            # candidates = same-bucket pairs ONLY; vectors join back
            # just for those pairs, then exact cosine decides
            cand_s = (
                bb.join(
                    stored.select(
                        "__t", "__b", F.col(id_col).alias("__ida")
                    ),
                    ["__t", "__b"],
                )
                .select(F.col(id_col).alias("__idb"), "__ida")
                .distinct()
                .join(
                    corpus.select(
                        F.col(id_col).alias("__ida"),
                        F.col(vec_col).alias("__va"),
                    ),
                    "__ida",
                )
            )
            a = bb.select(F.col(id_col).alias("__ida"), "__t", "__b")
            b = bb.select(F.col(id_col).alias("__idb"), "__t", "__b")
            cand_e = (
                a.join(b, ["__t", "__b"])
                .filter(F.col("__ida") < F.col("__idb"))
                .select("__idb", "__ida")
                .distinct()
                .join(
                    cur.select(
                        F.col(id_col).alias("__ida"),
                        F.col(vec_col).alias("__va"),
                    ),
                    "__ida",
                )
            )
            def _hits(cand):
                return (
                    cand.join(batch_vecs, "__idb")
                    .filter(
                        cosine_similarity(F.col("__va"), F.col("__vb"))
                        >= verify_threshold
                    )
                    .select(F.col("__idb").alias(id_col))
                    .distinct()
                )

            hit_stored = _hits(cand_s)
            hit_earlier = _hits(cand_e)
        # NOTE on verify-tier causality: within-batch drops check
        # earlier ARRIVALS (lower id), matching the text tier — an
        # earlier row dropped as a near-dup of the store can still
        # shadow a later row only on the band-level path; the verify
        # path compares against the earlier row's actual vector, the
        # same answer a one-row-per-batch replay would give whenever
        # near-duplication is transitive at the threshold.
        drops = hit_stored.unionByName(hit_earlier).distinct()
        survivors = cur.join(
            F.broadcast(drops), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        survivors.select(id_col, vec_col).write.mode("append").parquet(
            os.path.join(root, "corpus")
        )
        bb.join(survivors.select(id_col), id_col, "left_semi").select(
            "__t", "__b", id_col
        ).write.mode("append").parquet(os.path.join(root, "buckets"))
        _advance_watermark(root, new_max)
        if marker:
            os.makedirs(marker_dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("done")

    w = emb_stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def forget_embeddings(spark: SparkSession, root: str, vec_ids) -> int:
    """Deletion propagation for the embedding store: remove the ids
    from the corpus and REBUILD the bucket store from the surviving
    corpus under the pinned meta family (state is always derivable
    from the corpus — never diffed), with the text tier's crash-safe
    swap discipline (corpus first; re-running completes a crashed
    cleanup). Returns corpus rows removed."""
    import shutil

    def recover_and_clean(path: str) -> None:
        tmp, old = path + ".__forget__", path + ".__old__"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)

    def swap(df: DataFrame, path: str) -> None:
        tmp, old = path + ".__forget__", path + ".__old__"
        df.write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    meta = _load_meta(root)
    corpus_path = os.path.join(root, "corpus")
    buckets_path = os.path.join(root, "buckets")
    for pth in (corpus_path, buckets_path):
        recover_and_clean(pth)
    ids = [(int(i),) for i in vec_ids]
    id_df = local_frame(spark, ids, "vec_id long")
    corpus = spark.read.parquet(corpus_path)
    n_before = corpus.count()
    swap(corpus.join(F.broadcast(id_df), "vec_id", "left_anti"), corpus_path)
    survivors = spark.read.parquet(corpus_path)
    n_after = survivors.count()
    swap(
        _band_keys(survivors, meta, "vec_id", "embedding").select(
            "__t", "__b", "vec_id"
        ),
        buckets_path,
    )
    return n_before - n_after


def compact_embedding_state(
    spark: SparkSession, root: str, target_records_per_file: int = 1_000_000
) -> dict[str, int]:
    """Small-file maintenance (one appended file per store per batch
    decays every per-batch state read) — same contract as the text
    tier's :func:`.ingest.compact_ingest_state`."""
    from bigdata_quality_assessment_spark.sources.io import compact_lake

    out: dict[str, int] = {}
    for name in ("corpus", "buckets"):
        p = os.path.join(root, name)
        if os.path.exists(p):
            out[name] = compact_lake(
                spark, p, target_records_per_file=target_records_per_file
            )
    return out
