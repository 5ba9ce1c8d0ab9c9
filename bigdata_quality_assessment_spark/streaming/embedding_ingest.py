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

from bigdata_quality_assessment_spark.session import barrier, local_frame
from bigdata_quality_assessment_spark.sources.io import swap_dir
from bigdata_quality_assessment_spark.streaming.sink import (
    compact_stores,
    earlier_arrival_pairs,
    event_time_gate,
    first_arrival_drops,
    replay_safe_sink,
)

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
    key_cols = ["__t", "__b"]

    def fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        batch, advance_watermark = event_time_gate(
            batch, root, event_time_col, late_delay_s
        )
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
        heal = barrier(
            valid.join(corpus_ids, id_col, "left_semi").join(
                bucket_ids, id_col, "left_anti"
            )
        )
        if heal.take(1):
            heal_keys = barrier(
                _band_keys(heal, meta, id_col, vec_col).select("__t", "__b", id_col)
            )
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
        cur = barrier(
            valid.join(
                bucket_ids.unionByName(corpus_ids).distinct(), id_col, "left_anti"
            ),
            lazy=True,
        )
        bb = barrier(_band_keys(cur, meta, id_col, vec_col), lazy=True)
        if verify_threshold is None:
            drops = first_arrival_drops(bb, stored, id_col, key_cols)
        else:
            corpus = spark.read.parquet(os.path.join(root, "corpus"))
            batch_vecs = cur.select(
                F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb")
            )
            # candidates = same-bucket pairs ONLY; vectors join back
            # just for those pairs, then exact cosine decides
            cand_s = (
                bb.join(
                    stored.select(*key_cols, F.col(id_col).alias("__ida")),
                    key_cols,
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
            cand_e = (
                earlier_arrival_pairs(bb, id_col, key_cols)
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

            drops = _hits(cand_s).unionByName(_hits(cand_e)).distinct()
        # NOTE on verify-tier causality: within-batch drops check
        # earlier ARRIVALS (lower id), matching the text tier — an
        # earlier row dropped as a near-dup of the store can still
        # shadow a later row only on the band-level path; the verify
        # path compares against the earlier row's actual vector, the
        # same answer a one-row-per-batch replay would give whenever
        # near-duplication is transitive at the threshold.
        survivors = barrier(cur.join(F.broadcast(drops), id_col, "left_anti"))
        survivors.select(id_col, vec_col).write.mode("append").parquet(
            os.path.join(root, "corpus")
        )
        bb.join(survivors.select(id_col), id_col, "left_semi").select(
            "__t", "__b", id_col
        ).write.mode("append").parquet(os.path.join(root, "buckets"))
        advance_watermark()

    return replay_safe_sink(emb_stream, fold, checkpoint, "_ingest_commits")


def forget_embeddings(spark: SparkSession, root: str, vec_ids) -> int:
    """Deletion propagation for the embedding store: remove the ids
    from the corpus and REBUILD the bucket store from the surviving
    corpus under the pinned meta family (state is always derivable
    from the corpus — never diffed), with the text tier's crash-safe
    swap discipline (corpus first; re-running completes a crashed
    cleanup). Returns corpus rows removed."""
    meta = _load_meta(root)
    corpus_path = os.path.join(root, "corpus")
    id_df = local_frame(spark, [(int(i),) for i in vec_ids], "vec_id long")
    with swap_dir(corpus_path, ".__forget__") as tmp:
        corpus = spark.read.parquet(corpus_path)
        n_before = corpus.count()
        corpus.join(F.broadcast(id_df), "vec_id", "left_anti").write.parquet(tmp)
    survivors = spark.read.parquet(corpus_path)
    n_after = survivors.count()
    with swap_dir(os.path.join(root, "buckets"), ".__forget__") as tmp:
        _band_keys(survivors, meta, "vec_id", "embedding").select(
            "__t", "__b", "vec_id"
        ).write.parquet(tmp)
    return n_before - n_after


def compact_embedding_state(
    spark: SparkSession, root: str, target_records_per_file: int = 1_000_000
) -> dict[str, int]:
    """Small-file maintenance (one appended file per store per batch
    decays every per-batch state read) — same contract as the text
    tier's :func:`.ingest.compact_ingest_state`."""
    return compact_stores(spark, root, ("corpus", "buckets"), target_records_per_file)
