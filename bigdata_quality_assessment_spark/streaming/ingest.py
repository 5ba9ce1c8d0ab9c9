"""Incremental ingest curation: a STREAM of new documents folded into
a growing curated corpus, deduplicating each micro-batch against
everything already accepted — the production shape of dedup (a 100 TB
corpus is not re-deduplicated from scratch per delivery; each delta is
checked against the accumulated state).

Per micro-batch (``foreachBatch`` — the sink needs multi-pass batch
semantics):

1. normalize (optional) + WITHIN-batch exact dedup (first occurrence
   by id wins);
2. exact check against the accumulated DIGEST store: an anti-join on
   ``md5(text)`` — the store holds 16-byte digests, never text;
3. near-dup check against the accumulated SIGNATURE store: the batch's
   MinHash band buckets equi-join the stored band buckets (never
   all-pairs), exact-Jaccard verification happens implicitly at the
   band level (banding completeness per near_dedup_minhash), and any
   batch doc sharing a band bucket with an ACCEPTED doc is dropped,
   as is any later within-batch doc bucket-colliding with an earlier
   one;
4. survivors append to the corpus store; their digests and band
   buckets append to the state stores.

First-arrival-wins semantics: unlike batch ``near_dedup_minhash``
(min-id per cluster over a complete corpus), streaming keeps whichever
duplicate ARRIVED first — the only causal choice online.

Scale shape: state stores carry (digest) and (band, bucket, doc_id)
rows — tens of bytes per accepted doc; each batch pays one scan of
itself plus equi-joins against the stores (at 10^11 accepted docs the
stores are themselves big tables, so the joins shuffle batch-side
keys against bucketed store layouts — land the stores bucketed by
digest/bucket via tables.write_bucketed to make those joins
exchange-free). Appends are per-batch new files; compact with
``sources.io.compact_lake`` on a maintenance schedule.

NOTE on band-level drops: dropping on bucket collision alone (no
exact-Jaccard re-verify against stored signatures) is the
high-precision regime ONLY when bands are sized for the target
threshold (collision probability j^r per band); the default
128-lane / 16-band layout keeps false-collision probability ~1e-4
per band pair at j=0.3. Callers needing exact verification keep the
candidate's text reachable via the corpus store and re-verify
downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.text import (
    minhash_band_keys,
    minhash_signatures,
    normalize_text,
)
from bigdata_quality_assessment_spark.session import barrier, local_frame
from bigdata_quality_assessment_spark.sources.io import swap_dir
from bigdata_quality_assessment_spark.streaming.sink import (
    compact_stores,
    event_time_gate,
    first_arrival_drops,
    replay_safe_sink,
)


def init_ingest_store(
    spark: SparkSession, root: str, corpus_schema: str | None = None
) -> None:
    """Create empty digest / bucket stores, plus an empty corpus store
    when ``corpus_schema`` (a DDL string matching the incoming stream,
    e.g. ``"doc_id long, text string"``) is given — so ``read_corpus``
    works before the first surviving batch lands.

    Id-type contract: the STATE stores pin ``doc_id long`` (the batch
    dedup operators order by an (id, position) struct and accept any
    orderable id, but a persistent store needs one concrete schema) —
    map string ids to longs before streaming ingest. Rows with a NULL
    id are dropped on arrival, like rows with NULL or empty text:
    first-id-wins cannot place them."""
    os.makedirs(root, exist_ok=True)
    local_frame(spark, [], "digest string").write.mode("overwrite").parquet(
        os.path.join(root, "digests")
    )
    local_frame(
        spark, [], "band int, bucket long, doc_id long"
    ).write.mode("overwrite").parquet(os.path.join(root, "buckets"))
    local_frame(spark, [], "__key long, doc_id long").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "spans"))
    if corpus_schema is not None:
        local_frame(spark, [], corpus_schema).write.mode("overwrite").parquet(
            os.path.join(root, "corpus")
        )


def read_corpus(spark: SparkSession, root: str) -> DataFrame:
    path = os.path.join(root, "corpus")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"{path} does not exist yet — either no surviving batch has "
            "landed, or init_ingest_store was called without corpus_schema"
        )
    return spark.read.parquet(path)


def streaming_ingest_curated(
    docs_stream: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 16,
    normalize: bool = True,
    checkpoint: str | None = None,
    span_dedup: bool = False,
    span_tokens: int = 5,
    event_time_col: str | None = None,
    late_delay_s: float = 600.0,
    bm25_index_path: str | None = None,
    bm25_n_buckets: int = 64,
):
    """Start the incremental-curation sink over ``docs_stream``.
    Returns the StreamingQuery (drain with availableNow).

    ``bm25_index_path`` (round 15 — the composition of the round-13
    incremental-curation and round-14 incremental-BM25 tiers): keep a
    searchable :func:`...operators.text.append_bm25_index` index in
    lockstep with the curated corpus. Each batch's SURVIVORS — the
    stored (normalized / span-rewritten) text, exactly what
    ``read_corpus`` returns — append O(batch) postings/df rows after
    the corpus append, inside the same replay-marker window, and the
    batch commits atomically through the index's own stats.json
    protocol (a crash mid-append is invisible to
    ``open_bm25_index``). Search parity with a from-scratch build
    over ``read_corpus`` is pytest-pinned; :func:`forget` with the
    same path propagates deletions. ``bm25_n_buckets`` applies on
    index creation only. Run :func:`...operators.text.
    compact_bm25_index` on the same maintenance schedule as
    :func:`compact_ingest_state`, gated by ``bm25_needs_compaction``.

    Event-time tier (round 11 — contract parity with
    :func:`.embedding_ingest.streaming_embedding_ingest`): pass
    ``event_time_col`` (timestamp or numeric epoch) to enforce a
    LATENESS BOUND. The store tracks the maximum event time ever
    observed (``watermark.json`` under ``root`` — monotone, atomic
    rename, idempotent under batch replay); an arrival whose event
    time is older than ``max_observed − late_delay_s`` at the START of
    its batch is dropped before every other gate — Spark's
    ``withWatermark`` placement rule, where a trigger's watermark
    comes from PRIOR triggers, so an in-batch mix of old and new rows
    is judged against the previous batch's horizon. NULL event times
    drop (they cannot be placed in event time). All observed rows —
    including late-dropped ones — advance the watermark. Batch parity:
    the accepted corpus equals pre-filtering the late rows and running
    the same fold without event time (pytest-pinned).

    Replay idempotence: commit markers under
    ``<checkpoint>/_ingest_commits`` make a redelivered batch a no-op
    (:func:`.sink.replay_safe_sink`; store-rooted markers would
    silently swallow the first batches of any re-checkpointed run).
    A crash inside the append window can still duplicate — full
    exactly-once needs a transactional table format; the marker closes
    the common restart case.

    ``span_dedup`` adds the sub-document tier: each accepted batch's
    documents are rewritten with any 5-word span already present in
    the ACCEPTED corpus (or earlier in the batch) excised — the
    streaming counterpart of batch :func:`...operators.text.dedup_spans`
    with first-ARRIVAL-wins instead of min-ord-wins. State is the
    ``spans`` store of (xxhash64 key, doc_id) rows — 16 B per kept
    span, never text; docs reduced to pure boilerplate are dropped.
    The stored corpus text is the REWRITTEN text, and ALL persisted
    state describes it: after excision, survivors are re-screened
    exactly (within-batch first-id-wins + digest-store anti-join — a
    doc whose rewrite collapses onto already-stored text is dropped,
    not appended) and the persisted band buckets are recomputed from
    the rewritten text, matching what a ``forget()`` rebuild would
    derive from the stored corpus. The pre-rewrite minhash screen is
    the arrival filter only; it is not persisted."""
    if span_dedup:
        # self-describing span state: forget() must rebuild with the
        # SAME window width or every stored key silently stops matching
        import json

        with open(os.path.join(root, "spans_meta.json"), "w") as fh:
            json.dump({"span_tokens": int(span_tokens)}, fh)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        batch, advance_watermark = event_time_gate(
            batch, root, event_time_col, late_delay_s
        )
        # null/empty text cannot be deduplicated (md5(NULL) is NULL and
        # a NULL key never matches the digest anti-join, so such rows
        # would re-append every batch), and a NULL id never matches the
        # first-id semi-join below, so its doc would vanish unseen —
        # route both out up front
        cur = batch.filter(
            F.col(id_col).isNotNull()
            & F.col(text_col).isNotNull()
            & (F.length(text_col) > 0)
        )
        if normalize:
            cur = cur.withColumn(text_col, normalize_text(text_col))
        digests = spark.read.parquet(os.path.join(root, "digests"))
        w_digest = F.md5(F.col(text_col)).alias("digest")

        def exact_screen(df: DataFrame, slim: DataFrame) -> DataFrame:
            # the first (lowest-id) occurrence of each digest in
            # ``slim`` (df's (id, digest) rows) wins within the batch,
            # then the digest store wins over the batch
            firsts = slim.groupBy("digest").agg(F.min(id_col).alias(id_col))
            return (
                df.join(firsts, id_col, "left_semi")
                .withColumn("digest", F.md5(F.col(text_col)))
                .join(digests, "digest", "left_anti")
            )

        slim = barrier(cur.select(F.col(id_col), w_digest), lazy=True)
        cur = exact_screen(cur, slim)
        # near-dup check vs accepted band buckets + earlier-in-batch
        sigs = minhash_signatures(cur, text_col, k=k, id_col=id_col)
        bb = barrier(minhash_band_keys(sigs, bands, id_col), lazy=True)
        stored = spark.read.parquet(os.path.join(root, "buckets"))
        drops = first_arrival_drops(bb, stored, id_col, ["band", "bucket"])
        survivors = barrier(cur.join(F.broadcast(drops), id_col, "left_anti"))
        new_spans = None
        if span_dedup:
            from bigdata_quality_assessment_spark.operators.text import (
                span_frame,
                span_keys,
            )

            framed = span_frame(
                survivors, span_tokens, text_col=text_col, id_col=id_col
            )
            ex = span_keys(framed, id_col=id_col)
            stored_spans = spark.read.parquet(os.path.join(root, "spans"))
            hit_span_stored = ex.join(
                stored_spans.select("__key").distinct(), "__key"
            ).select(id_col, "__sid")
            w_first = ex.groupBy("__key").agg(F.min("__ord").alias("__keep"))
            hit_span_earlier = (
                ex.join(w_first, "__key")
                .filter(F.col("__ord") != F.col("__keep"))
                .select(id_col, "__sid")
            )
            # two consumers (rm_sets + the kept-span anti-join) — one
            # barrier so the store/self joins run once
            removed_spans = barrier(
                hit_span_stored.unionByName(hit_span_earlier), lazy=True
            )
            rm_sets = removed_spans.groupBy(id_col).agg(
                F.collect_set("__sid").alias("__rm")
            )
            rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
            kept = F.filter(
                F.col("__spans"), lambda s, i: ~F.array_contains(rm, i.cast("int"))
            )
            rewritten = (
                framed.join(rm_sets, [id_col], "left")
                .select(
                    F.col(id_col),
                    # NULL for token-less (e.g. whitespace-only) docs so
                    # they pass through with their original text — only
                    # all-boilerplate docs ('' rewrite) are dropped
                    F.when(
                        F.size("__spans") > 0, F.concat_ws(" ", kept)
                    ).alias("__newtext"),
                )
            )
            survivors = barrier(
                survivors.drop("digest")
                .join(rewritten, id_col)
                .filter(
                    F.col("__newtext").isNull() | (F.col("__newtext") != "")
                )
                .withColumn(
                    text_col, F.coalesce(F.col("__newtext"), F.col(text_col))
                )
                .drop("__newtext")
            )
            # post-rewrite exact re-screen: span excision can collapse
            # two batch docs onto the same text, or collapse a doc
            # onto text already stored — the pre-rewrite digest screen
            # cannot see either. Digests now describe the STORED
            # (rewritten) text.
            survivors = barrier(
                exact_screen(survivors, survivors.select(F.col(id_col), w_digest))
            )
            # state symmetry with forget()'s rebuild: the persisted
            # band buckets must describe the STORED (rewritten) text,
            # so recompute signatures post-rewrite — the pre-rewrite
            # ``bb`` screened arrivals but is stale as state.
            sigs2 = minhash_signatures(survivors, text_col, k=k, id_col=id_col)
            bb = barrier(minhash_band_keys(sigs2, bands, id_col), lazy=True)
            # state: the KEPT spans of docs that made it to the corpus
            # (excised spans are already present from their keeper)
            new_spans = (
                ex.join(removed_spans, [id_col, "__sid"], "left_anti")
                .join(survivors.select(id_col), id_col, "left_semi")
                .select("__key", id_col)
                .distinct()
            )
        # append survivors + their state rows
        survivors.drop("digest").write.mode("append").parquet(
            os.path.join(root, "corpus")
        )
        survivors.select("digest").write.mode("append").parquet(
            os.path.join(root, "digests")
        )
        bb.join(survivors.select(id_col), id_col, "left_semi").select(
            "band", "bucket", id_col
        ).write.mode("append").parquet(os.path.join(root, "buckets"))
        if new_spans is not None:
            new_spans.write.mode("append").parquet(os.path.join(root, "spans"))
        if bm25_index_path is not None and survivors.take(1):
            from bigdata_quality_assessment_spark.operators.text import (
                append_bm25_index,
            )

            # survivors is eager-checkpointed above, so the index
            # delta's term_frequencies pass reads the barrier, not the
            # whole dedup lineage; first call creates the index
            append_bm25_index(
                survivors.select(id_col, text_col),
                bm25_index_path,
                text_col=text_col,
                id_col=id_col,
                n_buckets=bm25_n_buckets
                if not os.path.exists(
                    os.path.join(bm25_index_path, "stats.json")
                )
                else None,
            )
        advance_watermark()

    return replay_safe_sink(docs_stream, fold, checkpoint, "_ingest_commits")


def forget(
    spark: SparkSession,
    root: str,
    doc_ids,
    id_col: str = "doc_id",
    text_col: str = "text",
    bm25_index_path: str | None = None,
) -> int:
    """Deletion propagation (right-to-be-forgotten): remove the given
    ids from the corpus AND from every derived state store, so the
    documents are neither readable nor able to suppress future
    arrivals as phantom duplicates. Returns the number of corpus rows
    removed.

    Each store is rewritten LAZILY into a temp dir and swapped in by
    :func:`...sources.io.swap_dir` (crash recovery on entry):
    the survivor frame is never materialized driver/executor-side —
    the tmp write streams from the old files, and the digest store is
    recomputed by reading the NEW corpus path after its swap, so no
    lineage ever spans a deleted directory. Digests are recomputed
    from the surviving corpus rather than diffed — the digest store
    then provably contains exactly the surviving documents' digests.

    ``bm25_index_path`` (round 15): when the ingest maintains a
    lockstep BM25 index (``streaming_ingest_curated(bm25_index_path=
    ...)``), the forgotten documents are also deleted from it via
    :func:`...operators.text.delete_bm25_docs` — tombstones + negative
    df deltas, O(forgotten). The index leg runs FIRST, from the
    pre-swap corpus (the forgotten rows' stored text is still
    readable), and is idempotent because delete_bm25_docs skips
    already-tombstoned ids — so a re-run of forget() after a crash in
    any window neither loses the index deletion nor decrements df
    twice. Like the other state stores, the index then describes
    exactly the surviving corpus (tombstone-filtered at search).

    Ordering + resumability: the corpus swaps FIRST (the privacy
    deletion lands even if the process dies mid-way); a crash before
    the state-store swaps leaves stale digests/buckets that would
    suppress re-arrivals — RE-RUNNING forget() with any (even empty)
    id list completes the cleanup, because state is always rebuilt
    from the surviving corpus, not diffed. forget() is idempotent."""
    ids = list(doc_ids)
    id_df = local_frame(spark, [(i,) for i in ids], f"{id_col} long")
    corpus_path = os.path.join(root, "corpus")
    with swap_dir(corpus_path, ".__forget__") as tmp:
        corpus = spark.read.parquet(corpus_path)
        n_before = corpus.count()
        if bm25_index_path is not None:
            # BM25 leg FIRST, while the forgotten rows' stored text is
            # still readable. Crash-ordering: delete_bm25_docs skips
            # already-tombstoned ids, so a re-run after a crash in
            # either window is exact — before this call nothing
            # happened anywhere; after it the re-derived batch is fully
            # tombstoned (no-op) and the corpus swap proceeds. Deriving
            # the batch from the corpus AFTER the swap instead would
            # silently lose the index deletion whenever the crash
            # landed between the two.
            bm25_delete = corpus.join(
                F.broadcast(id_df), id_col, "left_semi"
            ).select(id_col, text_col)
            if bm25_delete.take(1):
                from bigdata_quality_assessment_spark.operators.text import (
                    delete_bm25_docs,
                )

                delete_bm25_docs(
                    bm25_delete, bm25_index_path, text_col=text_col, id_col=id_col
                )
        corpus.join(F.broadcast(id_df), id_col, "left_anti").write.parquet(tmp)
    survivors = spark.read.parquet(corpus_path)  # the NEW files
    n_after = survivors.count()
    with swap_dir(os.path.join(root, "digests"), ".__forget__") as tmp:
        survivors.select(F.md5(F.col(text_col)).alias("digest")).write.parquet(tmp)
    buckets_path = os.path.join(root, "buckets")
    with swap_dir(buckets_path, ".__forget__") as tmp:
        spark.read.parquet(buckets_path).join(
            F.broadcast(survivors.select(id_col)), id_col, "left_semi"
        ).write.parquet(tmp)
    spans_path = os.path.join(root, "spans")
    meta_path = os.path.join(root, "spans_meta.json")
    # rebuild ONLY when the span tier was ever enabled (meta file) —
    # otherwise the store is an empty stub and re-tokenizing the whole
    # surviving corpus here is pure wasted work
    if os.path.exists(meta_path):
        import json

        with open(meta_path) as fh:
            span_tokens = int(json.load(fh)["span_tokens"])
        # like digests: rebuild from the surviving corpus (whose text
        # is already the kept-spans rewrite), never diff the old store
        from bigdata_quality_assessment_spark.operators.text import (
            span_frame,
            span_keys,
        )

        rebuilt = (
            span_keys(
                span_frame(
                    survivors, span_tokens, text_col=text_col, id_col=id_col
                ),
                id_col=id_col,
            )
            .select("__key", id_col)
            .distinct()
        )
        with swap_dir(spans_path, ".__forget__") as tmp:
            rebuilt.write.parquet(tmp)
    return n_before - n_after


def streaming_expectations_ledger(
    stream: DataFrame,
    rules,
    ledger_path: str,
    checkpoint: str | None = None,
):
    """Continuous data-quality monitoring: evaluate the declarative
    expectation rules (operators/expectations.py) on EVERY micro-batch
    and append one ledger row per rule per batch —
    ``(batch_id, rule, kind, n_rows, n_violations, pass_rate)``. The
    ledger is itself a queryable parquet table: alerting is a filter
    (``pass_rate < threshold``), trend analysis a groupBy over
    batch_id. Violation counts, never rows, are persisted — pair with
    ``enforce_expectations`` inside an ingest sink when the violating
    rows themselves must be quarantined."""
    from bigdata_quality_assessment_spark.operators.expectations import (
        check_expectations,
    )

    def audit(batch: DataFrame, batch_id: int) -> None:
        # replay markers stop a redelivered batch from appending
        # duplicate ledger rows. No take(1) pre-scan — an empty batch
        # legitimately ledgers n_rows=0 rows, as promised.
        report = check_expectations(batch, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        report.select(
            "batch_id", "rule", "kind", "n_rows", "n_violations", "pass_rate"
        ).write.mode("append").parquet(ledger_path)

    return replay_safe_sink(stream, audit, checkpoint, "_ledger_commits")


def compact_ingest_state(
    spark: SparkSession,
    root: str,
    target_records_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-file maintenance for the ingest stores: every accepted
    micro-batch APPENDS one file to each of corpus / digests /
    buckets / spans, so after N batches every per-batch state read
    (the digest anti-join, the bucket join, the span-store join) pays
    N file opens + footer reads — the classic streaming-sink
    small-file decay, and the one per-batch cost in this design that
    grows with HISTORY LENGTH rather than state size. One
    :func:`...sources.io.compact_lake` pass per store resets it (same
    crash-safety contract: failed compactions leave the original
    layout untouched). Run between drains — ingest must be quiesced.
    Returns {store: new_file_count} for the stores present."""
    return compact_stores(
        spark, root, ("corpus", "digests", "buckets", "spans"), target_records_per_file
    )
