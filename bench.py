#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship composites at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>}

The query bodies live in ``bigdata_quality_assessment_spark.headline``;
each sample times the build plus the action, so the measured time
covers the full plan execution, not plan construction.

The printed line carries ONLY {metric, value, unit, queries, sf} — the
driver keeps just the tail of stdout, so the line must stay small. The
full record (query_stats, extras, extras_stats) is written to
``BENCH_DETAIL.json`` at the repo root on every run.

Steady-state protocol (round 6): every headline query runs THREE timed
passes and the reported per-query number is the MEDIAN; the JSON also
carries ``query_stats`` with {median, spread, n_runs} per query so a
single noisy pass is visible instead of silently becoming the record
(this container shows 5x run-to-run swings on identical plans under
noisy-neighbor steal — round 5's driver snapshot overstated the
steady-state by ~25% for exactly this reason). Pass 1 additionally
absorbs one-off JVM/codegen/Arrow-worker warmup; the median discards
it unless noise inverts the ordering. ``queries`` stays name→seconds
(now the median) so cross-round comparisons keep working. Extras track
scaling trends outside the headline and (round 7) use the same
median-of-n protocol, reported in ``extras_stats``; the structural
extras (20-iter loop sentinel, the 20-batch streaming-ingest-with-
compaction run) are single end-to-end measurements by design.

Steal-robust protocol (round 9): the shared-VM noise swung the
recorded headline 25.8→43.5 s across rounds on UNCHANGED plans, so a
single median can no longer adjudicate the 2× bar. Three additions:

- a fixed CALIBRATION job (pure CPU, no I/O, constant work per core:
  one whole-stage-codegen sum over ``spark.range``, one partition per
  core — nothing this repo optimizes can change it) timed at bench
  start / mid / end; its
  median over the pinned quiet-host reference ``CAL_REF`` is the
  run's ``steal`` factor.
- best-of-N per query alongside the median (``query_stats[q]["best"]``
  and the compact line's ``best`` = sum of per-query bests): the best
  pass is the one least polluted by steal.
- per-query steal-NORMALIZED ratios vs the r3 operative baseline
  (``ratio_vs_r3`` in BENCH_DETAIL.json): median/steal vs the pinned
  r3 FINAL v2 numbers (r7 quiet-host for the queries added later), so
  plan regressions separate from host noise without ad-hoc reruns.
  Those are 32-core wall times, so the ratios are ``null`` (with
  ``ratio_vs_r3_note`` saying why) on any other core count.

The protocol pieces — ``session``, ``calibrate``, ``sample``,
``summarize`` and the ``.localdata`` corpus cache — are module-level so
the scaling tools under ``tools/`` time the same way.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
LOCALDATA = REPO / ".localdata"

# Quiet-host reference for the calibration job (seconds): measured
# round 9 on an idle window, local[32] — 5 steady-state samples
# 0.97/1.01/1.02/1.05/1.09 s. The job is constant work PER CORE
# (24M-row codegen sin+cos sum per core, one partition per core, no
# I/O, no shuffle — 768M rows in 32 partitions at the reference's 32
# cores), so cal_median/CAL_REF is a direct estimate of how much slower
# THIS run's cores were than the reference window — the steal factor —
# whatever the core count.
CAL_REF = 1.0
CAL_ROWS_PER_CPU = 24_000_000
# the core count the R3_OPERATIVE wall times were measured on
R3_CPUS = 32

# Operative per-query baseline for steal-normalized ratios: the r3
# FINAL v2 medians (BASELINE.md "Round-3 FINAL v2" table); the three
# queries added in round 4 (asof/time_rollup/session) use their r7
# quiet-host medians (BENCH_r07, the best serialized record of those
# unchanged plans). active_loop_3iter is the r3 FINAL v2 12.3 s.
R3_OPERATIVE = {
    "flagship_us_lw": 3.9,
    "ensemble_scoring": 2.3,
    "kde_events": 0.9,
    "histogram": 0.7,
    "topk": 0.4,
    "profile": 2.9,
    "sliding_windows": 0.9,
    "near_dedup_minhash": 5.9,
    "knn_cosine": 1.0,
    "asof_join": 0.43,
    "time_rollup": 0.27,
    "session_windows": 0.44,
    "active_loop_3iter": 12.3,
}


def _sf_label(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def session(app_name: str):
    """The benchmark session: ``build_session`` with the progress bar
    off and the executor log chatter silenced."""
    from bigdata_quality_assessment_spark.session import build_session

    spark = build_session(
        app_name=app_name, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # Silence executor WARN chatter (notably `WindowExec: No Partition
    # Defined` — each such window in this repo is a documented BOUNDED
    # frame: sampler prefix-sum offsets over n_parts rows, grid-sized
    # interp/latin-hypercube sorts — never a pool-sized partition; see
    # PLANS.md). Keeps the one-line JSON contract clean.
    spark.sparkContext.setLogLevel("ERROR")
    # Silence the known-benign `Ignoring ... non-existent accumulator`
    # DAGScheduler ERROR tail: pass-1 localCheckpoint RDDs are GC'd by
    # the ContextCleaner while pass-2 runs, and straggler task-end
    # updates for the cleaned accumulators then log at ERROR. rc and
    # timings are unaffected (the update is dropped by design), but the
    # spam buries real failures in the bench tail — turn that one
    # logger off, leaving every other ERROR visible.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    return spark


def calibrate(spark) -> float:
    """Median-of-3 seconds of the fixed per-core pure-CPU job (see
    CAL_REF)."""
    cpus = spark.sparkContext.defaultParallelism
    xs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, CAL_ROWS_PER_CPU * cpus, 1, cpus).selectExpr(
            "sum(sin(id * 1.0e-6) + cos(id * 1.0e-6)) as s"
        ).collect()
        xs.append(time.perf_counter() - t0)
    return round(statistics.median(xs), 3)


def sample(spark, fn: Callable[[], object], n: int) -> list[float]:
    """Seconds of ``n`` timed passes of ``fn``.

    Before every pass: drop cached frames and force a JVM GC so the
    ContextCleaner releases the previous pass's localCheckpoint blocks.
    Without it a heavy query's barrier blocks linger in the block
    manager and the next pass pays their GC pressure (measured at sf1:
    knn_cosine 29 s directly after the 46 s near-dedup vs 2-4 s
    isolated; at sf10 the accumulated eager-barrier storage turned
    near_dedup medians into noise, spread 156 s on identical plans).
    The timed region is ``fn`` alone."""
    xs = []
    for _ in range(n):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return xs


def summarize(xs: list[float]) -> dict[str, float]:
    return {
        "median": round(statistics.median(xs), 3),
        "best": round(min(xs), 3),
        "spread": round(max(xs) - min(xs), 3),
        "n_runs": len(xs),
    }


def headline_samples(spark, fn: Callable[[], object], n_runs: int) -> list[float]:
    """``sample`` plus the two firm-up rules, applied at the default
    ``n_runs == 3`` only.

    Spread firm-up (round 7, widened round 12): a 3-run median whose
    spread exceeds ~50% of the median is noise-dominated — the r11
    flagship spread was 5.06 s because one polluted pass became the
    recorded spread — so keep sampling, up to 7, until the spread
    settles. Sub-second firm-up (round 11): a sub-second median is
    dominated by fixed scheduling overhead, where single steal spikes
    flipped the normalized ratio past 1.2 two rounds running, so those
    queries always get 7 samples."""
    xs = sample(spark, fn, n_runs)
    if n_runs == 3:
        while len(xs) < 7 and max(xs) - min(xs) > 0.5 * statistics.median(xs):
            xs += sample(spark, fn, 1)
        if statistics.median(xs) < 1.0:
            xs += sample(spark, fn, 7 - len(xs))
    return xs


def cached_dir(kind: str, tag: str, params: dict, build: Callable[[Path], None]) -> Path:
    """``.localdata/<kind>/<tag>``, rebuilt by ``build(path)`` unless its
    ``params.json`` sidecar equals ``params``.

    The directory name alone cannot tell two generator settings (or
    two source corpora) apart, so a changed seed or parameter would
    silently reuse stale data; the sidecar is written only after a
    build completes, so an interrupted build is redone too."""
    root = LOCALDATA / kind / tag
    sidecar = root / "params.json"
    if not sidecar.exists() or json.loads(sidecar.read_text()) != params:
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        build(root)
        root.mkdir(parents=True, exist_ok=True)
        sidecar.write_text(json.dumps(params))
        print(f"# built {root} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return root


def cached_corpus(spark, kind: str, tag: str, gen, params: dict,
                  file: str = "media.parquet"):
    """``gen(spark, **params)`` cached as ``.localdata/<kind>/<tag>/<file>``
    (see ``cached_dir``); returns the DataFrame read back."""
    path = cached_dir(
        kind, tag, params,
        lambda root: gen(spark, **params).write.mode("overwrite").parquet(str(root / file)),
    ) / file
    return spark.read.parquet(str(path))


def clock(fn: Callable[[], object]) -> tuple[object, float]:
    """``fn()`` and its wall seconds (rounded as recorded), timed once
    without the ``sample`` hygiene — for the single-shot extras."""
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def run_extras(spark, n_runs: int) -> tuple[dict, dict]:
    """The per-round scaling record outside the headline sum:
    ``(extras, extras_stats)``."""
    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.headline import active_loop
    from bigdata_quality_assessment_spark.operators.audio import near_dedup_audio
    from bigdata_quality_assessment_spark.operators.bpe import bpe_token_count, train_bpe
    from bigdata_quality_assessment_spark.operators.classifier import (
        classify_quality,
        distill_quality_classifier,
    )
    from bigdata_quality_assessment_spark.operators.phash import (
        frame_phash,
        near_dedup_images,
        near_dedup_videos,
    )
    from bigdata_quality_assessment_spark.operators.similarity import (
        ann_hyperplane_knn,
        ivf_knn,
        ivfpq_knn,
        knn_join,
        knn_label,
        knn_pq,
        knn_quantized,
        semantic_dedup,
    )
    from bigdata_quality_assessment_spark.operators.text import (
        append_bm25_index,
        bm25_retrieve,
        bm25_search,
        build_bm25_index,
        decontaminate,
        dedup_spans,
        dedup_substrings,
        delete_bm25_docs,
        near_dedup_minhash,
        ngram_lm_score,
        open_bm25_index,
    )
    from bigdata_quality_assessment_spark.pipeline import (
        CurationConfig,
        curate,
        curate_audio,
    )
    from bigdata_quality_assessment_spark.sources.audiogen import planted_audio
    from bigdata_quality_assessment_spark.sources.imagegen import planted_images
    from bigdata_quality_assessment_spark.sources.tables import load_table
    from bigdata_quality_assessment_spark.sources.textgen import realistic_documents
    from bigdata_quality_assessment_spark.sources.videogen import planted_videos
    from bigdata_quality_assessment_spark.streaming.ingest import (
        compact_ingest_state,
        init_ingest_store,
        streaming_ingest_curated,
    )

    # plan-depth regression sentinel (round-5): the 20-iteration loop
    # must stay flat per iteration (eager-checkpoint lineage cuts — a
    # growing plan shows up here as superlinear s/iter). Run once,
    # without the sampler's hygiene, outside the headline sum.
    t0 = time.perf_counter()
    active_loop(spark, SF_DIR, n_iter=20).run()
    loop20 = time.perf_counter() - t0
    extras: dict = {
        "active_loop_20iter": round(loop20, 3),
        "active_loop_20iter_s_per_iter": round(loop20 / 20, 3),
    }
    extras_stats: dict[str, dict[str, float]] = {}

    # Extras get the SAME per-pass hygiene and median-of-n as the
    # headline (round 7), without the firm-up: a single polluted run
    # (decontaminate 63.8 s in-bench after the 20-iter loop vs 16-18 s
    # isolated, sf1) cannot silently become the record.
    def timed_extra(name, fn):
        extras_stats[name] = summarize(sample(spark, fn, n_runs))
        extras[name] = extras_stats[name]["median"]

    docs = load_table(spark, "documents", SF_DIR)
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    timed_extra("decontaminate",
                lambda: decontaminate(docs, bench_docs, k=5).filter("contaminated").count())
    emb = load_table(spark, "embeddings", SF_DIR)
    timed_extra("semantic_dedup",
                lambda: semantic_dedup(emb, dim=64, eps=0.03, n_centroids=16, keep="min_id").count())

    def run_curate():
        _clean, report = curate(
            docs, benchmark=bench_docs,
            config=CurationConfig(near_dedup=False, decon_k=5, quality_frac=0.3),
        )
        report.collect()

    timed_extra("curate_pipeline", run_curate)

    def run_bpe():
        merges = train_bpe(docs, n_merges=200, sample_n=2000)
        bpe_token_count(docs, merges).agg(F.sum("n_bpe_tokens")).collect()

    timed_extra("bpe_train_encode", run_bpe)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    timed_extra("knn_quantized", lambda: knn_quantized(emb, q, k=5).collect())
    timed_extra("ngram_lm_score",
                lambda: ngram_lm_score(docs).agg(F.sum("n_lm_tokens")).collect())
    timed_extra("dedup_spans",
                lambda: dedup_spans(docs, 5).agg(F.sum("n_spans_removed")).collect())
    timed_extra("dedup_substrings",
                lambda: dedup_substrings(docs, 10).agg(F.sum("n_tokens_removed")).collect())

    def run_classifier():
        _model = distill_quality_classifier(docs, dim=256, n_train=2000)
        classify_quality(docs, _model).agg(F.sum("p_good")).collect()

    timed_extra("quality_classifier", run_classifier)
    timed_extra("knn_pq",
                lambda: knn_pq(emb, q, dim=64, k=5, m=8, rescore_factor=8).collect())

    # the ANN family's per-round scaling record (round 7): both bucketed
    # tiers, plus (round 8) the composed coarse-cells + residual-PQ tier
    timed_extra("ann_hyperplane_knn",
                lambda: ann_hyperplane_knn(
                    emb, q, dim=64, k=5, n_planes=12, n_tables=4, n_probes=4
                ).collect())
    timed_extra("knn_ivf",
                lambda: ivf_knn(emb, q, dim=64, k=5, n_centroids=16, n_probe=4).collect())
    timed_extra("knn_ivfpq",
                lambda: ivfpq_knn(
                    emb, q, dim=64, k=5, n_centroids=16, n_probe=4, m=8,
                    rescore_factor=8,
                ).collect())
    # the two-corpus-sided tiers in the PRODUCTION configuration (round
    # 11): planes scale with the corpus (p = log2(|right|·tables/64), as
    # tools/bench_ann_scaling.py records) and max_bucket engages the
    # skew guard — fixed 10 planes measured a quadratic candidate blowup
    # at sf10 (871 s) no deployment would run. The config is recorded.
    n_vec = emb.count()
    jp = max(10, math.ceil(math.log2(max(n_vec // 2, 2) * 6 / 64)))
    extras["knn_join_config"] = f"n_planes={jp},n_tables=6,max_bucket=4096"
    timed_extra("knn_join",
                lambda: knn_join(
                    emb.filter(F.col("vec_id") % 2 == 0),
                    emb.filter(F.col("vec_id") % 2 == 1),
                    dim=64, k=3, n_planes=jp, n_tables=6, max_bucket=4096,
                ).count())
    timed_extra("knn_label",
                lambda: knn_label(
                    emb.filter(F.col("vec_id") % 2 == 0),
                    emb.filter(F.col("vec_id") % 2 == 1).select(
                        "vec_id", "embedding", "label"
                    ),
                    dim=64, k=3, n_planes=jp, n_tables=6, max_bucket=4096,
                ).count())

    # round-11: the headline near-dedup runs on the 30-word-vocabulary
    # documents — the adversarial chance-collision regime. Time the SAME
    # operator on the realistic textgen corpus at the SF-matched doc
    # count (5k docs ≈ sf0.1's documents table), shared with
    # tools/bench_rtext_scaling.py, so the record carries both regimes.
    sf_val = _sf_label(SF_DIR)
    n_rtext = max(5_000, int(50_000 * sf_val)) if sf_val > 0 else 5_000
    rt_params = {"n_docs": n_rtext, "seed": 7}
    rtext_docs = cached_corpus(spark, "rtext", str(n_rtext), realistic_documents,
                               rt_params, file="documents.parquet")
    extras["near_dedup_rtext_n_docs"] = n_rtext
    timed_extra("near_dedup_rtext",
                lambda: near_dedup_minhash(
                    rtext_docs, k=3, n_hashes=128, bands=16, min_jaccard=0.8
                ).count())

    # round-12: BM25 scored retrieval on the SAME realistic corpus (query
    # set = corpus subset, one shared tf scan). The query count is held
    # ~30 as the corpus scales and high-df terms are pruned — without the
    # df guard every query matches nearly every doc and the score join
    # turns quadratic at sf10's 500k-doc corpus.
    q_mod = max(167, n_rtext // 30)
    extras["bm25_rtext_query_mod"] = q_mod
    timed_extra("bm25_rtext",
                lambda: bm25_retrieve(
                    rtext_docs, top_k=10,
                    query_filter=(F.col("doc_id") % q_mod) == 0,
                    max_df_frac=0.1,
                ).count())

    # round-13: the PREBUILT-index path on the same corpus + queries —
    # repeat-query cost vs bm25_rtext's per-call corpus recompute. The
    # index is cached per source corpus; the timed part is the warm
    # search: bucket-pruned scan + broadcast query terms + one agg.
    def build_idx(root: Path) -> None:
        def write():
            postings, bstats = build_bm25_index(rtext_docs, n_buckets=64)
            postings.write.mode("overwrite").partitionBy("__bucket").parquet(
                str(root / "postings")
            )
            return bstats

        bstats, extras["bm25_idx_build"] = clock(write)
        (root / "stats.json").write_text(json.dumps(bstats))

    idx_path = cached_dir("bm25idx", str(n_rtext), {"docs": rt_params, "n_buckets": 64},
                          build_idx)
    bidx = spark.read.parquet(str(idx_path / "postings"))
    bstats = json.loads((idx_path / "stats.json").read_text())
    bq = rtext_docs.filter((F.col("doc_id") % q_mod) == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    timed_extra("bm25_idx_search",
                lambda: bm25_search(bidx, bq, bstats, top_k=10, max_df_frac=0.1).count())

    # round-14: incremental index maintenance — append a 1k-doc batch to
    # the persisted incremental layout, then search through the delta-df
    # path. The base is built once per source corpus; each run works on
    # a scratch copy (appends mutate it).
    def build_inc(root: Path) -> None:
        _, extras["bm25_inc_build"] = clock(
            lambda: append_bm25_index(rtext_docs, str(root), n_buckets=64)
        )

    inc_base = cached_dir("bm25inc2", str(n_rtext), {"docs": rt_params, "n_buckets": 64},
                          build_inc)
    inc_run = inc_base.with_name(f"{inc_base.name}_run")
    shutil.rmtree(inc_run, ignore_errors=True)
    shutil.copytree(inc_base, inc_run)

    def search(handle):
        ip, idf, istats, itombs = handle
        return bm25_search(
            ip, bq, istats, top_k=10, max_df_frac=0.1, df_frame=idf, tombstones=itombs,
        ).count()

    batch = realistic_documents(spark, 1_000, seed=11).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    _, extras["bm25_inc_append_1k"] = clock(lambda: append_bm25_index(batch, str(inc_run)))
    handle = open_bm25_index(spark, str(inc_run))
    _, extras["bm25_inc_search"] = clock(lambda: search(handle))
    # round-16: the opened-handle amortized path — materialize folds and
    # stores the df deltas once per handle; the repeat search is the
    # steady-state per-query cost, read against bm25_idx_search
    handle, extras["bm25_inc_open_materialize"] = clock(
        lambda: open_bm25_index(spark, str(inc_run), materialize=True)
    )
    extras["bm25_inc_search_repeat"] = statistics.median(
        clock(lambda: search(handle))[1] for _ in range(3)
    )
    # deletion leg: remove a ~1k-doc slice, search with the tombstone
    # anti-join — both O(batch)/query-scoped, flat as the corpus scales
    del_docs = rtext_docs.filter(
        (F.col("doc_id") % max(2, n_rtext // 1_000)) == 1
    ).select("doc_id", "text")
    _, extras["bm25_inc_delete"] = clock(lambda: delete_bm25_docs(del_docs, str(inc_run)))
    handle = open_bm25_index(spark, str(inc_run))
    _, extras["bm25_inc_search_postdelete"] = clock(lambda: search(handle))
    shutil.rmtree(inc_run, ignore_errors=True)

    # round-12: perceptual image dedup on an SF-matched planted
    # block-mosaic corpus (decode → dHash → banded Hamming dedup)
    n_img = max(20_000, int(200_000 * sf_val)) if sf_val > 0 else 20_000
    img_media = cached_corpus(spark, "images", str(n_img), planted_images,
                              {"n_images": n_img, "seed": 7})
    extras["image_dedup_n_images"] = n_img
    # two-level banding is the >=1M-signature regime (identical
    # survivors, ~2^12x fewer band candidates — BASELINE round-13);
    # below that the 4x explode rows cost more than they save
    img_two = n_img >= 1_000_000
    extras["image_dedup_two_level"] = img_two
    timed_extra("image_dedup",
                lambda: near_dedup_images(img_media, max_hamming=3, two_level=img_two).count())

    # round-13: video-level perceptual dedup on the SF-matched
    # planted-animation corpus (3-frame GIFs: byte dups, palette-rebright
    # dups, one-frame recuts) — frame decode → per-frame dHash →
    # frame-aligned banded dedup
    n_vid = max(10_000, int(100_000 * sf_val)) if sf_val > 0 else 10_000
    vid_media = cached_corpus(spark, "videos", str(n_vid), planted_videos,
                              {"n_videos": n_vid, "seed": 7, "trim_rate": 0.0})
    extras["video_dedup_n_videos"] = n_vid
    # two_level="auto" engages the nested banding at >=1M videos
    extras["video_dedup_two_level"] = n_vid >= 1_000_000
    timed_extra("video_dedup", lambda: near_dedup_videos(vid_media, n_frames=3).count())
    # decode-vs-band split (round-14): the GIF frame-decode pass alone,
    # then band/verify/closure over the pre-materialized frame hashes —
    # single-run each, they sum to ~video_dedup and localize a regression
    spark.catalog.clearCache()

    def decode():
        fh = frame_phash(vid_media, 3).localCheckpoint(eager=False)
        fh.count()
        return fh

    vid_fh, extras["video_dedup_decode"] = clock(decode)
    _, extras["video_dedup_band"] = clock(
        lambda: near_dedup_videos(vid_media, n_frames=3, frame_hashes=vid_fh).count()
    )

    # round-13: audio perceptual dedup on the SF-matched planted-audio
    # corpus (square-wave energy envelopes: byte dups + gain-scaled dups)
    n_aud = max(20_000, int(200_000 * sf_val)) if sf_val > 0 else 20_000
    aud_media = cached_corpus(spark, "audio", str(n_aud), planted_audio,
                              {"n_clips": n_aud, "seed": 7, "trim_rate": 0.0,
                               "n_segments": 1})
    extras["audio_dedup_n_clips"] = n_aud
    aud_two = n_aud >= 1_000_000
    extras["audio_dedup_two_level"] = aud_two
    timed_extra("audio_dedup", lambda: near_dedup_audio(aud_media, two_level=aud_two).count())
    # round-15: the DEFAULT audio curation path (trim-robust segment
    # tier, seg_frames auto-derived) on the EXTENDED planted corpus
    # (n_segments=4 + planted trims — the segment tier's design regime).
    # On the 1-segment corpus above, auto seg_frames puts 8-frame energy
    # windows under the generator's 32-frame constant plateaus, and the
    # low-entropy fingerprints measured a band-bucket candidate blowup —
    # a degenerate-input artifact (OPTIMIZATION_r15.md).
    n_aud_ext = max(5_000, int(50_000 * sf_val)) if sf_val > 0 else 5_000
    aud_ext_params = {"seed": 7, "trim_rate": 0.05, "n_segments": 4}
    aud_ext = cached_corpus(spark, "audio_ext", str(n_aud_ext), planted_audio,
                            {"n_clips": n_aud_ext, **aud_ext_params})
    extras["audio_curate_corpus_params"] = json.dumps(aud_ext_params)
    extras["audio_curate_n_clips"] = n_aud_ext
    timed_extra("audio_curate_default",
                lambda: curate_audio(aud_ext, with_report=False)[0].count())

    # streaming-ingest state evidence (round 6: per-batch flatness;
    # round 7: compaction). 20 equal batches in two availableNow drains
    # with a compact_ingest_state pass between — per-batch fold time
    # must stay O(batch) across the whole run, the compaction must reset
    # the state FILE COUNT (the one cost that grows with history length,
    # not state size), and post-compaction per-batch time must not
    # exceed pre-compaction.
    def state_files(root: str) -> tuple[int, int]:
        n = b = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(dirpath, f))
        return n, b

    def drain(batch_ids, stage, store, ck, bm25=None):
        base = docs.select("doc_id", "text")
        for b in batch_ids:
            base.filter(F.col("doc_id") % 20 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(stage, f"b{b}"))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "*"))
        )
        qi = streaming_ingest_curated(stream, store, checkpoint=ck, bm25_index_path=bm25)
        qi.awaitTermination()
        prog = [p for p in qi.recentProgress if p.get("numInputRows", 0) > 0]
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]

    def mean3(xs):
        return round(sum(xs) / 3, 3)

    ing_root = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        store = os.path.join(ing_root, "store")
        stage = os.path.join(ing_root, "arrivals")
        ck = os.path.join(ing_root, "ck")
        init_ingest_store(spark, store)
        t0 = time.perf_counter()
        durs_a = drain(range(10), stage, store, ck)
        files_pre, bytes_pre = state_files(store)
        compact_ingest_state(spark, store)
        files_post, bytes_post = state_files(store)
        # same checkpoint: availableNow resumes and drains ONLY the 10
        # newly staged files against the compacted store
        durs_b = drain(range(10, 20), stage, store, ck)
        extras["ingest_20batch_total"] = round(time.perf_counter() - t0, 3)
        if len(durs_a) >= 3 and len(durs_b) >= 3:
            extras["ingest_batch_first3_mean"] = mean3(durs_a[:3])
            extras["ingest_batch_last3_mean"] = mean3(durs_b[-3:])
            extras["ingest_batch_precompact_mean"] = mean3(durs_a[-3:])
            # durs_b[0] carries the second drain's query-start overhead
            # (stream + checkpoint re-init), not per-batch fold cost —
            # skip it so the pre/post comparison is steady-state both sides
            extras["ingest_batch_postcompact_mean"] = mean3(durs_b[1:4])
        extras["ingest_state_files_precompact"] = files_pre
        extras["ingest_state_files_postcompact"] = files_post
        extras["ingest_state_mb_precompact"] = round(bytes_pre / 1e6, 3)
        extras["ingest_state_mb_postcompact"] = round(bytes_post / 1e6, 3)
        # round-15: the BM25-lockstep tier — a 10-batch drain that also
        # maintains the incremental BM25 index per batch; per-batch time
        # must stay flat (append is O(batch)), and the marginal cost vs
        # the plain drain is the price of a continuously searchable corpus
        store2 = os.path.join(ing_root, "store_bm25")
        init_ingest_store(spark, store2)
        t0 = time.perf_counter()
        durs_c = drain(range(10), stage, store2, os.path.join(ing_root, "ck_bm25"),
                       bm25=os.path.join(ing_root, "bm25idx"))
        extras["ingest_bm25_10batch_total"] = round(time.perf_counter() - t0, 3)
        if len(durs_c) >= 6:
            extras["ingest_bm25_batch_first3_mean"] = mean3(durs_c[:3])
            extras["ingest_bm25_batch_last3_mean"] = mean3(durs_c[-3:])
    finally:
        shutil.rmtree(ing_root, ignore_errors=True)
    return extras, extras_stats


def main() -> None:
    from bigdata_quality_assessment_spark.headline import HEADLINE

    spark = session("bench")
    queries = dict(HEADLINE)
    # isolated-probe mode (round-14): run ONLY the named headline
    # queries — same session, same calibration brackets, same
    # median-of-n + firm-up protocol. Implies headline-only.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {k.strip() for k in only.split(",") if k.strip()}
        unknown = keep - queries.keys()
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown: {sorted(unknown)}")
        queries = {k: v for k, v in queries.items() if k in keep}

    # one discarded pass absorbs the codegen warmup (~3 s first-ever run)
    calibrate(spark)
    cal_samples = [calibrate(spark)]

    # Arrow cold-vs-warm accounting (round-10): the FIRST Arrow stage
    # per python worker pays the pandas-import cold start (~2-2.5
    # s/worker). Measure it on a trivial mapInPandas probe — the delta
    # is what a reader subtracts from any first-Arrow-run sample — and
    # running it HERE keeps the cold start out of the first Arrow
    # headline query's samples.
    def arrow_probe() -> float:
        return clock(
            lambda: spark.range(0, 32, 1, 32).mapInPandas(lambda it: iter(it), "id long").count()
        )[1]

    arrow_cold = arrow_probe()
    arrow_warm = min(arrow_probe() for _ in range(3))

    stats: dict[str, dict[str, float]] = {}
    for name, build in queries.items():
        xs = headline_samples(spark, lambda: build(spark, SF_DIR).run(), N_RUNS)
        stats[name] = summarize(xs)
    timings = {q: s["median"] for q, s in stats.items()}
    bests = {q: s["best"] for q, s in stats.items()}

    # mid-run steal sample: headline queries just finished, extras next
    cal_samples.append(calibrate(spark))

    # headline-only mode (round 12): replicates at big SFs want a
    # second headline sample without paying the ~20-min extras suite
    headline_only = os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_ONLY") == "1" or bool(only)
    extras, extras_stats = ({}, {}) if headline_only else run_extras(spark, N_RUNS)

    # end-of-run steal sample, then the factor for this whole run
    cal_samples.append(calibrate(spark))
    cal_median = round(statistics.median(cal_samples), 3)
    steal = round(cal_median / CAL_REF, 3)
    # steal-normalized per-query ratios vs the operative baseline:
    # (median / steal) / r3 — >1 means slower than r3 AFTER removing
    # this run's measured CPU-steal factor, i.e. a real plan delta.
    # The r3 medians are 32-core wall times: on another core count the
    # ratio would mix the core count into the "plan delta", so it is
    # not computed there.
    cpus = spark.sparkContext.defaultParallelism
    ratios = ratios_note = None
    if cpus == R3_CPUS:
        ratios = {
            q: round((timings[q] / steal) / R3_OPERATIVE[q], 2)
            for q in timings
            if q in R3_OPERATIVE
        }
    else:
        ratios_note = f"r3 medians are {R3_CPUS}-core wall times; this run has {cpus} cores"

    spark.stop()
    # The driver records only the LAST ~2000 characters of stdout and
    # parses the headline JSON out of that window — round 7's line grew
    # past it (extras + extras_stats pushed it over) and the record
    # landed unparseable. Keep the final line COMPACT (headline +
    # per-query medians only; ~450 chars at 13 queries) and spill the
    # full stats/extras payload to BENCH_DETAIL.json beside this script
    # so nothing is lost — BASELINE.md points the reader there.
    detail = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "value_best": round(sum(bests.values()), 3),
        "unit": "sec",
        "calibration": {
            "samples": cal_samples,
            "median": cal_median,
            "ref": CAL_REF,
            "steal": steal,
            "cpus": cpus,
        },
        "queries": timings,
        "queries_best": bests,
        "query_stats": stats,
        "ratio_vs_r3_steal_normalized": ratios,
        "ratio_vs_r3_note": ratios_note,
        "arrow_cold_start": {
            "cold": arrow_cold,
            "warm": arrow_warm,
            "delta": round(arrow_cold - arrow_warm, 3),
        },
        "extras": extras,
        "extras_stats": extras_stats,
        "sf": _sf_label(SF_DIR),
    }
    with open(REPO / "BENCH_DETAIL.json", "w") as f:
        json.dump(detail, f, indent=1)
    compact = {
        "metric": "headline_total",
        "value": detail["value"],
        "best": detail["value_best"],
        "calibration": cal_median,
        "steal": steal,
        "unit": "sec",
        "queries": timings,
        "sf": detail["sf"],
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1600:  # belt-and-braces: never outgrow the tail again
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
