#!/usr/bin/env python
"""Dedup/LM-family scaling on REALISTIC text (round-10 verdict ask #2).

The driver's documents table has a 30-word vocabulary, so its dedup
scaling numbers are measured under pervasive chance shingle collisions
(BASELINE.md round-6: span removals grew 30.7x at sf10 from collisions
alone). This tool re-records the family on corpora from
sources/textgen.py — Zipfian 50k-token vocabulary, planted 6% exact /
4% near duplicates, 1% eval-span contamination — at 5k/50k/500k docs
(the driver's sf0.1/sf1/sf10 doc counts), logging:

* per-op wall time at each scale (median-of-N, bench.py hygiene);
* the corpus collision statistics (distinct 5-grams, fraction of
  5-gram TYPES shared by >1 ORIGINAL doc — the chance-collision rate
  the 30-word corpus saturates);
* planted-structure recall/precision for the dedup tier (ground truth
  rides the generator's role column) — correctness at scale, not just
  runtime.

Usage: python tools/bench_rtext_scaling.py [n_docs ...]
Default scales: 5000 50000 500000. Corpora cache under
.localdata/rtext/<n>/documents.parquet (rebuilt when the generator
params change; see bench.cached_dir).
Prints one JSON line per scale plus a final summary line.

``SPARK_GRAFT_RTEXT_OPS`` (round 12, the 5M-doc fifth decade): a
comma-separated allowlist of timed ops — at 5M docs the full
seven-op suite is hours of wall clock, while the scaling question on
the table is the dedup tier; set e.g.
``SPARK_GRAFT_RTEXT_OPS=exact_dedup,near_dedup_minhash``. The
collision-statistics pass (distinct-5-gram census over a ~450M-gram
corpus) is skippable the same way via the pseudo-op ``gram_stats``;
planted recall/survival always run (they are the point).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import N_RUNS, cached_corpus, calibrate, sample, session, summarize  # noqa: E402


def main() -> None:
    scales = [int(a) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]
    ops_env = os.environ.get("SPARK_GRAFT_RTEXT_OPS", "")
    ops_filter = {o.strip() for o in ops_env.split(",") if o.strip()} or None

    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.classifier import (
        classify_quality,
        distill_quality_classifier,
    )
    from bigdata_quality_assessment_spark.operators.text import (
        decontaminate,
        dedup_spans,
        dedup_substrings,
        exact_dedup,
        near_dedup_minhash,
        ngram_lm_score,
    )
    from bigdata_quality_assessment_spark.sources.textgen import (
        eval_spans,
        realistic_documents,
    )

    spark = session("bench_rtext_scaling")
    # the 500k samples spread up to 2× run-to-run on a shared host, so
    # every scale row carries its own calibration (steal) context
    calibrate(spark)  # discard codegen warmup

    ev = eval_spans(spark, seed=7).cache()
    ev.count()
    results = {}
    for n in scales:
        docs = cached_corpus(spark, "rtext", str(n), realistic_documents,
                             {"n_docs": n, "seed": 7}, file="documents.parquet")

        # corpus collision statistics (original docs only — planted
        # dups share ALL their grams by construction)
        want_grams = ops_filter is None or "gram_stats" in ops_filter
        toks = F.split("text", " ")
        grams = (
            docs.filter(F.col("role") == "orig")
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size(toks) - 4, F.lit(1)),
                        ),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
                    )
                ).alias("g"),
            )
            .distinct()
        )
        def gram_census():
            return (
                grams.groupBy("g")
                .agg(F.count(F.lit(1)).alias("nd"))
                .agg(
                    F.count(F.lit(1)).alias("distinct_5grams"),
                    F.avg((F.col("nd") > 1).cast("double")).alias(
                        "shared_5gram_frac"
                    ),
                )
                .first()
            )
        stats = {"n_docs": n, "cal_start": calibrate(spark)}
        if want_grams:
            gs = gram_census()
            stats["distinct_5grams"] = int(gs["distinct_5grams"])
            stats["shared_5gram_frac"] = round(
                float(gs["shared_5gram_frac"]), 5
            )

        # planted-structure quality (run once, not timed) — computed
        # DISTRIBUTED: a driver-side id census collects n_docs rows
        # and broke spark.driver.maxResultSize at 5M docs, the exact
        # collect-loop anti-pattern the engine bans
        kept_ids = near_dedup_minhash(
            docs, k=3, n_hashes=64, bands=16, min_jaccard=0.6
        ).select("doc_id", F.lit(1).alias("__kept"))
        qual = (
            docs.select("doc_id", "role")
            .join(kept_ids, "doc_id", "left")
            .agg(
                F.avg(
                    F.when(
                        F.col("role").isin("dup", "near"),
                        F.col("__kept").isNull().cast("double"),
                    )
                ).alias("recall"),
                F.avg(
                    F.when(
                        F.col("role") == "orig",
                        F.col("__kept").isNotNull().cast("double"),
                    )
                ).alias("survival"),
            )
            .first()
        )
        stats["planted_recall"] = round(float(qual["recall"]), 4)
        stats["orig_survival"] = round(float(qual["survival"]), 4)

        def timed(name, fn):
            if ops_filter is None or name in ops_filter:
                stats[name] = summarize(sample(spark, fn, N_RUNS))["median"]

        timed("exact_dedup", lambda: exact_dedup(docs).count())
        timed("near_dedup_minhash",
              lambda: near_dedup_minhash(docs, k=3, n_hashes=64, bands=16,
                                         min_jaccard=0.6).count())
        timed("dedup_spans",
              lambda: dedup_spans(docs, 5).agg(
                  F.sum("n_spans_removed")).collect())
        timed("dedup_substrings",
              lambda: dedup_substrings(docs, 10).agg(
                  F.sum("n_tokens_removed")).collect())
        timed("decontaminate",
              lambda: decontaminate(docs, ev, k=5).filter(
                  "contaminated").count())
        timed("ngram_lm_score",
              lambda: ngram_lm_score(docs).agg(
                  F.sum("n_lm_tokens")).collect())

        def run_classifier():
            model = distill_quality_classifier(docs, dim=256, n_train=2000)
            classify_quality(docs, model).agg(F.sum("p_good")).collect()

        timed("quality_classifier", run_classifier)

        # span/decon REMOVAL counts — the 30-word corpus blew these up
        # via chance collisions; record the realistic-baseline level
        if ops_filter is None or "dedup_spans" in ops_filter:
            stats["spans_removed"] = int(
                dedup_spans(docs, 5).agg(F.sum("n_spans_removed")).first()[0]
            )
        if ops_filter is None or "decontaminate" in ops_filter:
            stats["decon_flagged"] = int(
                decontaminate(docs, ev, k=5).filter("contaminated").count()
            )
        stats["cal_end"] = calibrate(spark)
        results[n] = stats
        print(json.dumps(stats))

    print(json.dumps({"metric": "rtext_scaling", "scales": results}))
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
