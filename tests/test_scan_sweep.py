"""Executed-plan FileScan sweep over every batch registry query: a
registry widening that exceeds its entry's scan budget is a TEST
FAILURE. Each >1 budget below carries its written justification.
~2-3 min at sf0.001 on the shared session — the price of keeping the
perf gate structural.

Catches the multi-reference re-execution pathology (PLANS.md) in the
graded surface: runs each query at sf0.001, executes it, and counts
`FileScan parquet` nodes in the FINAL executed plan. Queries above
their expected scan count get flagged.

Known-legitimate >=1 scan counts (two genuinely different derivations
of the same table, where a barrier would materialize a data-sized
frame):

  p1_p13 (4)            one-row aggs + broadcast join-backs, 2 tables
  j2 / x_asof           union/anti-join of two different filters
  j3 / j4_j5            two projections feeding a join/union of top-ks
  t1_u1 (6)             four tagged parts over lineitem (argmax/topk/
                        dedup each 1; append unions two filters)
  x_knn_cosine corpus + query-subset (and pairs self-join) scans
  x_ann_knn / x_ann_ivf_knn  bucketed candidates + query scans
  x_blob_stats          stats + chunking (blobs must not materialize)

Round-4 catches fixed by this sweep: exact_dedup (3 -> 1, digest pass
re-hashed the corpus), x_quality_score (2 -> 1, self-join of two
projections), x_simhash_near_dedup (2 -> 1, second signature pass).

LIMITATION: the final executed plan cannot see scans that ran inside
lazy-localCheckpoint materialization jobs (they appear as Scan
ExistingRDD here), so this sweep bounds the CONSUMING action only;
re-scan regressions UPSTREAM of a barrier are covered by the per-
operator plan assertions in tests/ (test_density, test_scan_discipline)
rather than this sweep.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

EXPECTED_MAX = {
    "x_text_stats": 5,  # stats/repetition/pii/html/redact tagged parts, one scan each
    "x_quality_score": 4,  # quality + chunking parts; +2 round-7: part='cls' pinned-classifier scan and the per-source filter leg
    # fp part 1 scan; decon part 3: the eval-set filter (different
    # predicate), the gram explode (id+text), and the id-universe
    # join-back (id-only, column-pruned — cheaper than a barrier that
    # would store per-doc gram ARRAYS, i.e. re-materialize the text)
    # +2 round-5.2: spandedup and substr parts — each reassembly join
    # scans docs once (their key frames are barriered; those scans ran
    # at sizing)
    # +6 round-7: part='fz' fuzzy decontamination — corpus shingle/
    # band scans, bench-side band keys, and the exact-Jaccard verify
    # legs each re-project (id, text)
    "x_doc_fingerprints": 12,
    # lang part 1 scan; lm part 1: outer-explode pair scan covers the
    # whole id universe (token-less docs ride as NULL sentinels), LM
    # tables barriered; tfidf consumes its barrier — no scan
    "x_language_id": 4,  # lang+tfidf+lm shared scans, + dsir target-LM train + score (round 6)
    # lsh part 1 scan (bucket frame barriered); semdedup part 2: the
    # valid-vector clustering scan and the survivor anti-join re-scan
    # of the corpus (both id+embedding; a barrier would store the
    # embedding column verbatim — same bytes, extra write)
    "x_embedding_near_dedup": 3,
    # DELIBERATE split agg passes (profiling.py): fusing the n-column
    # countDistinct Expand with the exact-percentile buffers in one
    # agg measured ~7x slower (the expanded copies stream through the
    # sort buffers); round-15 splits the distinct pass further into
    # ONE single-column countDistinct agg PER COLUMN — no Expand at
    # all, each subtree scans only its own pruned column (columnar
    # total bytes unchanged; measured sf0.1: 3.63 -> 2.49 s median).
    # Budget: 1 non-distinct pass + 5 per-column distinct scans +
    # correlation pass (round 6) + dataset-card sections (round 7).
    "x_profile_table": 11,
    # + dataset-card part (round 7): per-SECTION aggs (counts/mix/
    # dedup-rate/PII) each scan their own pruned projection
    # validity part 1 scan (lineitem); expectations part 4: the fused
    # row-rule agg, the unique groupBy, and the ref anti-join each
    # scan a DIFFERENT 1-2 column projection of orders (column-pruned
    # — cheaper than one barrier storing all projected columns), plus
    # the broadcast customer dim
    "x_validity_rates": 8,  # + expect_by per-group ref leg: orders group agg, orders anti-join side, filtered customer dim (round 6)
    # lsh part 2 (corpus buckets + query buckets); +2 round-8
    # part='join' (knn_join): each SIDE of the two-corpus bucket
    # equi-join scans its own slice once; +3 round-10 re-attribution
    # for the round-9 part='label_*' (knn_label): its inner knn_join
    # scans both slices (unlabeled + labeled, same as 'join'), and the
    # vote joins the (id, label) projection back — column-pruned, 2
    # int columns; a barrier would have to store the labeled side's
    # EMBEDDING column verbatim to save it
    "x_ann_knn": 7,
    # ivf part 2 (corpus assign + query probes); +4 round-8
    # part='ivfpq': index scan, probe-query scan, and the exact
    # rescore's (full-vector + query) scans — the pinned ORACLE fold
    # path re-scans per part by design (the production arrow path
    # collects the query batch once and scans the corpus twice)
    "x_ann_ivf_knn": 6,
    "p1_p13_pointwise_fields": 4,
    "j2_pool_remove": 2,
    "j3_interp": 2,
    "j4_j5_index_aligned": 2,
    "t1_u1_selection_set_ops": 6,
    # knn (corpus+query) + pairs slice self-join, merged round 6;
    # +8 round-7: int8 part (quantize scan, validity-gated corpus,
    # rescore full+query) and pq part (encode, rescore full+query,
    # query-LUT) — unioned oracle parts scan independently
    "x_knn_cosine": 12,
    "x_semdedup_core": 2,
    "x_blob_stats": 2,
    "x_asof_join": 2,
    # survivor 1 + round-7 parts 'sample'/'strat' (hash_sample_k,
    # stratified_sample_exact) one scan each; closure edges are
    # synthetic and the pipeline part consumes stage checkpoints
    "x_exact_dedup": 3,
    # round-10 re-attribution for the round-9 contract oracle: the
    # CONSUMING action runs the three contract-inherent verification
    # passes — the percentile rank check, the Misra-Gries pass, and
    # the true-count groupBy (you cannot verify an error bound without
    # recomputing the truth). The production sketch pass (ap, ~15
    # rows) and the exact-agg pass (ex, 1 row) are barriered — each
    # was re-executing per broadcast reference (8 scans total before
    # the fix, queries.py q_xapprox) — so their 2 scans run once in
    # the sizing jobs this sweep cannot see (see LIMITATION above):
    # 5 genuine passes total, 3 visible here.
    "x_approx_profile": 3,
}
DEFAULT_MAX = 1
SKIP_PREFIXES = ("st_",)  # streaming drains; m4 is minutes-long
SKIP = {"m4_loop_metrics"}


def load_entry():
    spec = importlib.util.spec_from_file_location("entry", REPO / "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def sweep(spark, sf_dir: str) -> list[tuple[str, int, int]]:
    """Run every non-streaming registry query at ``sf_dir``, count
    FileScan nodes in the executed plan, return the over-budget
    entries as ``(name, filescans, limit)``."""
    m = load_entry()
    bad = []
    for name, fn in m.queries().items():
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        df = fn(spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("FileScan parquet")
        limit = EXPECTED_MAX.get(name, DEFAULT_MAX)
        if n > limit:
            bad.append((name, n, limit))
    return bad


def test_registry_scan_budgets_hold(spark):
    bad = sweep(spark, "/root/testdata/sf0.001")
    assert not bad, (
        "registry queries over their FileScan budget (fuse the rescans "
        f"or re-pin EXPECTED_MAX with justification): {bad}"
    )
