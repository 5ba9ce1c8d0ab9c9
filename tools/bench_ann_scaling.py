#!/usr/bin/env python
"""ANN-family scaling points (round-6 verdict ask #5): time the two
bucketed ANN tiers — multi-probe hyperplane LSH and IVF — at a given
SF dir, median-of-3 with the same inter-query hygiene as bench.py.

    python tools/bench_ann_scaling.py /root/testdata/sf0.1
    python tools/bench_ann_scaling.py .localdata/sf1
    python tools/bench_ann_scaling.py .localdata/sf10

Prints one JSON line {sf_dir, n_vectors, queries: {name: median_sec},
stats: {...}} for the BASELINE.md record. Query shapes match bench.py's
``ann_hyperplane_knn`` / ``knn_ivf`` extras exactly so the numbers are
comparable with the per-round bench record.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import N_RUNS, sample, session, summarize  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.similarity import (
        ann_hyperplane_knn,
        ivf_knn,
        ivfpq_knn,
        knn_brute_force,
    )
    from bigdata_quality_assessment_spark.sources.tables import load_table

    spark = session("bench_ann")

    emb = load_table(spark, "embeddings", sf_dir)
    n_vec = emb.count()
    # query-batch size matters more than corpus size for the ANN-vs-
    # brute comparison: brute pays q·n·d per batch, the ANN tiers pay
    # a FIXED corpus-indexing cost (t·p·d per vector for LSH, k·d for
    # IVF) that amortizes over the batch — crossover at q ≈ t·p ≈ 50.
    n_q = int(os.environ.get("SPARK_GRAFT_ANN_NQ", "5"))
    q = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # IVF index-build vs query-path split: production builds the coarse
    # quantizer once per corpus, so the amortized cost is the PINNED-
    # centroids query path; the unpinned leg keeps train+query together
    # for the worst-case (cold index) record.
    from bigdata_quality_assessment_spark.operators.similarity import (
        _train_quantizer, _as_double,
    )
    pre_cents = _train_quantizer(
        emb.select("vec_id", _as_double(F.col("embedding")).alias("__v")),
        16, 2048, 10, 42, id_col="vec_id",
    )

    queries = {
        "ann_hyperplane_knn": lambda: ann_hyperplane_knn(
            emb, q, dim=64, k=5, n_planes=12, n_tables=4, n_probes=4
        ).collect(),
        "knn_ivf": lambda: ivf_knn(
            emb, q, dim=64, k=5, n_centroids=16, n_probe=4
        ).collect(),
        "knn_ivf_pretrained": lambda: ivf_knn(
            emb, q, dim=64, k=5, n_centroids=16, n_probe=4,
            centroids=pre_cents,
        ).collect(),
        # brute force at the same SF: the speedup denominator
        "knn_brute_force": lambda: knn_brute_force(emb, q, k=5).collect(),
        # round-8: the composed tier (cold index build + query)
        "knn_ivfpq": lambda: ivfpq_knn(
            emb, q, dim=64, k=5, n_centroids=16, n_probe=4, m=8,
            rescore_factor=8,
        ).collect(),
    }

    # round-9 (verdict ask #5): the two-corpus-sided tiers — the most
    # scale-sensitive shape in the repo. Planes scale with the corpus
    # (p = log2(|right|·tables/64), the knob a production deployment
    # turns) so expected candidates per left row stay ~64 and total
    # pair work grows LINEARLY with the corpus — fixed planes would
    # measure a quadratic candidate blowup no one would run. max_bucket
    # engages the round-9 natural-skew guard at its advisory setting.
    import math

    from bigdata_quality_assessment_spark.operators.similarity import (
        knn_join,
        knn_label,
    )

    half = max(n_vec // 2, 2)
    jp = max(10, math.ceil(math.log2(half * 6 / 64)))
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    lab = right.withColumn("label", (F.col("vec_id") % 10).cast("int"))
    queries["knn_join"] = lambda: knn_join(
        left, right, dim=64, k=3, n_planes=jp, n_tables=6,
        max_bucket=4096,
    ).count()
    queries["knn_label"] = lambda: knn_label(
        left, lab, dim=64, k=3, n_planes=jp, n_tables=6,
        max_bucket=4096,
    ).count()
    stats = {name: summarize(sample(spark, fn, N_RUNS)) for name, fn in queries.items()}
    meds = {name: s["median"] for name, s in stats.items()}
    spark.stop()
    print(json.dumps({
        "sf_dir": sf_dir, "n_vectors": n_vec, "n_queries": n_q,
        "queries": meds, "stats": stats,
    }))


if __name__ == "__main__":
    main()
