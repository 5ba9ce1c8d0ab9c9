#!/usr/bin/env python
"""Perceptual-image-dedup scaling record (round-12): generate planted
image corpora (sources/imagegen.py — block-mosaic PNGs with exact-dup
re-encodes and brightness-shifted perceptual dups, ground truth in
role/src_id), then time the decode→dHash pass and the full banded
near-dedup, and measure planted recall / original survival
DISTRIBUTED (no driver-side id census). The runtime question is the
linear decode scan + the 4×16-bit band join; the quality question is
whether brightness-shifted perceptual dups — invisible to byte-level
dedup — collapse at scale.

Usage: python tools/bench_image_dedup.py [--two-level] [n_images ...]
Default scales: 20000 200000. Corpora cache under
.localdata/images/<n>/media.parquet (rebuilt when the generator
params change; see bench.cached_dir).
Prints one JSON line per scale plus a summary line.

``--two-level`` (round-13) runs the nested (band, sub-band) SCALE
regime of the band join — identical survivor sets, ~2^12x fewer
same-bucket candidate pairs — the fix for the measured 2M-image
single-level candidate ceiling (258.5 s at r12, band-volume
dominated).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import N_RUNS, cached_corpus, calibrate, sample, session, summarize  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    two_level = "--two-level" in args
    args = [a for a in args if a != "--two-level"]
    scales = [int(a) for a in args] or [20_000, 200_000]

    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.phash import (
        image_phash,
        near_dedup_images,
    )
    from bigdata_quality_assessment_spark.sources.imagegen import (
        planted_images,
    )

    spark = session("bench_image_dedup")
    calibrate(spark)  # codegen warmup
    results = {}
    for n in scales:
        media = cached_corpus(spark, "images", str(n), planted_images,
                              {"n_images": n, "seed": 7})
        stats = {
            "n_images": n,
            "two_level": two_level,
            "cal_start": calibrate(spark),
        }

        # planted quality (untimed, distributed)
        kept = near_dedup_images(
            media, max_hamming=3, two_level=two_level
        ).select(
            "media_id", F.lit(1).alias("__kept")
        )
        qual = (
            media.select("media_id", "role")
            .join(kept, "media_id", "left")
            .agg(
                F.avg(
                    F.when(
                        F.col("role").isin("dup", "bright"),
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
            stats[name] = summarize(sample(spark, fn, N_RUNS))["median"]

        timed(
            "image_phash",
            # modulo before summing: raw 64-bit hashes overflow an
            # ANSI-mode long sum (the mapInPandas pass computes every
            # column regardless, so any dhash-consuming agg works)
            lambda: image_phash(media)
            .agg(F.sum(F.col("dhash") % 1000003))
            .collect(),
        )
        timed(
            "near_dedup_images",
            lambda: near_dedup_images(
                media, max_hamming=3, two_level=two_level
            ).count(),
        )
        stats["cal_end"] = calibrate(spark)
        results[n] = stats
        print(json.dumps(stats))

    print(json.dumps({"metric": "image_dedup_scaling", "scales": results}))
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
