#!/usr/bin/env python
"""Video-level perceptual-dedup scaling record (round-12; trim tier
round-14): generate planted animation corpora (sources/videogen.py —
3-frame patterned GIFs with byte dups, palette-rebright perceptual
dups, one-frame recuts, and optionally head-trimmed copies, ground
truth in role/src_id), then time the frame decode → per-frame dHash
pass and the full aligned-frame dedup, and measure planted recall /
original survival DISTRIBUTED. The runtime question is the per-frame
LZW decode scan + the frame-aligned band join (two-level nested
banding engages automatically at >=1M via the operator's
two_level="auto" default — recorded per scale); the quality question
is whether palette-re-graded copies, partial recuts and trimmed
copies collapse at scale.

Usage: python tools/bench_video_dedup.py [n_videos ...]
Env: SPARK_GRAFT_VIDEO_TRIM_RATE (default 0 — byte-stable corpora,
SURVEY §2.10), SPARK_GRAFT_VIDEO_MAX_OFFSET (default 0; when > 0 the
dedup + quality pass runs at BOTH offset 0 and this offset, pricing
the offset scan's (2·δ+1)× candidate volume and the trim-recall it
buys). Default scales: 10000 100000. Corpora cache under
.localdata/videos/<n>[_trim<rate>]/media.parquet (rebuilt when
the generator params change; see bench.cached_dir).
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
    scales = [int(a) for a in sys.argv[1:]] or [10_000, 100_000]
    trim_rate = float(os.environ.get("SPARK_GRAFT_VIDEO_TRIM_RATE", "0"))
    max_offset = int(os.environ.get("SPARK_GRAFT_VIDEO_MAX_OFFSET", "0"))

    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.phash import (
        frame_phash,
        near_dedup_videos,
    )
    from bigdata_quality_assessment_spark.sources.videogen import (
        planted_videos,
    )

    spark = session("bench_video_dedup")
    calibrate(spark)  # codegen warmup
    results = {}
    for n in scales:
        tag = str(n) if trim_rate == 0 else f"{n}_trim{trim_rate}"
        media = cached_corpus(spark, "videos", tag, planted_videos,
                              {"n_videos": n, "seed": 7, "trim_rate": trim_rate})
        stats = {
            "n_videos": n,
            "trim_rate": trim_rate,
            "two_level": n >= 1_000_000,  # the auto default's switch
            "cal_start": calibrate(spark),
        }

        def quality(offset: int) -> dict:
            kept = near_dedup_videos(
                media, n_frames=3, max_offset=offset
            ).select("media_id", F.lit(1).alias("__kept"))
            rows = (
                media.select("media_id", "role")
                .join(kept, "media_id", "left")
                .groupBy("role")
                .agg(
                    F.avg(F.col("__kept").isNull().cast("double")).alias(
                        "dropped"
                    ),
                    F.count(F.lit(1)).alias("cnt"),
                )
                .collect()
            )
            by_role = {r["role"]: round(float(r["dropped"]), 4) for r in rows}
            n_planted = sum(r["cnt"] for r in rows if r["role"] != "orig")
            hit = sum(
                float(r["dropped"]) * r["cnt"]
                for r in rows
                if r["role"] != "orig"
            )
            return {
                # micro (row-weighted) recall — comparable to the
                # pre-round-14 planted_recall records in BASELINE.md
                "recall": round(hit / n_planted, 4) if n_planted else None,
                "orig_survival": round(1.0 - by_role.get("orig", 0.0), 4),
                "dropped_by_role": by_role,
            }

        offsets = sorted({0, max_offset})
        for off in offsets:
            key = "" if off == 0 else f"_off{off}"
            stats[f"quality{key}"] = quality(off)

        def timed(name, fn):
            stats[name] = summarize(sample(spark, fn, N_RUNS))["median"]

        timed(
            "frame_phash",
            lambda: frame_phash(media, n_frames=3)
            .agg(F.sum(F.col("dhash") % 1000003))
            .collect(),
        )
        for off in offsets:
            key = "" if off == 0 else f"_off{off}"
            timed(
                f"near_dedup_videos{key}",
                lambda off=off: near_dedup_videos(
                    media, n_frames=3, max_offset=off
                ).count(),
            )
        stats["cal_end"] = calibrate(spark)
        results[n] = stats
        print(json.dumps(stats))

    print(json.dumps({"metric": "video_dedup_scaling", "scales": results}))
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
