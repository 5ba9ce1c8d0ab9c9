#!/usr/bin/env python
"""Audio perceptual-dedup scaling record (round-13): generate planted
audio corpora (sources/audiogen.py — square-wave energy-envelope WAV
clips with byte dups and gain-scaled perceptual dups, ground truth in
role/src_id), then time the PCM decode → energy-fingerprint pass and
the full banded near-dedup, and measure planted recall / original
survival DISTRIBUTED. The runtime question is the linear WAV decode
scan + the 4×16-bit band join; the quality question is whether
re-gained (volume-normalized) copies — invisible to byte-level dedup —
collapse at scale.

Usage: python tools/bench_audio_dedup.py [--two-level] [n_clips ...]
Default scales: 20000 200000. Corpora cache under
.localdata/audio/<n>[_seg<k>_trim<r>]/media.parquet (rebuilt when
the generator params change; see bench.cached_dir). ``--two-level``
runs the nested (band, sub-band) scale regime (identical survivor
sets — see simhash_near_dedup).

Round-14 trim tier: SPARK_GRAFT_AUDIO_TRIM_RATE > 0 (with
SPARK_GRAFT_AUDIO_N_SEGMENTS, default 4) plants head-trimmed copies
and additionally times the peak-anchored SEGMENT tier
(near_dedup_audio(seg_frames=2080, max_offset=1)) beside the
whole-clip tier, with per-role dropped rates for both — pricing the
segment fan-out (n_segments× fingerprint rows) against the trim
recall it buys.
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
    args = sys.argv[1:]
    two_level = "--two-level" in args
    args = [a for a in args if a != "--two-level"]
    scales = [int(a) for a in args] or [20_000, 200_000]
    trim_rate = float(os.environ.get("SPARK_GRAFT_AUDIO_TRIM_RATE", "0"))
    n_segments = int(os.environ.get("SPARK_GRAFT_AUDIO_N_SEGMENTS",
                                    "4" if trim_rate > 0 else "1"))
    seg_tier = trim_rate > 0 or n_segments > 1

    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.audio import (
        audio_fingerprint,
        near_dedup_audio,
    )
    from bigdata_quality_assessment_spark.sources.audiogen import (
        planted_audio,
    )

    spark = session("bench_audio_dedup")
    calibrate(spark)  # codegen warmup
    results = {}
    for n in scales:
        tag = str(n) if not seg_tier else f"{n}_seg{n_segments}_trim{trim_rate}"
        media = cached_corpus(spark, "audio", tag, planted_audio,
                              {"n_clips": n, "seed": 7, "trim_rate": trim_rate,
                               "n_segments": n_segments})
        stats = {
            "n_clips": n,
            "two_level": two_level,
            "trim_rate": trim_rate,
            "n_segments": n_segments,
            "cal_start": calibrate(spark),
        }

        def quality(label: str, kept):
            kept = kept.select("media_id", F.lit(1).alias("__kept"))
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
            n_planted = sum(r["cnt"] for r in rows if r["role"] != "orig")
            hit = sum(
                float(r["dropped"]) * r["cnt"]
                for r in rows
                if r["role"] != "orig"
            )
            orig = [float(r["dropped"]) for r in rows if r["role"] == "orig"]
            stats[f"planted_recall{label}"] = (
                round(hit / n_planted, 4) if n_planted else None
            )
            stats[f"orig_survival{label}"] = round(
                1.0 - (orig[0] if orig else 0.0), 4
            )
            stats[f"dropped_by_role{label}"] = {
                r["role"]: round(float(r["dropped"]), 4) for r in rows
            }

        quality("", near_dedup_audio(media, two_level=two_level))
        if seg_tier:
            quality(
                "_seg",
                near_dedup_audio(media, seg_frames=2080, max_offset=1),
            )

        def timed(name, fn):
            stats[name] = summarize(sample(spark, fn, N_RUNS))["median"]

        timed(
            "audio_fingerprint",
            # modulo before summing: raw 64-bit fingerprints overflow
            # an ANSI-mode long sum
            lambda: audio_fingerprint(media)
            .agg(F.sum(F.col("afp") % 1000003))
            .collect(),
        )
        timed(
            "near_dedup_audio",
            lambda: near_dedup_audio(media, two_level=two_level).count(),
        )
        if seg_tier:
            timed(
                "near_dedup_audio_seg",
                lambda: near_dedup_audio(
                    media, seg_frames=2080, max_offset=1
                ).count(),
            )
        stats["cal_end"] = calibrate(spark)
        results[n] = stats
        print(json.dumps(stats))

    print(json.dumps({"metric": "audio_dedup_scaling", "scales": results}))
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
