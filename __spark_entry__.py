"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship composite; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2
plus the LLM-pipeline extensions, with DuckDB oracles where ANSI SQL
can express the semantics (see bigdata_quality_assessment_spark/
queries.py for the cross-engine float discipline).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdata_quality_assessment_spark import queries as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the us_lw scoring pass (SURVEY.md §7.2 grown to the
    full composite M1→M2→A5/A6→A11→J3→P15→T2) over a points frame
    derived from sf0.001 lineitem — a trained polynomial-ridge ensemble
    (predictions are independent of the truth column), fused mean/var
    inference, output KDE, density interpolation at the ensemble mean,
    likelihood-weighted acquisition, top-20 selection."""
    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.density import (
        interp_uniform_grid,
        kde_1d,
    )
    from bigdata_quality_assessment_spark.operators.models import (
        predict_ensemble_stats,
        train_ensemble,
    )
    from bigdata_quality_assessment_spark.operators.score import acquisition_us_lw
    from bigdata_quality_assessment_spark.operators.select import top_k

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    pts = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.log("l_extendedprice").alias("y"),
    )
    # M1: fit the 2-member ensemble on a small deterministic subsample
    # (one Arrow collect, then a driver-side closed-form ridge solve —
    # parameters, not data, return to the cluster). M2+M3 fused: one
    # Catalyst projection produces mean/var with point columns
    # carried — zero exchanges and no Python worker over the pool.
    train = pts.filter(F.col("point_id") % 97 == 0)
    thetas = train_ensemble(train, ["x1", "x2"], "y", n_models=2, seed=42)
    scored = predict_ensemble_stats(
        pts, thetas, ["x1", "x2"], carry_cols=["x1", "x2", "y"]
    )
    grid = kde_1d(scored, "y_mean", bw=0.1, ngrid=256)
    with_fy = interp_uniform_grid(scored, grid, q_col="y_mean", out_col="pdf_y_mean")
    acq = with_fy.withColumn("acq", acquisition_us_lw(with_fy))
    return top_k(acq, "acq", 20).select(
        "point_id", "x1", "x2", "y", "y_mean", "y_var", "pdf_y_mean", "acq"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
