"""Deterministic / seeded DataFrame generators (SURVEY.md §2.1, S1-S6).

The reference's sources are in-memory numpy generators; each becomes a
distributed ``spark.range``-based generator so the candidate pool can
be materialized at any scale without a driver-side array.

Reference citations (files under /root/reference/):
  * S1 grid sampler        core/inputs.py:62-66 (np.mgrid lattice)
  * S2 latin hypercube     core/inputs.py:54-56 (pyDOE lhs)
  * S3 uniform sampler     core/inputs.py:58-60
  * S4 gaussian sampler    core/inputs.py:68-69,169-171
  * S5 synthetic target    BigDataQualityAssessment_ActiveSampling.py:27
  * S6 OU Euler-Maruyama   SDE_forecast_ActiveSampling.py:23-43
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.functions.counter_rng import (
    counter_gaussian,
    counter_hash,
    counter_uniform,
    py_counter_gaussian,
)
from bigdata_quality_assessment_spark.session import local_frame


def grid_points_2d(
    spark: SparkSession,
    ngrid: int = 100,
    lo: float = -1.0,
    hi: float = 1.0,
) -> DataFrame:
    """S1+S5: the demo-1 candidate pool — an ``ngrid × ngrid`` lattice
    over ``[lo, hi]²`` with the synthetic target
    ``y = x1³ − x1 + x2² + 0.5·sin(8·x1·x2)``.

    Matches ``np.mgrid[lo:hi:ngrid j]`` linspace semantics (endpoints
    inclusive). Row identity is row-major: ``point_id = i*ngrid + j``.
    Fully distributed: one ``range`` scan, pure Catalyst projections —
    at 100 TB-equivalent pool sizes this parallelizes linearly and
    never touches the driver.
    """
    step = (hi - lo) / (ngrid - 1)
    i = F.expr(f"point_id DIV {ngrid}")  # integer division, stays BIGINT
    j = F.col("point_id") % ngrid
    df = (
        spark.range(ngrid * ngrid)
        .withColumnRenamed("id", "point_id")
        .withColumn("x1", F.lit(lo) + i * F.lit(step))
        .withColumn("x2", F.lit(lo) + j * F.lit(step))
    )
    y = (
        F.pow(F.col("x1"), 3)
        - F.col("x1")
        + F.pow(F.col("x2"), 2)
        + 0.5 * F.sin(8.0 * F.col("x1") * F.col("x2"))
    )
    return df.withColumn("y", y)


# Per-model constants for the deterministic stub ensemble (FIXTURES.md §2):
# model k predicts y + a_k + b_k*sin(c_k*x1). Keeps every downstream
# ensemble-stats operator (A5/A6, P14-P16) oracle-checkable without TF.
STUB_MODEL_PARAMS: tuple[tuple[float, float, float], ...] = (
    (0.05, 0.10, 3.0),
    (-0.03, 0.08, 5.0),
    (0.02, -0.06, 7.0),
    (-0.04, 0.12, 2.0),
)


def stub_predictions(
    points: DataFrame, n_models: int = 2, carry_cols: list[str] | None = None
) -> DataFrame:
    """FIXTURES.md §2: long-format ``predictions(point_id, model_id,
    y_pred)`` from a deterministic closed-form "ensemble".

    The model table is a handful of literal rows — Catalyst broadcasts
    the cross join, so this stays a single narrow pass over ``points``
    (no shuffle) at any pool size. ``carry_cols`` keeps point-level
    columns on the output so downstream ``ensemble_stats(...,
    carry_cols=...)`` needs no join back to the point table.
    """
    if n_models > len(STUB_MODEL_PARAMS):
        raise ValueError(f"at most {len(STUB_MODEL_PARAMS)} stub models available")
    spark = points.sparkSession
    models = local_frame(
        spark, [(k, *STUB_MODEL_PARAMS[k]) for k in range(n_models)],
        "model_id INT, a DOUBLE, b DOUBLE, c DOUBLE",
    )
    return (
        points.crossJoin(F.broadcast(models))
        .withColumn("y_pred", F.col("y") + F.col("a") + F.col("b") * F.sin(F.col("c") * F.col("x1")))
        .select("point_id", "model_id", "y_pred", *(carry_cols or []))
    )


def uniform_samples(
    spark: SparkSession,
    n: int,
    lo: list[float],
    hi: list[float],
    seed: int = 42,
    rng: str = "counter",
) -> DataFrame:
    """S3: ``n`` uniform samples over the box ``[lo, hi]^d`` as columns
    ``x1..xd`` (reference: np.random.rand + affine rescale,
    core/inputs.py:58-60, 73-79).

    ``rng="counter"`` (default) draws each variate from the md5
    counter stream keyed ``uni:{seed}:{k}:{point_id}`` — the result is
    a pure function of the row, bit-identical across partition
    layouts, retries, and engines (ORACLE-GRADED in
    ``s2_s4_samplers``).  ``rng="spark"`` keeps the legacy
    partition-index-seeded ``F.rand`` stream.
    """
    df = spark.range(n).withColumnRenamed("id", "point_id")
    for k, (a, b) in enumerate(zip(lo, hi), start=1):
        u = (
            counter_uniform("uni", seed, k, F.col("point_id"))
            if rng == "counter"
            else F.rand(seed + k)
        )
        df = df.withColumn(f"x{k}", F.lit(a) + (F.lit(b) - F.lit(a)) * u)
    return df


def gaussian_samples(
    spark: SparkSession,
    n: int,
    mean: list[float],
    cov: list[list[float]],
    seed: int = 42,
    rng: str = "counter",
) -> DataFrame:
    """S4: ``n`` multivariate-normal samples as columns ``x1..xd``
    (reference: ``np.random.multivariate_normal``,
    core/inputs.py:68-69,169-171).

    The d×d Cholesky factor ``L`` is computed once on the driver
    (d ≤ 3 in every reference use) and folded in as literals:
    ``x = μ + L·z`` with ``z ~ N(0,1)`` — fully distributed, one
    ``range`` scan, pure Catalyst.  ``rng="counter"`` (default) draws
    z from the Box-Muller counter stream keyed
    ``gau:{seed}:{k}:{point_id}`` (partition-invariant,
    ORACLE-GRADED); ``rng="spark"`` keeps legacy ``F.randn``.
    """
    import numpy as np

    L = np.linalg.cholesky(np.asarray(cov, dtype="float64"))
    d = len(mean)
    df = spark.range(n).withColumnRenamed("id", "point_id")
    for k in range(d):
        z = (
            counter_gaussian("gau", seed, k, F.col("point_id"))
            if rng == "counter"
            else F.randn(seed + k)
        )
        df = df.withColumn(f"__z{k}", z)
    for i in range(d):
        expr = F.lit(float(mean[i]))
        for j in range(i + 1):
            if L[i][j] != 0.0:
                expr = expr + F.lit(float(L[i][j])) * F.col(f"__z{j}")
        df = df.withColumn(f"x{i + 1}", expr)
    return df.drop(*[f"__z{k}" for k in range(d)])


def latin_hypercube(
    spark: SparkSession,
    n: int,
    lo: list[float],
    hi: list[float],
    seed: int = 42,
    rng: str = "counter",
) -> DataFrame:
    """S2: Latin-hypercube sample — per dimension, a random permutation
    of ``n`` strata with a uniform jitter inside each stratum
    (reference: pyDOE ``lhs``, core/inputs.py:54-56).

    Stratification is exactly one value per stratum per dim, which is
    what pyDOE's 'classic' criterion produces. The global rank uses a
    window sort; sampler outputs are n≪data rows by construction
    (they seed the training set), so the single-partition sort is
    bounded by n, never by the pool size.

    ``rng="counter"`` (default): the per-dim permutation is the rank of
    the 52-bit counter hash ``lhs:{seed}:{k}:{point_id}`` (integer
    sort keys — exact in every engine, point_id tie-break) and the
    jitter is the counter uniform on sub-stream ``…:j`` —
    partition-invariant and ORACLE-GRADED.  ``rng="spark"`` keeps the
    legacy ``F.rand`` ordering.
    """
    df = spark.range(n).withColumnRenamed("id", "point_id")
    for k, (a, b) in enumerate(zip(lo, hi), start=1):
        if rng == "counter":
            w = Window.orderBy(
                counter_hash("lhs", seed, k, F.col("point_id")), F.col("point_id")
            )
            jitter = counter_uniform("lhs", seed, k, "j", F.col("point_id"))
        else:
            w = Window.orderBy(F.rand(seed + 1000 * k))
            jitter = F.rand(seed + 1000 * k + 1)
        stratum = F.row_number().over(w) - 1
        u = (stratum.cast("double") + jitter) / n
        df = df.withColumn(f"x{k}", F.lit(a) + (F.lit(b) - F.lit(a)) * u)
    return df


def ou_process(
    spark: SparkSession,
    n_trajectories: int = 1,
    n_steps: int = 1000,
    dt: float = 0.001,
    sigma: float = 2.0,
    mu: float = 2.0,
    tau: float = 0.5,
    seed: int = 42,
    rng: str = "counter",
) -> DataFrame:
    """S6/W2: Euler-Maruyama simulation of the reference's OU-like SDE
    (SDE_forecast_ActiveSampling.py:23-43):

        x[i+1] = x[i] + dt·(−(0.25·x[i] − μ)/τ) + σ·√(2/τ)·√dt·ε

    The recurrence is inherently sequential per path, so each
    trajectory is generated inside ``applyInPandas`` keyed by
    ``trajectory_id`` — embarrassingly parallel ACROSS trajectories
    (the scale axis that matters: 10⁶ Monte-Carlo paths fan out over
    the cluster; each path is a short in-memory loop).

    Returns ``timeseries(trajectory_id INT, step BIGINT, t DOUBLE,
    y DOUBLE)``.  ``rng="counter"`` (default) draws ε[i] from the
    Box-Muller counter stream keyed ``ou:{seed}:{traj}:{i}`` via the
    python twin — the SAME stream a SQL engine recomputes, which makes
    the whole trajectory ORACLE-GRADED (DuckDB recursive-CTE twin in
    the registry replays the identical float64 recurrence).
    ``rng="numpy"`` keeps the legacy per-trajectory
    ``RandomState(seed + traj)`` stream (reference numpy parity,
    pinned in tests/test_generators.py).
    """
    import numpy as np

    sigma_bis = sigma * math.sqrt(2.0 / tau)
    sqrtdt = math.sqrt(dt)

    def simulate(pdf: pd.DataFrame) -> pd.DataFrame:
        traj = int(pdf["trajectory_id"].iloc[0])
        if rng == "counter":
            noise = np.array(
                [py_counter_gaussian("ou", seed, traj, i) for i in range(n_steps - 1)]
            )
        else:
            noise = np.random.RandomState(seed + traj).randn(n_steps - 1)
        x = np.zeros(n_steps)
        for i in range(n_steps - 1):
            x[i + 1] = x[i] + dt * (-(0.25 * x[i] - mu) / tau) + sigma_bis * sqrtdt * noise[i]
        steps = np.arange(n_steps, dtype="int64")
        return pd.DataFrame(
            {
                "trajectory_id": traj,
                "step": steps,
                "t": steps * dt,
                "y": x,
            }
        )

    keys = spark.range(n_trajectories).select(F.col("id").cast("int").alias("trajectory_id"))
    return keys.groupBy("trajectory_id").applyInPandas(
        simulate, "trajectory_id INT, step BIGINT, t DOUBLE, y DOUBLE"
    )
