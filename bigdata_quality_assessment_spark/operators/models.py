"""M1/M2/M5: ensemble training, batch inference, and Jacobian/Hessian
production (SURVEY.md §2.8).

Reference: ``UQ_NN`` (core/ensemble_model.py:30-217) trains N Keras
MLPs sequentially and predicts/differentiates them over the full
candidate pool. The Spark-first re-expression decouples the two
halves:

  * TRAINING (M1/M4) happens on the distilled training set, which is
    ≤ a few hundred rows BY DESIGN (that is the whole point of the
    tool) — so it is collected to the driver in one Arrow job and
    each member is a closed-form ridge solve there
    (``fit_poly_ensemble``, the same helper the active loop's retrain
    calls). Parameters, not data, go back to the cluster.
  * INFERENCE (M2) and gradients (M5) run over the FULL pool — the
    100 TB axis — as Catalyst projections: the member parameters
    unroll into literals, so the scoring pass is whole-stage codegen
    with no Python worker, no Arrow transport and no exchange.

TensorFlow is NOT required: the default member model is a seeded
polynomial ridge regression (closed-form normal-equation fit) whose
predictions, Jacobians, and Hessians are exact analytic expressions —
giving every downstream operator (A5/A6, P14-P16) a deterministic,
oracle-checkable producer. The MLP family (operators/mlp.py) keeps
its Arrow pandas-UDF scorer behind the same
``predictions(point_id, model_id, y_pred)`` contract
(core/ensemble_model.py:59-68).

Evaluation order is part of the contract: a member is the
left-associative sum ``θ0 + θ1·Φ1 + … + θm·Φm`` over ``_poly_terms``,
the ensemble mean ``((p0 + p1) + …) / K`` and the variance
``Σ_k (p_k − m)·(p_k − m) / K`` in member order — the operations
``np.mean``/``np.var(ddof=0)`` perform over the member axis. Neither
numpy's elementwise kernels nor the JVM contract to FMA, so
``predict_poly`` and the Catalyst scorers agree bit for bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------
# Default member model: degree-2 polynomial ridge regression.
# Member k perturbs via a bootstrap reweighting seeded by model_id —
# the ensemble-diversity mechanism standing in for random NN init
# (core/ensemble_model.py:44-57 trains each member from a fresh init).
# --------------------------------------------------------------------


def _poly_terms(xs, one=1.0, degree: int = 2):
    """Φ(x) in the one evaluation order ``[1, x_i…, x_i·x_j (i ≤ j)…]``
    over numpy columns or Spark Columns alike."""
    yield one
    yield from xs
    if degree >= 2:
        for i, a in enumerate(xs):
            for b in xs[i:]:
                yield a * b


def _poly_features(X, degree: int = 2):
    import numpy as np

    xs = [X[:, i] for i in range(X.shape[1])]
    return np.column_stack(list(_poly_terms(xs, np.ones(len(X)), degree)))


def _poly_member(theta, xs, degree: int = 2):
    """``θ0 + θ1·Φ1 + … + θm·Φm``, summed left to right."""
    terms = _poly_terms(xs, degree=degree)
    acc = float(theta[0]) * next(terms)
    for t, phi in zip(theta[1:], terms):
        acc = acc + float(t) * phi
    return acc


def fit_poly_member(X, y, model_id: int, degree: int = 2, ridge: float = 1e-6, seed: int = 42):
    """Closed-form weighted ridge fit; member diversity via seeded
    Poisson bootstrap weights (deterministic per model_id)."""
    import numpy as np

    rng = np.random.RandomState(seed + model_id)
    w = rng.poisson(1.0, size=len(y)).astype("float64") + 1e-3
    Phi = _poly_features(X, degree)
    A = Phi.T @ (Phi * w[:, None]) + ridge * np.eye(Phi.shape[1])
    b = Phi.T @ (w * y)
    return np.linalg.solve(A, b)


def fit_poly_ensemble(
    X, y, n_models: int, degree: int = 2, ridge: float = 1e-6, seed: int = 42
) -> list[list[float]]:
    """M1/M4: ``n_models`` members fitted on driver-side arrays — the
    one fit behind ``train_ensemble`` and the active loop's retrain."""
    return [
        fit_poly_member(X, y, mid, degree=degree, ridge=ridge, seed=seed).tolist()
        for mid in range(n_models)
    ]


def predict_poly(X, theta, degree: int = 2):
    """Numpy reference of one member, in the Catalyst scorers' order."""
    return _poly_member(theta, [X[:, i] for i in range(X.shape[1])], degree)


def train_ensemble(
    train: DataFrame,
    feature_cols: list[str],
    target_col: str = "y",
    n_models: int = 2,
    degree: int = 2,
    seed: int = 42,
    ridge: float = 1e-6,
) -> list[list[float]]:
    """M1: one Arrow collect of ``train`` (features, then target, in
    partition order), then ``fit_poly_ensemble`` on the driver.

    Returns the list of parameter vectors. The training set is small
    by design; the driver holds it once, where a per-member executor
    fit would replicate it ``n_models`` times."""
    import numpy as np

    cols = [*feature_cols, target_col]
    table = train.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    ).toArrow()
    if table.num_rows == 0:
        raise ValueError("train_ensemble: the training frame is empty")
    XY = np.column_stack([table.column(i).to_numpy() for i in range(len(cols))])
    return fit_poly_ensemble(
        XY[:, :-1], XY[:, -1], n_models, degree=degree, ridge=ridge, seed=seed
    )


def _features(thetas, feature_cols: list[str]) -> list[Column]:
    if not thetas:
        raise ValueError("thetas is empty: an ensemble needs at least one member")
    return [F.col(c).cast("double") for c in feature_cols]


def _out_cols(id_col: str, carry_cols: list[str] | None) -> list[Column]:
    """``id BIGINT`` then the carry columns as ``DOUBLE`` (id excluded)."""
    carry = [c for c in (carry_cols or []) if c != id_col]
    return [
        F.col(id_col).cast("bigint").alias(id_col),
        *[F.col(c).cast("double").alias(c) for c in carry],
    ]


def predict_ensemble(
    points: DataFrame,
    thetas: list[list[float]],
    feature_cols: list[str],
    id_col: str = "point_id",
    degree: int = 2,
) -> DataFrame:
    """M2: ensemble batch inference over the full pool in the
    long-format ``predictions(point_id, model_id, y_pred)`` table
    (core/ensemble_model.py:59-65): one narrow ``explode`` of a
    per-member struct array — K rows per point, zero shuffle."""
    xs = _features(thetas, feature_cols)
    members = F.array(*[
        F.struct(F.lit(k).alias("model_id"), p.alias("y_pred"))
        for k, p in enumerate(_poly_member(th, xs, degree) for th in thetas)
    ])
    return points.select(
        *_out_cols(id_col, None), F.explode(members).alias("__m")
    ).select(id_col, "__m.model_id", "__m.y_pred")


def ensemble_jac_hess(
    points: DataFrame,
    thetas: list[list[float]],
    feature_cols: list[str],
    id_col: str = "point_id",
    degree: int = 2,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """M5: per-point ensemble-mean Jacobian and Hessian columns
    (``jac ARRAY<DOUBLE>``, ``hess ARRAY<ARRAY<DOUBLE>>``) — the
    producer for P16 ``us_lgw`` (core/ensemble_model.py:70-217).

    For the polynomial member model both derivatives are analytic:
    ŷ = θ₀ + Σθᵢxᵢ + Σθᵢⱼxᵢxⱼ ⇒ ∂ŷ/∂xᵢ is linear in x and ∂²ŷ/∂xᵢ∂xⱼ
    a constant, so the Hessian is one literal and the Jacobian one
    projection, averaged over members — a single code path (the
    reference's batched jac-only branch is a latent dead path we do
    not replicate, core/ensemble_model.py:195). A point with a NULL
    feature has a NULL Jacobian."""
    xs = _features(thetas, feature_cols)
    d, k = len(xs), len(thetas)
    quad = {}  # (i, j), i ≤ j → θ index of x_i·x_j in _poly_terms order
    for i in range(d):
        for j in range(i, d):
            quad[i, j] = 1 + d + len(quad)
    jac = [0.0] * d
    hess = [[0.0] * d for _ in range(d)]
    for th in thetas:
        for i in range(d):
            g = float(th[1 + i])
            for j in range(d if degree >= 2 else 0):
                fc = (2.0 if i == j else 1.0) * float(th[quad[min(i, j), max(i, j)]])
                g = g + fc * xs[j]
                hess[i][j] += fc
            jac[i] = jac[i] + g
    present = reduce(lambda a, b: a & b, [x.isNotNull() for x in xs])
    return points.select(
        *_out_cols(id_col, carry_cols),
        F.when(present, F.array(*[F.lit(j / k) for j in jac])).alias("jac"),
        F.array(*[F.array(*[F.lit(h / k) for h in row]) for row in hess]).alias("hess"),
    )


# --------------------------------------------------------------------
# M6: sequence forecaster (history window → prediction window).
# The reference trains an LSTM (SDE_forecast_ActiveSampling.py:153-171);
# this container has no TensorFlow, so the default member is a
# closed-form multi-output linear ridge AR — same contract (windows in,
# pred array out), deterministic, oracle-friendly. A Keras LSTM can be
# slotted in via fit_lstm_forecaster when TF is installed.
# --------------------------------------------------------------------


def fit_linear_forecaster(
    train_windows: DataFrame,
    hist_col: str = "history",
    target_col: str = "target",
    ridge: float = 1e-6,
) -> list[list[float]]:
    """M6 (closed form): fit ``W ∈ R^{(h+1)×p}`` minimizing
    ``‖[1, hist]·W − target‖² + λ‖W‖²`` over the (small by design)
    training windows. The train set is collected to the driver exactly
    like the reference's model.fit consumes it (M4 contract: Spark does
    the heavy scoring; training data is ≤ a few hundred windows)."""
    import numpy as np

    rows = train_windows.select(hist_col, target_col).collect()
    H = np.array([r[hist_col] for r in rows], dtype="float64")
    Y = np.array([r[target_col] for r in rows], dtype="float64")
    Phi = np.column_stack([np.ones(len(H)), H])
    A = Phi.T @ Phi + ridge * np.eye(Phi.shape[1])
    W = np.linalg.solve(A, Phi.T @ Y)
    return W.tolist()


def predict_forecaster(
    windows: DataFrame,
    weights: list[list[float]],
    id_col: str = "window_id",
    hist_col: str = "history",
    out_col: str = "pred",
) -> DataFrame:
    """M6 inference: ``pred = [1, hist]·W`` as a pure Catalyst
    expression — the weight matrix unrolls into literals (h+1 ≤ ~16
    terms per output), so the full-pool forecast is whole-stage codegen
    with zero shuffle and no Python in the loop."""
    h = len(weights) - 1
    p = len(weights[0])
    hist = F.col(hist_col)
    preds = []
    for j in range(p):
        term = F.lit(float(weights[0][j]))
        for i in range(h):
            term = term + hist[i] * F.lit(float(weights[i + 1][j]))
        preds.append(term)
    return windows.withColumn(out_col, F.array(*preds))


def fit_lstm_forecaster(windows: DataFrame, **kwargs) -> dict:
    """M6 (reference network): Dense 4/8/16 → LSTM 32 → Dense 16/16 →
    Dense p, Adam lr=1e-2, MSE (SDE_forecast_ActiveSampling.py:153-171)
    — implemented in pure numpy (operators/lstm.py: hand-derived BPTT,
    numerically gradient-checked in tests/test_lstm.py), so the
    reference-exact architecture trains without TensorFlow. The linear
    forecaster above remains the fast deterministic stand-in behind
    the same windows→pred contract."""
    from .lstm import fit_lstm_forecaster_df

    return fit_lstm_forecaster_df(windows, **kwargs)


def predict_ensemble_stats(
    points: DataFrame,
    thetas: list[list[float]],
    feature_cols: list[str],
    id_col: str = "point_id",
    degree: int = 2,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """M2+M3 fused: per-point ensemble mean and population variance in
    the SAME projection that evaluates the members — zero shuffle,
    zero join.

    The long-format ``predict_ensemble`` → ``ensemble_stats`` path is
    the general contract (any model family, any reducer), but it costs
    a groupBy shuffle of the predictions table plus a join back to the
    pool. When the consumer only needs mean/var (the §3.1 scoring pass
    — by far the hottest path at scale), fusing the reduction into the
    scorer turns the whole M2→A5/A6 stage into one narrow codegen
    projection over the pool: at 1000 executors there is no exchange
    at all, and no row leaves the JVM. A point with a NULL feature
    scores NULL."""
    xs = _features(thetas, feature_cols)
    preds = [_poly_member(th, xs, degree) for th in thetas]
    k = len(preds)
    mean = reduce(lambda a, b: a + b, preds) / k
    var = reduce(lambda a, b: a + b, [(p - mean) * (p - mean) for p in preds]) / k
    return points.select(
        *_out_cols(id_col, carry_cols), mean.alias("y_mean"), var.alias("y_var")
    )
