"""Pure-numpy MLP ensemble members — the reference's actual network
family, reproduced without TensorFlow (absent from this container).

Architecture (BigDataQualityAssessment_ActiveSampling.py:95-103):
``Input(d) → Dense(8, swish) ×3 → Dense(1)``, trained with Adam on MSE
(core/ensemble_model.py:44-57: ``keras.optimizers.Adam(lr)``,
``MeanSquaredError``, per-member independent initialization). Keras
defaults mirrored: Glorot-uniform kernels, zero biases, Adam
β₁=0.9 β₂=0.999 ε=1e-7, per-epoch shuffled mini-batches.

Execution model: members train on the DRIVER — the training set is the
distilled subset, ≤ a few hundred rows BY DESIGN (the reference collects
it into ``model.fit`` identically, M4) — and the fitted weight matrices
(a few KB) ship to executors inside a ``mapInPandas`` closure for batch
inference over the pool. Same contract as the polynomial members in
``models.py``; exact numeric parity with TF is impossible anyway (TF's
RNG differs), so the poly family remains the deterministic-oracle path
while this family reproduces the reference's model CLASS.

``train_mlp_ensemble_grouped`` is the distributed variant — one
``applyInPandas`` group per member trains ON THE EXECUTORS (the
reference's per-member independent-fit shape), with an OPT-IN
``backend='tf'`` that runs the reference's actual Keras compile/fit
where tensorflow is installed; numpy stays the default and the only
bit-reproducible path.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd


def _swish(x):
    import numpy as np

    return x / (1.0 + np.exp(-x))


def _swish_grad(x):
    import numpy as np

    s = 1.0 / (1.0 + np.exp(-x))
    return s + x * s * (1.0 - s)


def init_mlp(d: int, hidden: tuple[int, ...] = (8, 8, 8), seed: int = 42):
    """Glorot-uniform kernels + zero biases (the Keras Dense default)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    sizes = [d, *hidden, 1]
    params = []
    for fan_in, fan_out in zip(sizes[:-1], sizes[1:]):
        limit = np.sqrt(6.0 / (fan_in + fan_out))
        W = rng.uniform(-limit, limit, size=(fan_in, fan_out))
        b = np.zeros(fan_out)
        params.append((W, b))
    return params


def mlp_forward(params, X):
    """Forward pass; returns (prediction, per-layer pre-activations and
    activations for backprop)."""
    a = X
    pre, act = [], [a]
    for li, (W, b) in enumerate(params):
        z = a @ W + b
        pre.append(z)
        a = _swish(z) if li < len(params) - 1 else z
        act.append(a)
    return a[:, 0], pre, act


def fit_mlp_member(
    X,
    y,
    model_id: int = 0,
    hidden: tuple[int, ...] = (8, 8, 8),
    lr: float = 1e-3,
    epochs: int = 300,
    batch_size: int | None = None,
    seed: int = 42,
):
    """Train one member with Adam on MSE. ``batch_size=None`` = full
    batch (the reference's loop retrain uses ``batch_size=len(y)``,
    ref :271-273). Deterministic for a fixed seed+model_id."""
    import numpy as np

    X = np.asarray(X, dtype="float64")
    y = np.asarray(y, dtype="float64")
    n, d = X.shape
    params = init_mlp(d, hidden, seed=seed + 7919 * model_id)
    bs = n if batch_size is None else min(batch_size, n)
    m_t = [(np.zeros_like(W), np.zeros_like(b)) for W, b in params]
    v_t = [(np.zeros_like(W), np.zeros_like(b)) for W, b in params]
    b1, b2, eps = 0.9, 0.999, 1e-7
    rng = np.random.RandomState(seed + 104729 * model_id)
    step = 0
    for _ in range(epochs):
        order = rng.permutation(n) if bs < n else np.arange(n)
        for s in range(0, n, bs):
            idx = order[s : s + bs]
            Xb, yb = X[idx], y[idx]
            pred, pre, act = mlp_forward(params, Xb)
            # dL/dpred for MSE mean loss
            delta = (2.0 / len(yb)) * (pred - yb)[:, None]
            grads = []
            for li in range(len(params) - 1, -1, -1):
                W, _ = params[li]
                gW = act[li].T @ delta
                gb = delta.sum(axis=0)
                grads.append((gW, gb))
                if li > 0:
                    delta = (delta @ W.T) * _swish_grad(pre[li - 1])
            grads.reverse()
            step += 1
            new_params = []
            for li, ((W, b), (gW, gb)) in enumerate(zip(params, grads)):
                mW, mb = m_t[li]
                vW, vb = v_t[li]
                mW = b1 * mW + (1 - b1) * gW
                mb = b1 * mb + (1 - b1) * gb
                vW = b2 * vW + (1 - b2) * gW * gW
                vb = b2 * vb + (1 - b2) * gb * gb
                m_t[li] = (mW, mb)
                v_t[li] = (vW, vb)
                mhW = mW / (1 - b1**step)
                mhb = mb / (1 - b1**step)
                vhW = vW / (1 - b2**step)
                vhb = vb / (1 - b2**step)
                import numpy as np

                new_params.append(
                    (W - lr * mhW / (np.sqrt(vhW) + eps), b - lr * mhb / (np.sqrt(vhb) + eps))
                )
            params = new_params
    return params


def predict_mlp(params, X):
    import numpy as np

    pred, _, _ = mlp_forward(params, np.asarray(X, dtype="float64"))
    return pred


def _params_to_lists(params):
    return [(W.tolist(), b.tolist()) for W, b in params]


def _params_from_lists(lists):
    import numpy as np

    return [(np.asarray(W), np.asarray(b)) for W, b in lists]


def train_mlp_ensemble(
    train: DataFrame,
    feature_cols: list[str],
    y_col: str,
    n_models: int = 2,
    hidden: tuple[int, ...] = (8, 8, 8),
    lr: float = 1e-3,
    epochs: int = 300,
    batch_size: int | None = None,
    seed: int = 42,
) -> list:
    """M1 (NN family): fit ``n_models`` independent MLP members on the
    collected (distilled, driver-sized by design) training frame.
    Returns serializable weight lists for the inference closure."""
    rows = train.select(*feature_cols, y_col).collect()
    X = [[r[c] for c in feature_cols] for r in rows]
    y = [r[y_col] for r in rows]
    return [
        _params_to_lists(
            fit_mlp_member(
                X, y, mid, hidden=hidden, lr=lr, epochs=epochs,
                batch_size=batch_size, seed=seed,
            )
        )
        for mid in range(n_models)
    ]


def _fit_member_tf(X, y, model_id, hidden, lr, epochs, batch_size, seed):
    """The OPTIONAL TensorFlow/Keras member fit — the reference's
    actual training call (core/ensemble_model.py:44-57:
    ``keras.optimizers.Adam(learning_rate=lr)`` + ``MeanSquaredError``
    + ``Model.fit``), same architecture as the numpy twin
    (Dense(swish)×len(hidden) → Dense(1), ref ActiveSampling.py:95-103).
    Raises ImportError when tensorflow is absent (this container);
    returns params in the numpy twin's [(W, b), ...] format so
    :func:`predict_mlp` and the Arrow inference closure consume either
    backend's output identically. NOT bit-pinned — TF's RNG and
    reduction order differ — the parity contract is fit QUALITY
    (tests/test_mlp.py, skipped without TF)."""
    try:
        import tensorflow as tf
        from tensorflow import keras
    except ImportError as e:  # pragma: no cover - exercised via skip
        raise ImportError(
            "backend='tf' requires tensorflow; use the default "
            "backend='numpy' (the bit-reproducible Adam twin)"
        ) from e
    import numpy as np

    tf.keras.utils.set_random_seed(seed + 7919 * model_id)
    model = keras.Sequential(
        [keras.layers.Input(shape=(X.shape[1],))]
        + [keras.layers.Dense(h, activation="swish") for h in hidden]
        + [keras.layers.Dense(1)]
    )
    model.compile(
        optimizer=keras.optimizers.Adam(learning_rate=lr),
        loss=keras.losses.MeanSquaredError(),
        metrics=["mse"],
    )
    model.fit(
        np.asarray(X, dtype="float64"),
        np.asarray(y, dtype="float64"),
        epochs=epochs,
        batch_size=batch_size or len(y),
        verbose=0,
    )
    out = []
    for layer in model.layers:
        W, b = layer.get_weights()
        out.append((np.asarray(W, dtype="float64"), np.asarray(b, dtype="float64")))
    return out


def train_mlp_ensemble_grouped(
    train: DataFrame,
    feature_cols: list[str],
    y_col: str,
    n_models: int = 2,
    hidden: tuple[int, ...] = (8, 8, 8),
    lr: float = 1e-3,
    epochs: int = 300,
    batch_size: int | None = None,
    seed: int = 42,
    backend: str = "numpy",
) -> list:
    """M1 as the reference's PER-MEMBER grouped-map training
    (core/ensemble_model.py:44-57 — one independent ``fit`` per
    member): the (driver-sized) training frame replicates once per
    member id and one ``applyInPandas`` group trains each member ON AN
    EXECUTOR — members train in parallel across the cluster instead of
    sequentially on the driver, the shape that matters when members
    are expensive (real epochs budgets) rather than many.

    ``backend='numpy'`` (default) runs the bit-reproducible Adam twin
    (:func:`fit_mlp_member`); ``backend='tf'`` runs the reference's
    actual Keras compile/fit when tensorflow is importable
    (:func:`_fit_member_tf`) — the opt-in reference-parity path.
    Either way the return value matches :func:`train_mlp_ensemble`'s
    weight-list format.

    Reproducibility: rows are sorted canonically (by feature tuple,
    then y) INSIDE each group before fitting — applyInPandas delivers
    groups in partition-arrival order, and a float fit is only
    deterministic given a pinned row order. The numpy backend is then
    bit-identical to :func:`fit_mlp_member` on the same sorted arrays
    (pinned in tests/test_mlp.py)."""
    import json as _json

    from pyspark.sql import functions as F

    spark = train.sparkSession
    members = spark.range(n_models).select(F.col("id").cast("int").alias("__mid"))
    rep = train.select(*feature_cols, y_col).crossJoin(F.broadcast(members))

    def fit_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        mid = int(pdf["__mid"].iloc[0])
        pdf = pdf.sort_values(by=[*feature_cols, y_col], kind="mergesort")
        X = pdf[feature_cols].to_numpy(dtype="float64")
        y = pdf[y_col].to_numpy(dtype="float64")
        if backend == "tf":
            params = _fit_member_tf(X, y, mid, hidden, lr, epochs, batch_size, seed)
        elif backend == "numpy":
            params = fit_mlp_member(
                X, y, mid, hidden=hidden, lr=lr, epochs=epochs,
                batch_size=batch_size, seed=seed,
            )
        else:
            raise ValueError(f"backend must be 'numpy' or 'tf', got {backend!r}")
        return pd.DataFrame(
            {"__mid": [mid], "params": [_json.dumps(_params_to_lists(params))]}
        )

    out = rep.groupBy("__mid").applyInPandas(
        fit_group, schema="__mid int, params string"
    )
    rows = sorted(out.collect(), key=lambda r: r["__mid"])
    if len(rows) != n_models:
        raise ValueError(
            "grouped training returned fewer members than requested — "
            "is the training frame empty?"
        )
    return [_json.loads(r["params"]) for r in rows]


def predict_ensemble_stats_mlp(
    points: DataFrame,
    params_list: list,
    feature_cols: list[str],
    id_col: str = "point_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """M2+M3 fused for the MLP family: one exchange-free
    ``mapInPandas`` pass computes every member's forward pass and the
    mean/population-variance reduction (A5/A6), carrying point columns
    through. The poly ``predict_ensemble_stats`` is the same narrow
    pass as a Catalyst projection; this family's forward pass stays in
    Python."""
    import pandas as pd

    f_cols = list(feature_cols)
    carry = [c for c in (carry_cols or []) if c != id_col]
    in_cols = [id_col, *dict.fromkeys([*f_cols, *carry])]
    frozen = [_params_from_lists(p) for p in params_list]

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            X = pdf[f_cols].to_numpy(dtype="float64")
            preds = np.stack([predict_mlp(p, X) for p in frozen])
            out = {id_col: pdf[id_col].to_numpy()}
            for c in carry:
                out[c] = pdf[c].to_numpy()
            out["y_mean"] = preds.mean(axis=0)
            out["y_var"] = preds.var(axis=0)  # ddof=0 (A6 contract)
            yield pd.DataFrame(out)

    carry_schema = "".join(f", {c} DOUBLE" for c in carry)
    schema = f"{id_col} BIGINT{carry_schema}, y_mean DOUBLE, y_var DOUBLE"
    return points.select(*in_cols).mapInPandas(score, schema)
