"""Ensemble model surface tests (M1/M2/M3/M5): the engine consumes the
predictions-table contract; the default member is a closed-form poly
ridge whose derivatives are analytic (SURVEY.md §2.8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.models import (
    _poly_features,
    ensemble_jac_hess,
    fit_poly_member,
    predict_ensemble,
    predict_ensemble_stats,
    predict_poly,
    train_ensemble,
)
from bigdata_quality_assessment_spark.operators.score import ensemble_stats


@pytest.fixture(scope="module")
def quad_points(spark):
    # exactly representable target: y = 2 + x1 - 3 x2 + 0.5 x1² + x1 x2
    rng = np.random.RandomState(0)
    X = rng.uniform(-1, 1, size=(80, 2))
    y = 2 + X[:, 0] - 3 * X[:, 1] + 0.5 * X[:, 0] ** 2 + X[:, 0] * X[:, 1]
    rows = [(i, float(a), float(b), float(t)) for i, ((a, b), t) in enumerate(zip(X, y))]
    return spark.createDataFrame(rows, "point_id BIGINT, x1 DOUBLE, x2 DOUBLE, y DOUBLE").cache()


def test_train_predict_recovers_quadratic(spark, quad_points):
    thetas = train_ensemble(quad_points, ["x1", "x2"], "y", n_models=2, ridge=1e-10)
    preds = predict_ensemble(quad_points, thetas, ["x1", "x2"])
    joined = quad_points.join(ensemble_stats(preds), "point_id")
    max_err = joined.agg(F.max(F.abs(F.col("y_mean") - F.col("y")))).first()[0]
    assert max_err < 1e-6  # target lies in the hypothesis class


def test_mapinpandas_matches_driver_eval(spark, quad_points):
    thetas = train_ensemble(quad_points, ["x1", "x2"], "y", n_models=2)
    preds = predict_ensemble(quad_points, thetas, ["x1", "x2"]).toPandas()
    pdf = quad_points.toPandas().sort_values("point_id")
    X = pdf[["x1", "x2"]].to_numpy()
    for m, theta in enumerate(thetas):
        got = preds[preds.model_id == m].set_index("point_id")["y_pred"]
        expect = predict_poly(X, np.asarray(theta))
        assert np.allclose(got.loc[pdf["point_id"]].to_numpy(), expect, atol=1e-12)


def test_member_diversity_deterministic():
    X = np.random.RandomState(1).uniform(-1, 1, (50, 2))
    y = X[:, 0] + X[:, 1]
    t0 = fit_poly_member(X, y, 0)
    t0b = fit_poly_member(X, y, 0)
    t1 = fit_poly_member(X, y, 1)
    assert np.allclose(t0, t0b)
    assert not np.allclose(t0, t1)  # bootstrap reweighting differs per member


def test_jac_hess_matches_numeric_gradient(spark, quad_points):
    thetas = train_ensemble(quad_points, ["x1", "x2"], "y", n_models=2)
    jh = {r["point_id"]: r for r in ensemble_jac_hess(quad_points, thetas, ["x1", "x2"]).collect()}
    pdf = quad_points.toPandas().head(5)
    theta_arr = [np.asarray(t) for t in thetas]

    def mean_pred(x):
        return float(np.mean([predict_poly(x[None, :], t)[0] for t in theta_arr]))

    eps = 1e-5
    for _, row in pdf.iterrows():
        x = np.array([row["x1"], row["x2"]])
        r = jh[row["point_id"]]
        for i in range(2):
            dx = np.zeros(2)
            dx[i] = eps
            num = (mean_pred(x + dx) - mean_pred(x - dx)) / (2 * eps)
            assert abs(r["jac"][i] - num) < 1e-6
        # hessian: analytic constant for quadratic features
        num_h = (
            mean_pred(x + np.array([eps, 0])) - 2 * mean_pred(x) + mean_pred(x - np.array([eps, 0]))
        ) / eps**2
        assert abs(r["hess"][0][0] - num_h) < 1e-3


def test_poly_features_layout():
    X = np.array([[2.0, 3.0]])
    phi = _poly_features(X)
    assert np.allclose(phi, [[1.0, 2.0, 3.0, 4.0, 6.0, 9.0]])


# --------------------------------------------------------------------
# Catalyst scorers: bit-exact parity with the numpy reference, the
# degenerate-input contract, and plan / job pins.
# --------------------------------------------------------------------

_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "BatchEvalPython")


def _ref_jac_hess(X, thetas, degree):
    """The numpy member loop: g = θ[1+i], then g + (factor·coef)·x_j,
    members accumulated in order, then / K."""
    n, d = X.shape
    quad, pos = {}, 1 + d
    for i in range(d):
        for j in range(i, d):
            quad[(i, j)] = pos
            pos += 1
    jac, hess = np.zeros((n, d)), np.zeros((n, d, d))
    for th in thetas:
        for i in range(d):
            g = np.full(n, th[1 + i])
            for j in range(d if degree >= 2 else 0):
                fc = (2.0 if i == j else 1.0) * th[quad[(min(i, j), max(i, j))]]
                g = g + fc * X[:, j]
                hess[:, i, j] += fc
            jac[:, i] += g
    return jac / len(thetas), hess / len(thetas)


@pytest.mark.parametrize("degree", [1, 2])
@pytest.mark.parametrize("d", [1, 2, 3])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_catalyst_scorers_bit_exact(spark, k, d, degree):
    from bigdata_quality_assessment_spark.session import local_frame

    rng = np.random.RandomState(100 * k + 10 * d + degree)
    X = rng.uniform(-3, 3, size=(64, d)) / 7.0  # non-dyadic features
    n_terms = 1 + d + (d * (d + 1) // 2 if degree >= 2 else 0)
    thetas = [list(rng.normal(size=n_terms) / 3.0) for _ in range(k)]
    cols = [f"x{i}" for i in range(d)]
    pts = local_frame(
        spark, [(i, *map(float, x)) for i, x in enumerate(X)],
        "point_id BIGINT, " + ", ".join(f"{c} DOUBLE" for c in cols),
    )
    P = np.stack([predict_poly(X, np.asarray(t), degree) for t in thetas])
    want_mean, want_var = P.mean(axis=0), P.var(axis=0)
    want_jac, want_hess = _ref_jac_hess(X, thetas, degree)

    long = predict_ensemble(pts, thetas, cols, degree=degree).collect()
    assert len(long) == k * len(X)
    for r in long:
        assert r["y_pred"] == P[r["model_id"], r["point_id"]]
    stats = predict_ensemble_stats(pts, thetas, cols, degree=degree).collect()
    for r in stats:
        assert (r["y_mean"], r["y_var"]) == (want_mean[r["point_id"]], want_var[r["point_id"]])
    for r in ensemble_jac_hess(pts, thetas, cols, degree=degree).collect():
        i = r["point_id"]
        assert r["jac"] == list(want_jac[i])
        assert r["hess"] == [list(h) for h in want_hess[i]]


def test_predict_poly_matches_feature_matrix():
    """The left-associative member sum is the Φ·θ contract (to BLAS
    rounding) over the one Φ layout."""
    rng = np.random.RandomState(3)
    X = rng.uniform(-1, 1, size=(50, 3))
    for degree in (1, 2):
        phi = _poly_features(X, degree)
        theta = rng.normal(size=phi.shape[1])
        assert np.allclose(predict_poly(X, theta, degree), phi @ theta, rtol=1e-13, atol=1e-13)


def test_schema_unchanged(spark):
    from bigdata_quality_assessment_spark.session import local_frame

    pts = local_frame(spark, [(1, 1, 0.5, 2.0)], "point_id INT, x1 INT, x2 DOUBLE, y DOUBLE")
    th = [[0.1] * 6, [0.2] * 6]

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert shape(predict_ensemble(pts, th, ["x1", "x2"])) == [
        ("point_id", "bigint"), ("model_id", "int"), ("y_pred", "double"),
    ]
    assert shape(predict_ensemble_stats(pts, th, ["x1", "x2"], carry_cols=["x2", "y"])) == [
        ("point_id", "bigint"), ("x2", "double"), ("y", "double"),
        ("y_mean", "double"), ("y_var", "double"),
    ]
    assert shape(ensemble_jac_hess(pts, th, ["x1", "x2"], carry_cols=["point_id", "y"])) == [
        ("point_id", "bigint"), ("y", "double"),
        ("jac", "array<double>"), ("hess", "array<array<double>>"),
    ]


def test_degenerate_inputs(spark):
    from bigdata_quality_assessment_spark.session import local_frame

    th = [[0.5, 1.0, -1.0, 0.25, 0.5, 0.75], [0.25, -0.5, 1.0, 0.5, 0.25, -0.25]]
    pts = local_frame(
        spark, [(0, 0.5, None, 1.0), (1, 0.25, 0.5, 2.0)],
        "point_id BIGINT, x1 DOUBLE, x2 DOUBLE, y DOUBLE",
    )
    st = {r["point_id"]: r for r in predict_ensemble_stats(pts, th, ["x1", "x2"]).collect()}
    assert (st[0]["y_mean"], st[0]["y_var"]) == (None, None)
    assert st[1]["y_mean"] is not None and st[1]["y_var"] is not None
    jh = {r["point_id"]: r for r in ensemble_jac_hess(pts, th, ["x1", "x2"]).collect()}
    assert jh[0]["jac"] is None and jh[1]["jac"] is not None

    empty = pts.limit(0)
    for df, full in (
        (predict_ensemble_stats(empty, th, ["x1", "x2"], carry_cols=["y"]),
         predict_ensemble_stats(pts, th, ["x1", "x2"], carry_cols=["y"])),
        (predict_ensemble(empty, th, ["x1", "x2"]), predict_ensemble(pts, th, ["x1", "x2"])),
        (ensemble_jac_hess(empty, th, ["x1", "x2"]), ensemble_jac_hess(pts, th, ["x1", "x2"])),
    ):
        assert df.collect() == [] and df.schema == full.schema

    with pytest.raises(ValueError):
        train_ensemble(empty, ["x1", "x2"], "y")
    for scorer in (predict_ensemble, predict_ensemble_stats, ensemble_jac_hess):
        with pytest.raises(ValueError):
            scorer(pts, [], ["x1", "x2"])


def test_poly_plans_have_no_python(spark, quad_points):
    from bigdata_quality_assessment_spark.loop import active_sampling_loop
    from bigdata_quality_assessment_spark.operators.mlp import predict_ensemble_stats_mlp
    from tools.dump_plans import fmt

    th = [[0.5, 1.0, -1.0, 0.25, 0.5, 0.75], [0.25, -0.5, 1.0, 0.5, 0.25, -0.25]]
    frames = {
        "stats": predict_ensemble_stats(quad_points, th, ["x1", "x2"], carry_cols=["y"]),
        "long": predict_ensemble(quad_points, th, ["x1", "x2"]),
        "jac_hess": ensemble_jac_hess(quad_points, th, ["x1", "x2"], carry_cols=["y"]),
    }
    # the loop's checkpointed scored pass: capture the frame it checkpoints
    scored = []
    cls = type(quad_points)
    orig = cls.localCheckpoint

    def spy(self, *a, **kw):
        if "y_mean" in self.columns and "se" in self.columns:
            scored.append(fmt(self))
        return orig(self, *a, **kw)

    cls.localCheckpoint = spy
    try:
        active_sampling_loop(
            quad_points, ["x1", "x2"], n_iter=1, n_models=2, ngrid=32, bw=0.1,
            init_train=quad_points.filter(F.col("point_id") % 4 == 0),
        )
    finally:
        cls.localCheckpoint = orig
    assert len(scored) == 1
    plans = {name: fmt(df) for name, df in frames.items()}
    plans["loop_scored_pass"] = scored[0]
    for name, plan in plans.items():
        bad = [n for n in _PYTHON_NODES if n in plan]
        assert not bad, (name, bad)
        assert "Exchange" not in plan, name

    from bigdata_quality_assessment_spark.operators.mlp import _params_to_lists, init_mlp

    mlp = predict_ensemble_stats_mlp(
        quad_points, [_params_to_lists(init_mlp(2, seed=0))], ["x1", "x2"]
    )
    assert "MapInPandas" in fmt(mlp)


def test_train_ensemble_one_job_driver_fit(spark, quad_points):
    """One Spark job (the Arrow collect); the thetas are bitwise the
    shared driver fit's on the same collected rows."""
    from test_loop import _jobs

    from bigdata_quality_assessment_spark.operators.models import fit_poly_ensemble

    out = []
    assert _jobs(spark, lambda: out.append(
        train_ensemble(quad_points, ["x1", "x2"], "y", n_models=3, seed=7)
    )) == 1
    rows = quad_points.select("x1", "x2", "y").collect()
    X = np.array([(r["x1"], r["x2"]) for r in rows], dtype="float64")
    y = np.array([r["y"] for r in rows], dtype="float64")
    assert out[0] == fit_poly_ensemble(X, y, 3, seed=7)
    assert all(type(v) is float for th in out[0] for v in th)
