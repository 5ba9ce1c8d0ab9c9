"""End-to-end active-sampling loop test (§3.1, M4): conservation
invariants + metric production on a small fixture grid."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.loop import active_sampling_loop, initial_selection
from bigdata_quality_assessment_spark.sources.generators import grid_points_2d


@pytest.fixture(scope="module")
def result(spark):
    pts = grid_points_2d(spark, 20).cache()
    pts.count()
    return (
        pts,
        active_sampling_loop(
            pts, ["x1", "x2"], n_iter=2, n_init=30, n_models=2, ngrid=64, bw=0.1, seed=42
        ),
    )


def test_train_growth(result):
    pts, res = result
    # 30 initial draws + 2 iterations × 3 explorers
    assert res.train.count() == 30 + 2 * 3


def test_pool_semantics(result):
    # Reference pool semantics (BigDataQualityAssessment_ActiveSampling
    # .py:236-237): only EXPLORER picks are deleted from the candidate
    # pool; the initial selection stays eligible.
    pts, res = result
    n = pts.count()
    assert res.pool.select("point_id").count() == n - 2 * 3
    # every id missing from the pool was picked by an explorer, hence
    # is in the training set
    missing = pts.join(res.pool, "point_id", "left_anti").select("point_id")
    train_ids = res.train.select("point_id").distinct()
    assert missing.join(train_ids, "point_id", "inner").count() == 2 * 3


def test_metrics_rows(result):
    _, res = result
    assert len(res.metrics) == 2
    for i, m in enumerate(res.metrics):
        assert m["iter"] == i
        assert m["n_rows"] == 400
        for key in ("mse", "mae", "mean_var", "log_pdf_error", "train_rows"):
            assert key in m
        assert m["mse"] >= 0 and m["mean_var"] >= 0 and m["log_pdf_error"] >= 0


def test_initial_selection_multiplicity(spark):
    pts = grid_points_2d(spark, 15)
    sel = initial_selection(pts, n_init=40, bw=0.1, ngrid=64, seed=1)
    assert sel.count() == 40  # one row per draw, repeats included
    assert sel.select("point_id").distinct().count() <= 40


def test_initial_selection_picks_pinned(spark):
    """The driver-finished KDE and the unnormalized weights draw the
    same rows as the SQL-grid, normalized-weight path did (ids recorded
    from that path's run)."""
    sel = initial_selection(grid_points_2d(spark, 20), n_init=30, seed=1)
    assert sorted(r["point_id"] for r in sel.collect()) == [
        5, 18, 61, 76, 106, 111, 119, 124, 142, 160, 162, 167, 219, 224, 244,
        246, 257, 265, 268, 279, 283, 308, 321, 325, 343, 348, 365, 383, 399, 399,
    ]


def test_four_explorer_loop_with_us_lgw(spark):
    # us_lgw wired end-to-end: M5 jac/hess producer + pool-KDE pdf and
    # its spline derivative feed the higher-order geometric weight
    # (core/acquisition_fcn.py:52-54, core/likelihood.py:61-78).
    pts = grid_points_2d(spark, 15).cache()
    pts.count()
    init = pts.filter(F.col("point_id") % 8 == 0)
    res = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=2, n_models=2, ngrid=64, bw=0.1,
        acq_list=("se", "us", "us_lw", "us_lgw"), init_train=init,
    )
    n_init = init.count()
    assert res.train.count() == n_init + 2 * 4
    assert len(res.metrics) == 2
    # deterministic given init_train: re-run matches exactly
    res2 = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=2, n_models=2, ngrid=64, bw=0.1,
        acq_list=("se", "us", "us_lw", "us_lgw"), init_train=init,
    )
    assert [sorted(m.items()) for m in res.metrics] == [
        sorted(m.items()) for m in res2.metrics
    ]
    pts.unpersist()


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``: eager-checkpoint and AQE stage
    jobs inherit the job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_loop_job_counts(spark):
    """One loop iteration is the scored-pool checkpoint, the binned-KDE
    collect (map stage + result) and the explorer top-k: ≤ 4 jobs."""
    pts = grid_points_2d(spark, 20).cache()
    pts.count()
    init = pts.filter(F.col("point_id") % 8 == 0)

    def loop(n_iter):
        return _jobs(spark, lambda: active_sampling_loop(
            pts, ["x1", "x2"], n_iter=n_iter, n_models=2, ngrid=64, bw=0.1,
            init_train=init,
        ))

    one, two = loop(1), loop(2)
    assert two - one <= 4, (one, two)
    sel = _jobs(spark, lambda: initial_selection(
        pts, n_init=30, bw=0.1, ngrid=64, seed=1
    ).collect())
    assert sel <= 15, sel
    pts.unpersist()


# Pinned outputs; the SQL-finished KDE path (kde_1d_multi + the SQL
# log_pdf_error) gives the same picks and these metrics to float noise.
_EXHAUSTED_METRICS = [
    (1.3797269957691898e-08, 8.772370761933601e-05, 2.671859624570326e-09,
     0.0011224980810071038, 4),
    (1.0768240013779254e-09, 2.305291435780732e-05, 6.684938235505964e-10,
     0.0002953712514433802, 7),
    (6.958091882616893e-10, 1.54973443033668e-05, 6.938203284897879e-10,
     0.00019856562162927181, 8),
]


def test_loop_degenerate_pools(spark):
    """An exhausted candidate pool (every point picked by iteration 2:
    NULL pool-KDE bounds, empty explorer top-k) and an empty pool (NULL
    bounds everywhere; metrics NULL, ``n_rows`` 0)."""
    pts = grid_points_2d(spark, 2)
    res = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=3, n_models=2, ngrid=64, bw=0.1, init_train=pts
    )
    assert (res.train.count(), res.pool.count()) == (8, 0)
    assert sorted(r["point_id"] for r in res.train.collect()) == sorted(
        2 * [r["point_id"] for r in pts.collect()]
    )
    assert len(res.metrics) == 3
    for it, (m, want) in enumerate(zip(res.metrics, _EXHAUSTED_METRICS)):
        mse, mae, mean_var, lpe, train_rows = want
        assert (m["iter"], m["n_rows"], m["train_rows"]) == (it, 4, train_rows)
        assert m["mse"] == pytest.approx(mse, rel=1e-6)
        assert m["mae"] == pytest.approx(mae, rel=1e-6)
        assert m["mean_var"] == pytest.approx(mean_var, rel=1e-6)
        assert m["log_pdf_error"] == pytest.approx(lpe, rel=1e-6)

    res = active_sampling_loop(
        pts.limit(0), ["x1", "x2"], n_iter=2, n_models=2, ngrid=64, bw=0.1,
        init_train=pts,
    )
    assert (res.train.count(), res.pool.count()) == (4, 0)
    assert [m["iter"] for m in res.metrics] == [0, 1]
    for m in res.metrics:
        assert (m["n_rows"], m["train_rows"]) == (0, 4)
        for k in ("mse", "mae", "mean_var", "log_pdf_error"):
            assert m[k] is None, k
