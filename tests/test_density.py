"""Oracle tests for the density stack (A7/A8/A9/A10/A11/A13, J3)
against numpy/scipy semantics on small fixtures (SURVEY.md §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

_np_trapz = getattr(np, "trapezoid", np.trapz)

from bigdata_quality_assessment_spark.operators.density import (
    grid_nint,
    histogram,
    interp_linear,
    interp_uniform_grid,
    kde_1d,
    log_pdf_error,
    minmax,
    scott_bandwidth,
    trapz,
)


@pytest.fixture(scope="module")
def values():
    rng = np.random.RandomState(7)
    return np.concatenate([rng.normal(0, 1, 400), rng.normal(4, 0.5, 100)])


@pytest.fixture(scope="module")
def vdf(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "y DOUBLE").cache()


def test_histogram_matches_numpy(vdf, values):
    rows = histogram(vdf, "y", nbins=9, lo=-3.0, hi=5.5).orderBy("bin").collect()
    np_cnt, np_edges = np.histogram(
        values[(values >= -3.0) & (values <= 5.5)], bins=9, range=(-3.0, 5.5), density=False
    )
    assert [r["cnt"] for r in rows] == list(np_cnt)
    np_pdf, _ = np.histogram(
        values[(values >= -3.0) & (values <= 5.5)], bins=9, range=(-3.0, 5.5), density=True
    )
    assert np.allclose([r["pdf"] for r in rows], np_pdf, atol=1e-12)
    assert np.allclose([r["bin_lo"] for r in rows], np_edges[:-1], atol=1e-12)


def test_histogram_dense_axis(spark):
    df = spark.createDataFrame([(0.1,), (9.9,)], "y DOUBLE")
    rows = histogram(df, "y", nbins=5, lo=0.0, hi=10.0).orderBy("bin").collect()
    assert [r["bin"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["cnt"] for r in rows] == [1, 0, 0, 0, 1]


def test_trapz_matches_numpy(spark):
    x = np.linspace(0, math.pi, 101)
    f = np.sin(x)
    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(x, f)], "x DOUBLE, f DOUBLE")
    got = trapz(df, "x", "f").first()["integral"]
    assert abs(got - _np_trapz(f, x)) < 1e-12


def test_trapz_grouped(spark):
    x = np.linspace(0.0, 1.0, 51)
    rows = [(g, float(v), float(g * v * v)) for g in (1, 2) for v in x]
    df = spark.createDataFrame(rows, "g INT, x DOUBLE, f DOUBLE")
    out = {r["g"]: r["integral"] for r in trapz(df, "x", "f", group_cols=["g"]).collect()}
    for g in (1, 2):
        assert abs(out[g] - _np_trapz(g * x * x, x)) < 1e-12


def test_grid_nint_2d(spark):
    # ∫∫ x*y dx dy over [0,1]² = 1/4
    n = 51
    base = spark.range(n).select((F.col("id") / (n - 1)).alias("x1"))
    pts = base.crossJoin(
        spark.range(n).select((F.col("id") / (n - 1)).alias("x2"))
    ).withColumn("f", F.col("x1") * F.col("x2"))
    got = grid_nint(pts, "f", ["x1", "x2"]).first()["integral"]
    assert abs(got - 0.25) < 1e-3


def test_minmax(vdf, values):
    r = minmax(vdf, "y").first()
    assert r["lo"] == values.min() and r["hi"] == values.max()


def _numpy_linear_binned_kde(values, bw, ngrid, lo, hi, weights=None):
    """Reference implementation: exact linear binning + grid convolution
    (the FFTKDE decomposition, /root/reference/core/utils.py:105-120).
    Out-of-grid points clamp BOTH node contributions to the boundary —
    FFTKDE itself errors on them, so the boundary rule is the engine's
    documented choice and the oracle mirrors it."""
    if weights is None:
        weights = np.ones_like(values)
    grid = np.linspace(lo, hi, ngrid)
    dx = (hi - lo) / (ngrid - 1)
    w = np.zeros(ngrid)
    pos = (values - lo) / dx
    i0u = np.floor(pos).astype(int)
    frac = pos - np.floor(pos)
    i0 = np.clip(i0u, 0, ngrid - 1)
    i1 = np.clip(i0u + 1, 0, ngrid - 1)
    np.add.at(w, i0, weights * (1 - frac))
    np.add.at(w, i1, weights * frac)
    pdf = np.zeros(ngrid)
    for j in range(ngrid):
        kern = np.exp(-0.5 * ((grid[j] - grid) / bw) ** 2) / (bw * math.sqrt(2 * math.pi))
        pdf[j] = (kern * w).sum() / w.sum()
    return grid, pdf


@pytest.mark.parametrize("form", ["lohi", "bounds_frame", "padded", "bw_frame"])
def test_kde_matches_linear_binned_reference(spark, vdf, values, form):
    """One case per way of giving the grid bounds (lo/hi floats, a
    one-row frame, the data range padded 1% per side) and the
    bandwidth (a float, a one-row frame)."""
    lo, hi, bw = -3.0, 6.0, 0.4
    kw: dict = {"bw": bw, "lo": lo, "hi": hi}
    if form == "bounds_frame":
        kw = {"bw": bw, "bounds": spark.range(1).select(
            F.lit(lo).alias("lo"), F.lit(hi).alias("hi")
        )}
    elif form == "padded":
        span = values.max() - values.min()
        lo, hi = values.min() - 0.01 * span, values.max() + 0.01 * span
        kw = {"bw": bw}
    elif form == "bw_frame":
        bw = len(values) ** (-1 / 5) * values.std(ddof=1)
        kw["bw"] = scott_bandwidth(vdf, "y")
    rows = kde_1d(vdf, "y", ngrid=64, **kw).orderBy("node").collect()
    grid, pdf = _numpy_linear_binned_kde(values, bw, 64, lo, hi)
    assert np.allclose([r["grid_x"] for r in rows], grid, atol=1e-12)
    assert np.allclose([r["pdf"] for r in rows], pdf, atol=1e-9)


def test_kde_integrates_to_one(vdf):
    g = kde_1d(vdf, "y", bw=0.4, ngrid=256, lo=-6.0, hi=9.0)
    integral = trapz(g, "grid_x", "pdf").first()["integral"]
    assert abs(integral - 1.0) < 1e-3


def test_kde_weighted(spark):
    df = spark.createDataFrame([(0.0, 3.0), (1.0, 1.0)], "y DOUBLE, w DOUBLE")
    rows = kde_1d(df, "y", bw=0.5, ngrid=32, lo=-2.0, hi=3.0, weight_col="w").orderBy("node").collect()
    _, expect = _numpy_linear_binned_kde(
        np.array([0.0, 1.0]), 0.5, 32, -2.0, 3.0, weights=np.array([3.0, 1.0])
    )
    assert np.allclose([r["pdf"] for r in rows], expect, atol=1e-9)
    # linear binning stays close to the exact kernel (dx ≪ bw regime)
    grid = np.array([r["grid_x"] for r in rows])
    exact = (
        3.0 * np.exp(-0.5 * (grid / 0.5) ** 2) + 1.0 * np.exp(-0.5 * ((grid - 1.0) / 0.5) ** 2)
    ) / (4.0 * 0.5 * math.sqrt(2 * math.pi))
    assert np.abs(np.array([r["pdf"] for r in rows]) - exact).max() < 0.05 * exact.max()


def test_scott_bandwidth_matches_reference_formula(vdf, values):
    bw = scott_bandwidth(vdf, "y").first()["bw"]
    expect = len(values) ** (-1 / 5) * values.std(ddof=1)
    assert abs(bw - expect) < 1e-12


def test_scott_bandwidth_degenerate_floor(spark):
    df = spark.createDataFrame([(5.0,)] * 50, "y DOUBLE")
    assert scott_bandwidth(df, "y").first()["bw"] == 1.0


def test_interp_uniform_matches_numpy(spark):
    gx = np.linspace(0, 10, 21)
    gf = np.sin(gx)
    grid = spark.createDataFrame(
        [(i, float(x), float(f)) for i, (x, f) in enumerate(zip(gx, gf))],
        "node INT, grid_x DOUBLE, pdf DOUBLE",
    )
    qs = np.array([-1.0, 0.0, 0.3, 5.25, 9.99, 10.0, 11.0])
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q DOUBLE")
    rows = interp_uniform_grid(qdf, grid, "q").collect()
    got = {r["q"]: r["interp"] for r in rows}
    expect = np.interp(qs, gx, gf)
    for q, e in zip(qs, expect):
        assert abs(got[float(q)] - e) < 1e-12


def test_interp_linear_irregular_matches_numpy(spark):
    gx = np.array([0.0, 0.5, 0.7, 2.0, 5.0, 9.0])
    gf = gx**2
    grid = spark.createDataFrame(
        [(float(x), float(f)) for x, f in zip(gx, gf)], "x DOUBLE, f DOUBLE"
    )
    qs = np.array([-1.0, 0.0, 0.6, 1.9, 4.99, 9.0, 20.0])
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q DOUBLE")
    rows = interp_linear(qdf, grid, "q", "x", "f").collect()
    assert len(rows) == len(qs)  # exactly one bracket per query
    got = {r["q"]: r["interp"] for r in rows}
    expect = np.interp(qs, gx, gf)
    for q, e in zip(qs, expect):
        assert abs(got[float(q)] - e) < 1e-12


def test_log_pdf_error_identity_and_positivity(vdf):
    a = kde_1d(vdf, "y", bw=0.4, ngrid=64, lo=-3.0, hi=6.0)
    assert log_pdf_error(a, a).first()["log_pdf_error"] == 0.0
    b = kde_1d(vdf.withColumn("y", F.col("y") + 1.0), "y", bw=0.4, ngrid=64, lo=-3.0, hi=6.0)
    assert log_pdf_error(a, b).first()["log_pdf_error"] > 0.1


def test_kde_pair_matches_kde_1d(spark, vdf, values):
    from bigdata_quality_assessment_spark.operators.density import kde_1d_pair

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    b = spark.range(1).select(F.lit(-3.0).alias("lo"), F.lit(6.0).alias("hi"))
    ga, gb = kde_1d_pair(two, "y", "z", bw=0.4, ngrid=64, bounds=b)
    ra = kde_1d(two, "y", bw=0.4, ngrid=64, bounds=b).orderBy("node").collect()
    rb = kde_1d(two, "z", bw=0.4, ngrid=64, bounds=b).orderBy("node").collect()
    pa = ga.orderBy("node").collect()
    pb = gb.orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in pa], [r["pdf"] for r in ra], atol=1e-12)
    assert np.allclose([r["pdf"] for r in pb], [r["pdf"] for r in rb], atol=1e-12)
    assert np.allclose([r["grid_x"] for r in pa], [r["grid_x"] for r in ra], atol=1e-12)


def test_kde_pair_default_joint_bounds(spark, vdf):
    from bigdata_quality_assessment_spark.operators.density import kde_1d_pair

    two = vdf.withColumn("z", F.col("y") + 10.0)
    ga, gb = kde_1d_pair(two, "y", "z", bw=0.4, ngrid=64)
    xa = [r["grid_x"] for r in ga.orderBy("node").collect()]
    xb = [r["grid_x"] for r in gb.orderBy("node").collect()]
    # shared joint-range grid: identical axes spanning BOTH series
    assert xa == xb
    zmax = two.agg(F.max("z")).first()[0]
    ymin = two.agg(F.min("y")).first()[0]
    assert xa[0] < ymin and xa[-1] > zmax


def test_kde_pair_single_binning_pass(spark, vdf):
    """The A13 shape (both grids feeding one job) must execute the
    binning scan+shuffle ONCE. The pair binning sits behind a lazy
    checkpoint barrier, so the joint plan contains NO (tag, node)
    shuffle and no re-scan of the source — both convolutions read the
    stored binned rows."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_pair

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    b = spark.range(1).select(F.lit(-3.0).alias("lo"), F.lit(6.0).alias("hi"))
    ga, gb = kde_1d_pair(two, "y", "z", bw=0.4, ngrid=64, bounds=b)
    joint = log_pdf_error(ga, gb)
    joint.first()
    plan = joint._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(tag" not in plan, plan


def test_kde_interp_composite_single_scan(spark, vdf):
    """kde_1d's binned barrier: interp references its grid once (one
    packed aggregate); the composite plan must not re-execute the pool
    binning."""
    out = interp_uniform_grid(
        vdf, kde_1d(vdf, "y", bw=0.4, ngrid=64, lo=-3.0, hi=6.0), q_col="y", out_col="p"
    )
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(node" not in plan, plan


def test_kde_multi_matches_kde_1d(spark, vdf):
    """Two unfiltered specs on an external shared-bounds grid must
    reproduce kde_1d exactly (same arithmetic, one pass)."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    b = spark.range(1).select(F.lit(-3.0).alias("lo"), F.lit(6.0).alias("hi"))
    grids = kde_1d_multi(
        two,
        [
            {"tag": "a", "col": "y", "bw": 0.4, "bounds": b},
            {"tag": "b", "col": "z", "bw": 0.4, "bounds": b},
        ],
        ngrid=64,
    )
    ra = kde_1d(two, "y", bw=0.4, ngrid=64, bounds=b).orderBy("node").collect()
    rb = kde_1d(two, "z", bw=0.4, ngrid=64, bounds=b).orderBy("node").collect()
    pa = grids["a"].orderBy("node").collect()
    pb = grids["b"].orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in pa], [r["pdf"] for r in ra], atol=1e-12)
    assert np.allclose([r["pdf"] for r in pb], [r["pdf"] for r in rb], atol=1e-12)
    assert np.allclose([r["grid_x"] for r in pa], [r["grid_x"] for r in ra], atol=1e-12)


def test_kde_multi_where_matches_prefiltered(spark, vdf):
    """A where-spec must equal kde_1d over the pre-filtered frame —
    bounds derivation AND binning both see only surviving rows."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    pred = F.col("y") > 0.5
    grids = kde_1d_multi(
        vdf, [{"tag": "p", "col": "y", "bw": 0.4, "where": pred}], ngrid=64
    )
    ref = kde_1d(vdf.filter(pred), "y", bw=0.4, ngrid=64).orderBy("node").collect()
    got = grids["p"].orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in got], [r["pdf"] for r in ref], atol=1e-12)
    assert np.allclose([r["grid_x"] for r in got], [r["grid_x"] for r in ref], atol=1e-12)


def test_kde_multi_shared_range_cols_single_pass(spark, vdf):
    """The loop shape: pred+truth share a joint-range grid, pool is a
    filtered series with its own range — all from ONE tagged pass
    (no (tag, node) exchange survives in a consuming job's plan), on
    identical axes for the shared-range tags."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    grids = kde_1d_multi(
        two,
        [
            {"tag": "pred", "col": "y", "bw": 0.4, "range_cols": ["y", "z"]},
            {"tag": "truth", "col": "z", "bw": 0.4, "range_cols": ["y", "z"]},
            {"tag": "pool", "col": "y", "bw": 0.4, "where": F.col("y") > 0.0},
        ],
        ngrid=64,
    )
    xa = [r["grid_x"] for r in grids["pred"].orderBy("node").collect()]
    xb = [r["grid_x"] for r in grids["truth"].orderBy("node").collect()]
    assert xa == xb
    joint = log_pdf_error(grids["pred"], grids["truth"])
    joint.first()
    plan = joint._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(tag" not in plan, plan


def test_kde_pair_scott_matches_kde_1d_auto_bw(spark, vdf):
    """bw='scott' in the fused pair must equal kde_1d with the
    scott_bandwidth frame, per series (the reference's default KDE
    path, now available fused)."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_pair

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    b = spark.range(1).select(F.lit(-3.0).alias("lo"), F.lit(6.0).alias("hi"))
    ga, gb = kde_1d_pair(two, "y", "z", bw="scott", ngrid=64, bounds=b)
    ra = (
        kde_1d(two, "y", bw=scott_bandwidth(two, "y"), ngrid=64, bounds=b)
        .orderBy("node")
        .collect()
    )
    rb = (
        kde_1d(two, "z", bw=scott_bandwidth(two, "z"), ngrid=64, bounds=b)
        .orderBy("node")
        .collect()
    )
    pa = ga.orderBy("node").collect()
    pb = gb.orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in pa], [r["pdf"] for r in ra], atol=1e-12)
    assert np.allclose([r["pdf"] for r in pb], [r["pdf"] for r in rb], atol=1e-12)


def test_kde_multi_scott_with_where_matches_prefiltered(spark, vdf):
    """Scott auto-bw in a where-spec must use the FILTERED series'
    n and σ — equal to kde_1d + scott_bandwidth on the pre-filtered
    frame."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    pred = F.col("y") > 0.5
    sub = vdf.filter(pred)
    grids = kde_1d_multi(
        vdf, [{"tag": "p", "col": "y", "bw": "scott", "where": pred}], ngrid=64
    )
    ref = (
        kde_1d(sub, "y", bw=scott_bandwidth(sub, "y"), ngrid=64)
        .orderBy("node")
        .collect()
    )
    got = grids["p"].orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in got], [r["pdf"] for r in ref], atol=1e-12)
    assert np.allclose([r["grid_x"] for r in got], [r["grid_x"] for r in ref], atol=1e-12)


def test_kde_multi_dataframe_bw_rides_broadcast(spark, vdf):
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    bwf = scott_bandwidth(vdf, "y")
    grids = kde_1d_multi(vdf, [{"tag": "a", "col": "y", "bw": bwf}], ngrid=64)
    ref = kde_1d(vdf, "y", bw=bwf, ngrid=64).orderBy("node").collect()
    got = grids["a"].orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in got], [r["pdf"] for r in ref], atol=1e-12)


def test_kde_multi_scott_single_scan(spark, vdf):
    """Auto-bw must fold into the bounds aggregate: the consuming
    plan still has no (tag, node) exchange, and degenerate data hits
    the 1.0 floor without erroring."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    grids = kde_1d_multi(
        two,
        [
            {"tag": "pred", "col": "y", "bw": "scott", "range_cols": ["y", "z"]},
            {"tag": "truth", "col": "z", "bw": "scott", "range_cols": ["y", "z"]},
        ],
        ngrid=64,
    )
    joint = log_pdf_error(grids["pred"], grids["truth"])
    joint.first()
    plan = joint._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(tag" not in plan, plan
    # degenerate series → bw floor 1.0, finite pdf
    one = spark.range(5).select(F.lit(2.0).alias("y"))
    g = kde_1d_multi(one, [{"tag": "d", "col": "y", "bw": "scott"}], ngrid=16)
    vals = [r["pdf"] for r in g["d"].collect()]
    assert all(np.isfinite(vals))


def test_kde_multi_weight_col_matches_kde_1d(spark, vdf):
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    wdf = vdf.withColumn("wt", F.abs(F.col("y")) + 0.1)
    b = spark.range(1).select(F.lit(-3.0).alias("lo"), F.lit(6.0).alias("hi"))
    grids = kde_1d_multi(
        wdf, [{"tag": "w", "col": "y", "bw": 0.4, "weight_col": "wt", "bounds": b}],
        ngrid=64,
    )
    ref = (
        kde_1d(wdf, "y", bw=0.4, ngrid=64, bounds=b, weight_col="wt")
        .orderBy("node")
        .collect()
    )
    got = grids["w"].orderBy("node").collect()
    assert np.allclose([r["pdf"] for r in got], [r["pdf"] for r in ref], atol=1e-12)


def test_kde_multi_scott_counts_nulls_like_scott_bandwidth(spark):
    """count(*) semantics on null-bearing columns: fused 'scott' must
    equal kde_1d + scott_bandwidth exactly (code-review finding —
    non-null count gave a different n and bandwidth)."""
    from bigdata_quality_assessment_spark.operators.density import kde_1d_multi

    rows = [(float(i),) for i in range(40)] + [(None,)] * 10
    df = spark.createDataFrame(rows, "y DOUBLE")
    b = spark.range(1).select(F.lit(-1.0).alias("lo"), F.lit(41.0).alias("hi"))
    got = (
        kde_1d_multi(df, [{"tag": "a", "col": "y", "bw": "scott", "bounds": b}], ngrid=32)["a"]
        .orderBy("node").collect()
    )
    ref = (
        kde_1d(df, "y", bw=scott_bandwidth(df, "y"), ngrid=32, bounds=b)
        .orderBy("node").collect()
    )
    assert np.allclose([r["pdf"] for r in got], [r["pdf"] for r in ref], atol=1e-12)


@pytest.mark.parametrize("ngrid", [16, 256])
def test_kde_multi_local_matches_sql_finish(spark, vdf, values, ngrid):
    """The driver finish (collected binning + numpy convolution) must
    equal kde_1d_multi's SQL grids, and the numpy A13 the SQL one;
    literal-grid interpolation must equal the DataFrame-grid path, and
    a ``sums`` series must carry (Σ, count)."""
    from bigdata_quality_assessment_spark.operators.density import (
        kde_1d_multi,
        kde_1d_multi_local,
        log_pdf_error_local,
    )

    two = vdf.withColumn("z", F.col("y") * 0.5 + 1.0)
    specs = [
        {"tag": "pred", "col": "y", "bw": 0.4, "bounds": (-3.0, 6.0)},
        {"tag": "truth", "col": "z", "bw": 0.4, "bounds": (-3.0, 6.0)},
        {"tag": "pool", "col": "y", "bw": 0.3, "where": F.col("y") > 0.5,
         "bounds": (0.5, 5.0)},
    ]
    sql = kde_1d_multi(two, specs, ngrid=ngrid)
    local, totals = kde_1d_multi_local(two, specs, ngrid=ngrid, sums={"y": F.col("y")})
    for tag, g in sql.items():
        rows = g.orderBy("node").collect()
        x, pdf = local[tag]
        assert np.allclose(x, [r["grid_x"] for r in rows], rtol=1e-12, atol=0), tag
        assert np.allclose(pdf, [r["pdf"] for r in rows], rtol=1e-12, atol=0), tag
    want = log_pdf_error(sql["pred"], sql["truth"]).first()["log_pdf_error"]
    assert log_pdf_error_local(local["pred"], local["truth"]) == pytest.approx(want, rel=1e-9)
    a = interp_uniform_grid(vdf, sql["pool"], q_col="y", out_col="p").orderBy("y").collect()
    b = interp_uniform_grid(vdf, local["pool"], q_col="y", out_col="p").orderBy("y").collect()
    assert np.allclose([r["p"] for r in b], [r["p"] for r in a], rtol=1e-12, atol=1e-300)
    assert totals["y"][1] == len(values)
    assert totals["y"][0] == pytest.approx(values.sum(), rel=1e-12)


def test_histogram_degenerate_and_empty_inputs(spark):
    """ANSI regression: all-equal values (width 0) expand the range by
    +-0.5 like np.histogram; an empty frame yields dense zero bins —
    neither may throw DIVIDE_BY_ZERO."""
    one = spark.createDataFrame([(1, 2.5)] * 3, "point_id BIGINT, y DOUBLE")
    rows = histogram(one, "y", nbins=4).orderBy("bin").collect()
    assert len(rows) == 4
    assert rows[0]["bin_lo"] == pytest.approx(2.0)
    assert rows[-1]["bin_hi"] == pytest.approx(3.0)
    assert sum(r["cnt"] for r in rows) == 3
    total_mass = sum(r["pdf"] * (r["bin_hi"] - r["bin_lo"]) for r in rows)
    assert total_mass == pytest.approx(1.0)
    empty = spark.createDataFrame([], "point_id BIGINT, y DOUBLE")
    erows = histogram(empty, "y", nbins=4, lo=0.0, hi=1.0).collect()
    assert len(erows) == 4 and all(r["cnt"] == 0 and r["pdf"] == 0.0 for r in erows)
