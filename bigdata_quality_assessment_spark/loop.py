"""M4 + §3.1: the active-sampling driver loop.

Reference flow (/root/reference/BigDataQualityAssessment_ActiveSampling.py):

    initial subset  :50-72   P12→T3→J1 (inverse-density resample, middle match)
    LOOP n_iter     :153-278
      score pool    :186-197 M2→A5/A6, P7, A1/A2/A12
      log-pdf error :199-219 A11→J3→P9/P10→A8 (A13)
      SE explorer   :222-237 P7→T1→U1→J2
      US explorer   :239-253 P14→T1→U1→J2
      US-LW explorer:255-269 A11→J3→P15→T1→U1→J2
      retrain       :271-273 M4

Spark execution model: the loop is driver-side control flow; all the
heavy lifting (scoring the full pool, KDE, selection) is lazy
DataFrame work.

  * checkpoint the per-iteration scored pool — it feeds metrics AND
    three explorers, so without it each explorer would rescore from
    scratch (Catalyst does not CSE across actions).
  * The TRAINING SET lives on the driver. It is ≤ a few hundred rows
    BY DESIGN (distillation is the whole point of the tool — M4,
    SURVEY.md §2.8), and the reference itself collects it into
    ``model.fit``. Keeping it local means: no per-iteration
    train-union lineage (nothing to localCheckpoint), candidate
    filtering is a literal ``isin`` (no join at all), and member
    fitting is a driver-side closed-form solve — zero Spark jobs.
  * The POOL is never read inside the loop (candidates = scored pool
    minus train ids), so the shrinking pool frame is derived ONCE at
    the end as an anti-join — not re-materialized per iteration.
    Per-iteration pool copies would be O(n·iters) cluster work for
    frames nothing consumes.

Per iteration four Spark jobs touch the cluster (measured on
``local[4]`` with AQE on, pinned in tests/test_loop.py): the eager
scored-pool checkpoint, the KDE binning collect (its map stage + the
result, A1–A3/A12 sums riding along) and the one-collect explorer
top-k. The KDE convolution, A13 and the metric divisions finish on
the driver over ≤ 3·ngrid binned floats. The pool never leaves the
cluster; only binned grids, argmax rows (n_explorers per iteration)
and model parameters cross the boundary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.density import (
    interp_uniform_grid,
    kde_1d,
    kde_1d_multi_local,
    log_pdf_error_local,
)
from .operators.models import predict_ensemble_stats
from .operators.score import (
    acquisition_us,
    acquisition_us_lgw,
    acquisition_us_lw,
    inverse_density_weights,
    regression_terms,
)
from .operators.select import (
    middle_match,
    pool_remove,
    train_append,
    weighted_sample_with_replacement,
)
from .session import barrier, local_frame


@dataclass
class LoopResult:
    train: DataFrame
    pool: DataFrame
    metrics: list[dict] = field(default_factory=list)


def initial_selection(
    points: DataFrame,
    n_init: int = 100,
    bw: float = 0.1,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "point_id",
    y_col: str = "y",
) -> DataFrame:
    """:50-72 — inverse-density initial subset: KDE of y → interp pdf
    at each y → weights ∝ 1/pdf → n_init draws with replacement →
    middle-match back to full rows (one row per draw).

    The KDE is finished on the driver and interpolated as a literal
    array; the weights stay unnormalized — the sampler's draw targets
    are ``u·Σw``, so the normalizer's job would buy nothing."""
    grids, _ = kde_1d_multi_local(points, [{"tag": "y", "col": y_col, "bw": bw}], ngrid=ngrid)
    with_pdf = interp_uniform_grid(points, grids["y"], q_col=y_col, out_col="__pdf")
    weighted = inverse_density_weights(
        with_pdf, pdf_col="__pdf", weight_col="__w", normalize=False
    )
    # rng="spark" pins the legacy draw stream: the m4_loop_metrics
    # goldens (queries._M4_GOLDEN_*) were generated against it across
    # five SF tiers (sf0.001..sf10), and the loop's draw frame is k
    # rows (bounded), so the counter stream's partition-invariance
    # buys nothing here while a stream change would force an sf10
    # golden regeneration (tools/gen_loop_golden.py).
    draws = weighted_sample_with_replacement(
        weighted, "__w", n_init, seed=seed, id_col=id_col, rng="spark"
    )
    # Truncate lineage at the draw-sized frame (n_init rows): the
    # KDE→interp→weights→sampler plan is deep, and middle_match
    # references ``values`` twice — without the checkpoint Catalyst
    # re-analyzes the whole upstream per reference (seconds of pure
    # planning), and the sampler pipeline re-EXECUTES per action.
    draws = barrier(draws)
    values = draws.select(y_col, "draw_id")
    matched = middle_match(points, values, on=y_col, id_col=id_col)
    return matched.drop("draw_id")


def active_sampling_loop(
    points: DataFrame,
    feature_cols: list[str],
    n_iter: int = 20,
    n_init: int = 100,
    n_models: int = 2,
    acq_list: tuple[str, ...] = ("se", "us", "us_lw"),
    bw: float = 0.1,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "point_id",
    y_col: str = "y",
    init_train: DataFrame | None = None,
    member_family: str = "poly",
    mlp_epochs: int = 300,
    mlp_lr: float = 1e-3,
) -> LoopResult:
    """The full §3.1 loop with the polynomial ensemble (M1/M2). Each
    iteration scores the pool once, runs the configured explorers
    (any of ``se``/``us``/``us_lw``/``us_lgw``), and retrains. Returns
    the final train/pool frames plus per-iteration metrics
    (A1/A2/A12/A13).

    ``init_train``: optional explicit initial training frame (must
    contain ``keep_cols``); bypasses the stochastic inverse-density
    ``initial_selection`` so a seeded run is fully deterministic (the
    loop-metrics oracle query uses this).

    ``member_family``: ``"poly"`` (closed-form ridge — deterministic,
    the oracle path) or ``"mlp"`` (the reference's actual network
    family, numpy 3×Dense(8)-swish + Adam, operators/mlp.py;
    ``us_lgw`` requires the poly family's analytic jac/hess).

    Reference-parity notes:
      * only EXPLORER picks leave the candidate pool — the initial
        selection stays eligible, exactly as ``pts_temp`` is only
        ``np.delete``d per explorer pick (ref :236-237, :252-253).
      * the us_lw / us_lgw likelihood weight interpolates a KDE of the
        predicted means over the CURRENT candidate pool
        (``custom_KDE(mu(pts_temp))``, core/likelihood.py:53-58) — not
        the truth density. Deviation (documented): the pool KDE is
        built once per iteration from the iteration-start candidate
        set, while the reference rebuilds it after each sequential
        explorer deletion (a ≤2-point perturbation of an n-point KDE).
      * the A13 evaluation grid is rebuilt per iteration over the
        joint pred+truth data range padded 1% (ref :201-205), so
        predicted mass outside the truth range is never clamped away.
    """
    import numpy as np

    from .operators.models import ensemble_jac_hess, fit_poly_ensemble

    if member_family not in ("poly", "mlp"):
        raise ValueError(f"member_family must be 'poly' or 'mlp', got {member_family!r}")
    if member_family == "mlp" and "us_lgw" in acq_list:
        raise ValueError("us_lgw needs the poly family's analytic jac/hess")

    spark = points.sparkSession

    keep_cols = [id_col, *feature_cols, y_col]
    # The distilled training set is driver-sized BY DESIGN (n_init +
    # n_iter×n_explorers rows) — collect it once; repeats from
    # with-replacement draws keep their multiplicity.
    init = (
        init_train
        if init_train is not None
        else initial_selection(
            points, n_init=n_init, bw=bw, ngrid=ngrid, seed=seed, id_col=id_col, y_col=y_col
        )
    )
    train_rows = [
        tuple(r[c] for c in keep_cols) for r in init.select(*keep_cols).collect()
    ]
    # Reference pool semantics: candidates exclude ONLY explorer picks.
    explorer_ids: set = set()

    def fit_members():
        # M4 retrain contract: member fits on the local training set
        # (the reference collects into model.fit the same way) —
        # parameters, not data, cross back to the cluster.
        X = np.array([t[1 : 1 + len(feature_cols)] for t in train_rows], dtype="float64")
        y = np.array([t[-1] for t in train_rows], dtype="float64")
        if member_family == "mlp":
            from .operators.mlp import _params_to_lists, fit_mlp_member

            return [
                _params_to_lists(
                    fit_mlp_member(X, y, mid, lr=mlp_lr, epochs=mlp_epochs, seed=seed)
                )
                for mid in range(n_models)
            ]
        return fit_poly_ensemble(X, y, n_models, seed=seed)

    def score_pool(thetas):
        if member_family == "mlp":
            from .operators.mlp import predict_ensemble_stats_mlp

            return predict_ensemble_stats_mlp(
                points, thetas, feature_cols, id_col=id_col,
                carry_cols=[*feature_cols, y_col],
            )
        return predict_ensemble_stats(
            points, thetas, feature_cols, id_col=id_col,
            carry_cols=[*feature_cols, y_col],
        )

    metrics: list[dict] = []
    thetas = fit_members()

    def _pad_bounds(mn, mx, pad: float = 0.01):
        """kde_1d_multi's internal bounds rule on driver floats — the
        same IEEE double ops the Catalyst expressions perform, so the
        literal path is bit-identical to the aggregate path. NULL
        min/max means the series has no value (e.g. an empty pool):
        it bins nothing, so any bounds give its empty grid."""
        if mn is None:
            return (0.0, 1.0)
        span = (mx - mn) if (mx - mn) > 0 else 1.0
        return (mn - pad * span, mx + pad * span)

    for it in range(n_iter):
        # M2+M3 fused: one narrow pass over the pool carrying
        # features+truth through — no groupBy shuffle, no join-back
        # (predict_ensemble + ensemble_stats remain the general path).
        # For the poly family it is a Catalyst projection (no Python
        # worker); the mlp family scores in an Arrow pandas UDF.
        # The eager ``barrier`` both MATERIALIZES the pass
        # (one clean execution — the fanned-out consumers below all
        # read stored blocks, no racy cold-cache recompute) and
        # TRUNCATES lineage to a LogicalRDD, so every downstream frame
        # this iteration builds analyzes a two-node plan instead of the
        # scoring tree (measured with the Arrow scorer: ~2× faster
        # per-iteration plan construction). Blocks are reclaimed by the
        # ContextCleaner when the frame goes out of scope at the next
        # iteration — the same discipline train/pool already use.
        #
        # The KDE grid bounds ride this SAME materialization job as an
        # Observation (round-15): min/max are summation-order-free, so
        # the observed values are bit-identical to the one-row bounds
        # aggregate kde_1d_multi would otherwise run — but the
        # separate bounds job and its broadcast build disappear from
        # every iteration (the m4_loop_metrics golden hash pins the
        # bit-identity; avg-shaped metrics deliberately stay on the
        # cluster path because THEIR partial-sum order is not free).
        # Pool membership = NOT an explorer pick (the initial selection
        # stays in the pool, ref :236-237); the pick set is tiny, so it
        # folds into the plan as a literal ``isin`` — no join.
        not_picked = (
            ~F.col(id_col).isin(*explorer_ids) if explorer_ids else None
        )
        need_pool = "us_lw" in acq_list or "us_lgw" in acq_list
        obs_exprs = [
            F.least(F.min("y_mean"), F.min(y_col)).alias("jmn"),
            F.greatest(F.max("y_mean"), F.max(y_col)).alias("jmx"),
        ]
        if need_pool:
            pool_col = (
                F.when(not_picked, F.col("y_mean"))
                if not_picked is not None
                else F.col("y_mean")
            )
            obs_exprs += [
                F.min(pool_col).alias("pmn"), F.max(pool_col).alias("pmx"),
            ]
        scored, ob = barrier(
            score_pool(thetas).withColumn(
                "se", (F.col("y_mean") - F.col(y_col)) * (F.col("y_mean") - F.col(y_col))
            ),
            *obs_exprs,
        )

        # The iteration needs THREE densities of the scored pool —
        # pred + truth on the shared joint-range A13 grid rebuilt per
        # iteration (ref :201-205), and (for us_lw/us_lgw) the pool
        # density of the predicted means over the CURRENT candidates
        # (custom_KDE(mu(pts_temp)), core/likelihood.py:53-58). One
        # fused tagged binning pass over the stored pool computes all
        # three AND the A1-A3/A12 sums (``sums`` series of the same
        # deterministic groupBy — an Observation would merge partial
        # sums in task-completion order); the ≤ 3·ngrid binned rows are
        # collected and convolved on the driver, so the grids below are
        # plain floats: A13 is a numpy trapezoid and the us_lw/us_lgw
        # interpolation reads the pool grid as a literal array.
        joint = _pad_bounds(ob["jmn"], ob["jmx"])
        specs = [
            {"tag": "pred", "col": "y_mean", "bw": bw, "bounds": joint},
            {"tag": "truth", "col": y_col, "bw": bw, "bounds": joint},
        ]
        if need_pool:
            specs.append({
                "tag": "pool", "col": "y_mean", "bw": bw, "where": not_picked,
                "bounds": _pad_bounds(ob["pmn"], ob["pmx"]),
            })
        grids, totals = kde_1d_multi_local(
            scored, specs, ngrid=ngrid,
            sums=regression_terms("y_mean", y_col, "y_var"),
        )
        # regression_metrics' avg() (Σ non-NULL / their count, NULL
        # over none) and count()
        m = {k: tot / n if n else None for k, (tot, n) in totals.items()}
        m["n_rows"] = totals["n_rows"][1]
        m["log_pdf_error"] = log_pdf_error_local(grids["pred"], grids["truth"])
        pool_grid = grids.get("pool")

        candidates = (
            scored.filter(not_picked) if explorer_ids else scored
        )
        # The reference runs explorers SEQUENTIALLY, each removing its
        # pick before the next argmaxes (:236-269) — explorer k's true
        # pick excludes at most k−1 points, so it lies within its
        # top-k of the shared candidate frame. Collect top-n_exp per
        # explorer (with scores) in ONE job, then resolve the exclusion
        # order on the driver: reference semantics, 1 collect.
        n_exp = len(acq_list)
        topk_frames = []
        if "se" in acq_list:
            topk_frames.append(
                candidates
                .orderBy(F.col("se").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("se").alias("__score"),
                        F.lit("se").alias("__explorer"))
            )
        if "us" in acq_list:
            with_us = candidates.withColumn("acq", acquisition_us(candidates))
            topk_frames.append(
                with_us
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us").alias("__explorer"))
            )
        if "us_lw" in acq_list:
            with_fy = interp_uniform_grid(
                candidates, pool_grid, q_col="y_mean", out_col="pdf_y_mean"
            )
            with_lw = with_fy.withColumn("acq", acquisition_us_lw(with_fy))
            topk_frames.append(
                with_lw
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us_lw").alias("__explorer"))
            )
        if "us_lgw" in acq_list:
            # M5 producer fused with the carry columns (the analytic
            # jac/hess as one more projection over the candidates, no
            # join), then pdf + its spline derivative interpolated at
            # the mean (core/likelihood.py:61-78).
            jh = ensemble_jac_hess(
                candidates, thetas, feature_cols, id_col=id_col,
                carry_cols=[*feature_cols, y_col, "y_mean", "y_var"],
            )
            with_g = interp_uniform_grid(
                jh, pool_grid, q_col="y_mean",
                out_col="pdf_y_mean", deriv_col="dpdf_y_mean",
            )
            with_lgw = with_g.withColumn("acq", acquisition_us_lgw(with_g))
            topk_frames.append(
                with_lgw
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us_lgw").alias("__explorer"))
            )

        union = topk_frames[0]
        for f in topk_frames[1:]:
            union = union.unionByName(f)
        rows = union.collect()
        m["iter"] = it
        m["train_rows"] = len(train_rows)
        metrics.append(m)
        by_explorer: dict[str, list] = {}
        for r in rows:
            by_explorer.setdefault(r["__explorer"], []).append(r)
        taken: dict = {}
        for name in acq_list:
            ranked = sorted(
                by_explorer.get(name, ()),
                key=lambda r: (-r["__score"], r[id_col]),
            )
            for r in ranked:
                if r[id_col] not in taken:
                    taken[r[id_col]] = r
                    break
        train_rows.extend(tuple(r[c] for c in keep_cols) for r in taken.values())
        explorer_ids.update(taken)

        thetas = fit_members()

    train = local_frame(spark, train_rows, points.select(*keep_cols).schema)
    pool = pool_remove(
        points,
        local_frame(
            spark, [(i,) for i in explorer_ids] or [(-1,)], f"{id_col} bigint"
        ),
        id_col=id_col,
    )
    return LoopResult(train=train, pool=pool, metrics=metrics)


# --------------------------------------------------------------------
# §3.2: the SDE-forecast active-sampling pipeline
# (/root/reference/SDE_forecast_ActiveSampling.py).
# --------------------------------------------------------------------


def sde_initial_resample(
    windows: DataFrame,
    coeff_col: str = "coeff",
    n_modes: int = 5,
    n_draws: int = 100,
    bw: float = 0.05,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "window_id",
) -> DataFrame:
    """Per-mode inverse-density resample
    (SDE_forecast_ActiveSampling.py:110-135): for each POD mode m,
    KDE the coefficient distribution, weight every window ∝ 1/pdf,
    draw ``n_draws`` with replacement, and keep EVERY window whose
    coefficient equals a drawn value (the reference appends all
    boolean-mask matches, :122-126 — not a middle match); union across
    modes, then exact dedup on window identity (T5, :134-135 — deduped
    on the JOINED row, not X/Y independently)."""
    from .operators.select import dedup

    picked = None
    for mode in range(n_modes):
        with_c = windows.withColumn("__c", F.col(coeff_col)[mode])
        grid = kde_1d(with_c, "__c", bw=bw, ngrid=ngrid)
        with_pdf = interp_uniform_grid(with_c, grid, q_col="__c", out_col="__pdf")
        weighted = inverse_density_weights(with_pdf, pdf_col="__pdf", weight_col="__w")
        # draw-sized lineage cut: the n_modes per-mode KDE→sampler
        # plans otherwise union into one enormous tree (see
        # initial_selection).
        draws = barrier(weighted_sample_with_replacement(
            weighted.select(id_col, "__c", "__w"),
            "__w",
            n_draws,
            seed=seed + mode,
            id_col=id_col,
            rng="spark",  # golden continuity — see initial_selection
        ))
        # every window matching a drawn coefficient value (values are
        # continuous, so almost always exactly the drawn row itself)
        matched = with_c.join(
            F.broadcast(draws.select("__c").distinct()), "__c", "inner"
        ).drop("__c")
        picked = matched if picked is None else picked.unionByName(matched)
    return dedup(picked, [id_col])


@dataclass
class SdeLoopResult:
    train: DataFrame
    pool: DataFrame
    weights: list[list[float]]
    metrics: list[dict] = field(default_factory=list)


def sde_forecast_loop(
    series: DataFrame,
    value_col: str = "y",
    order_col: str = "step",
    history: int = 10,
    prediction: int = 5,
    n_iter: int = 20,
    n_select: int = 20,
    n_modes: int = 5,
    n_draws: int = 100,
    bw: float = 0.05,
    ngrid: int = 256,
    ridge: float = 1e-6,
    seed: int = 42,
    group_cols: list[str] | None = None,
    init_train: DataFrame | None = None,
    forecaster_family: str = "linear",
    lstm_epochs: int = 100,
    lstm_lr: float = 1e-2,
) -> SdeLoopResult:
    """The full §3.2 pipeline: min-max scale (P11) → sliding windows
    (W1) → column concat (U2) → POD (A14) → per-mode inverse-density
    resample (A11→J3→P12→T3→J1, T5) → train forecaster (M6) → LOOP:
    per-window horizon error (P8→A4) → top-k (T2) → pool transfer
    (J2/U1) → retrain (M4) → MAE over the shrinking pool (A3,
    ``model.predict(x_train_temp)`` vs ``y_train_temp``,
    SDE_forecast_ActiveSampling.py:238-239).

    ``init_train``: optional explicit initial window-id frame
    (``window_id`` column); bypasses the stochastic per-mode resample
    so a seeded run is fully deterministic (the loop-metrics oracle
    query uses this).

    ``forecaster_family``: ``"linear"`` (closed-form ridge stand-in —
    deterministic, the oracle path) or ``"lstm"`` (the reference's
    exact network, numpy BPTT in operators/lstm.py; per-iteration
    retrain CONTINUES training the same weights, matching the
    reference's repeated ``model.fit``, ref :234).

    Same loop hygiene as §3.1: localCheckpoint per iteration cuts the
    union/anti-join lineage; the windows table is cached once."""
    from .operators.decomp import pod_svd_modes, project_coeffs
    from .operators.models import fit_linear_forecaster, predict_forecaster
    from .operators.select import top_k
    from .operators.windows import concat_history_target, minmax_scale, sliding_windows

    scaled = minmax_scale(series, value_col, out_col="__v", group_cols=group_cols)
    windows = sliding_windows(
        scaled, order_col, "__v", history=history, prediction=prediction,
        group_cols=group_cols,
    )
    if group_cols:
        # window identity must be unique across series
        windows = windows.withColumn(
            "window_id", F.xxhash64(*group_cols, F.col("window_id"))
        )
    joint = concat_history_target(windows).cache()
    joint.count()

    p = history + prediction
    s, u = pod_svd_modes(joint, "joint", p=p)
    coeffs = project_coeffs(joint, "joint", u, mean=None)

    if init_train is not None:
        picked = joint.join(
            F.broadcast(init_train.select("window_id")), "window_id", "inner"
        )
    else:
        picked = sde_initial_resample(
            coeffs, n_modes=n_modes, n_draws=n_draws, bw=bw, ngrid=ngrid, seed=seed
        )
    train = barrier(picked.select("window_id", "history", "target"))
    pool = barrier(
        pool_remove(joint, train, id_col="window_id").select(
            "window_id", "history", "target"
        )
    )

    if forecaster_family == "lstm":
        from .operators.lstm import fit_lstm_forecaster_df, predict_lstm_forecaster

        def fit_fc(train_df, prev):
            return fit_lstm_forecaster_df(
                train_df, lr=lstm_lr, epochs=lstm_epochs, seed=seed, params=prev
            )

        predict_fc = predict_lstm_forecaster
    elif forecaster_family == "linear":
        def fit_fc(train_df, prev):
            return fit_linear_forecaster(train_df, ridge=ridge)

        predict_fc = predict_forecaster
    else:
        raise ValueError(
            f"forecaster_family must be 'linear' or 'lstm', got {forecaster_family!r}"
        )

    weights = fit_fc(train, None)
    # ONE forecaster pass over the pool per iteration. The post-retrain
    # prediction serves BOTH this iteration's MAE (reference semantics:
    # ``model.predict(x_train_temp)`` vs ``y_train_temp`` over the
    # shrinking pool, SDE_forecast_ActiveSampling.py:238-239) and the
    # NEXT iteration's selection — they are the same (pool, weights)
    # frame. It is cached (the MAE action materializes it; next
    # iteration's top-k reads the cache), and ``sel`` is checkpointed
    # eagerly BEFORE the train/pool branches consume it — as two lazy
    # references it would re-execute the pool prediction per branch.
    # Net: 1 predict/iteration where the naive structure runs 3.
    pred = predict_fc(pool, weights).cache()
    horizon_err = F.aggregate(
        F.zip_with(F.col("pred"), F.col("target"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    metrics: list[dict] = []
    for it in range(n_iter):
        err = pred.withColumn("horizon_err", horizon_err)
        sel = barrier(
            top_k(err, "horizon_err", n_select, id_col="window_id").select(
                "window_id", "history", "target"
            )
        )
        train = barrier(train_append(train, sel))
        pool = barrier(pool_remove(pool, sel, id_col="window_id"))
        weights = fit_fc(train, weights)

        prev = pred
        pred = predict_fc(pool, weights).cache()
        mae = (
            pred.select(horizon_err.alias("e")).agg(F.avg("e")).first()[0]
        )
        prev.unpersist()
        metrics.append({"iter": it, "mae": mae, "train_rows": train.count()})

    pred.unpersist()
    joint.unpersist()
    return SdeLoopResult(train=train, pool=pool, weights=weights, metrics=metrics)
