"""Density stack: histogram, trapezoidal integration, KDE, linear
interpolation, log-pdf-error metric.

Covers SURVEY.md §2.4 A7/A8/A9/A10/A11/A13 and §2.3 J3.

Scale notes:
  * the KDE is linear binning (one distributed pass: each point
    splits its weight between its two neighboring grid nodes, then a
    groupBy over ≤``ngrid`` keys) followed by a kernel convolution on
    the BINNED grid — cost O(data) + O(ngrid²) where ngrid ≤ 4096.
    The data-sized pass is pure Catalyst; the grid²-sized pass is a
    broadcast self-join of a tiny frame. This is the FFTKDE
    decomposition (linear binning + grid convolution,
    /root/reference/core/utils.py:105-120) re-expressed relationally —
    the O(data) term dominates at 100 TB and parallelizes linearly.
    ``kde_1d_multi_local`` collects the binned grid instead and runs
    the convolution on the driver (numpy) for driver-side consumers.
  * interpolation against a UNIFORM grid is an index computation +
    array lookup — no range join, no sort, O(data).
  * trapz over a grid is a lag-window over ≤ngrid rows (tiny); the
    grouped variant partitions by series key for many-series use.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import barrier


def minmax(df: DataFrame, col: str) -> DataFrame:
    """A10: global min/max of a column (one-row frame, broadcastable)."""
    return df.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))


def histogram(
    df: DataFrame,
    col: str,
    nbins: int = 9,
    density: bool = True,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """A7: equal-width histogram over ``[lo, hi]`` (data range when
    unspecified), matching ``plt.hist(..., density=True)`` — the
    right edge of the last bin is inclusive
    (BigDataQualityAssessment_ActiveSampling.py:58-61).

    Returns ``(bin INT, bin_lo DOUBLE, bin_hi DOUBLE, cnt BIGINT,
    pdf DOUBLE)`` with ALL ``nbins`` rows present — empty bins carry
    ``cnt=0``/``pdf=0.0``, matching ``np.histogram``'s dense bin axis.
    Single shuffle of ≤nbins keys after a map-side combine; range
    bounds (when derived) ride in via a broadcast cross join of a
    one-row aggregate, never a driver collect.
    """
    spark = df.sparkSession
    if lo is None or hi is None:
        bounds = df.agg(F.min(col).cast("double").alias("__lo"), F.max(col).cast("double").alias("__hi"))
    else:
        bounds = spark.range(1).select(
            F.lit(float(lo)).alias("__lo"), F.lit(float(hi)).alias("__hi")
        )
    # degenerate range (all values equal, or caller passed lo == hi):
    # expand by ±0.5 exactly as np.histogram does — ANSI mode would
    # otherwise throw DIVIDE_BY_ZERO on the zero bin width
    span_ok = F.col("__hi") > F.col("__lo")
    bounds = bounds.select(
        F.when(span_ok, F.col("__lo")).otherwise(F.col("__lo") - 0.5).alias("__lo"),
        F.when(span_ok, F.col("__hi")).otherwise(F.col("__hi") + 0.5).alias("__hi"),
    )

    src = df.crossJoin(F.broadcast(bounds))
    lo_c, hi_c = F.col("__lo"), F.col("__hi")
    width = (hi_c - lo_c) / nbins
    raw_bin = F.floor((F.col(col) - lo_c) / width)
    bin_idx = F.least(raw_bin, F.lit(nbins - 1)).cast("int")  # right-closed last bin
    counts = (
        src.filter(F.col(col).between(lo_c, hi_c))
        .select(bin_idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Dense bin axis: every bin 0..nbins-1 appears even when empty.
    axis = (
        spark.range(nbins)
        .select(F.col("id").cast("int").alias("bin"))
        .crossJoin(F.broadcast(bounds))
    )
    dense = axis.join(counts, "bin", "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0).cast("bigint"))
    )
    total = Window.partitionBy()  # ≤nbins rows at this point — bounded
    out = dense.select(
        "bin",
        (lo_c + F.col("bin") * width).alias("bin_lo"),
        (lo_c + (F.col("bin") + 1) * width).alias("bin_hi"),
        "cnt",
        (
            # empty input → total 0 → pdf 0.0 (ANSI would throw on 0/0)
            F.when(
                F.sum("cnt").over(total) > 0,
                F.col("cnt") / (F.sum("cnt").over(total) * width),
            ).otherwise(F.lit(0.0))
            if density
            else F.lit(None).cast("double")
        ).alias("pdf"),
    )
    return out


def trapz(
    df: DataFrame,
    x_col: str,
    f_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """A8: trapezoidal integration ``∫ f dx`` over a (possibly
    irregular) grid: ``Σ (xᵢ−xᵢ₋₁)·(fᵢ+fᵢ₋₁)/2`` via a lag window
    (np.trapz, BigDataQualityAssessment_ActiveSampling.py:219).

    With ``group_cols`` the window partitions by series — fully
    parallel across series. Ungrouped use is reserved for grid-sized
    frames (≤4096 rows by construction)."""
    w = Window.partitionBy(*(group_cols or [])).orderBy(x_col)
    seg = (F.col(x_col) - F.lag(x_col).over(w)) * (F.col(f_col) + F.lag(f_col).over(w)) / 2.0
    segs = df.withColumn("__seg", seg)
    if group_cols:
        return segs.groupBy(*group_cols).agg(F.sum("__seg").alias("integral"))
    return segs.agg(F.sum("__seg").alias("integral"))


def grid_nint(df: DataFrame, f_col: str, axis_cols: list[str]) -> DataFrame:
    """A9: iterated trapezoidal integration of ``f`` over an N-D
    lattice (core/utils.py:43-52): integrate one axis per pass,
    grouping by the remaining axes."""
    cur = df.select(*axis_cols, F.col(f_col).alias("__f"))
    remaining = list(axis_cols)
    while remaining:
        axis = remaining.pop()  # innermost axis first, like grid_nint
        if remaining:
            cur = trapz(cur, axis, "__f", group_cols=remaining).withColumnRenamed(
                "integral", "__f"
            )
        else:
            cur = trapz(cur, axis, "__f")
    return cur


def _scott(n: Column, sd: Column) -> Column:
    """Scott's rule ``n^(-1/5)·σ`` over a row count and a sample std,
    with ``custom_KDE``'s floor: any ``bw < 1e-8`` (including NULL/NaN
    fallout) becomes 1.0 (core/utils.py:108-119)."""
    raw = F.pow(n.cast("double"), F.lit(-0.2)) * sd
    return F.when(F.coalesce(raw, F.lit(0.0)) >= 1e-8, raw).otherwise(F.lit(1.0))


def scott_bandwidth(df: DataFrame, col: str) -> DataFrame:
    """A11 helper: Scott's-rule bandwidth with the reference's
    floor/fallback to 1.0 when the data is degenerate (``_scott``).
    ``scipy.stats.gaussian_kde`` computes the data covariance with
    ``bias=False`` (ddof=1) ⇒ SAMPLE std here, over count(*) rows.
    One-row frame ``(bw DOUBLE)``."""
    return df.agg(_scott(F.count(F.lit(1)), F.stddev_samp(col)).alias("bw"))


def kde_1d(
    df: DataFrame,
    col: str,
    bw: float | str | DataFrame,
    ngrid: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
    pad: float = 0.01,
    weight_col: str | None = None,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """A11: Gaussian-kernel KDE of one column on a uniform ``ngrid``
    grid — ``kde_1d_multi`` with a single spec (linear binning + grid
    convolution, the relational FFTKDE of core/utils.py:105-120).
    Returns ``density(node INT, grid_x DOUBLE, pdf DOUBLE)`` with
    ∫pdf dx ≈ 1.

    ``bw``: float, ``"scott"`` (``scott_bandwidth``'s rule, the
    reference's default) or a one-row ``bw`` frame. Grid bounds: a
    one-row ``lo``/``hi`` ``bounds`` frame (A13 shares the joint
    pred+truth range this way,
    BigDataQualityAssessment_ActiveSampling.py:201-205) wins over
    ``lo``/``hi`` floats, which fold in as literals; with neither, the
    data range padded ``pad`` per side. ``weight_col`` weights each
    row; rows with a NULL value or weight bin nothing, so an all-NULL
    value or weight column yields 0 rows, like an empty input (an
    all-NULL ``weight_col`` gave ``ngrid`` rows of NULL ``pdf`` before
    ``kde_1d`` went through ``kde_1d_multi``).

    What runs at call time and when the grid is computed: see
    ``kde_1d_multi`` (one lazy barrier on the binned grid) and
    ``session.barrier``.
    """
    spec = {"tag": "kde", "col": col, "bw": bw, "weight_col": weight_col}
    if bounds is not None:
        spec["bounds"] = bounds
    elif lo is not None and hi is not None:
        spec["bounds"] = (lo, hi)
    return kde_1d_multi(df, [spec], ngrid=ngrid, pad=pad)["kde"]


def kde_1d_pair(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bw: float | str | DataFrame,
    ngrid: int = 1024,
    bounds: DataFrame | None = None,
    pad: float = 0.01,
) -> tuple[DataFrame, DataFrame]:
    """A11 (fused): two KDEs over the SAME frame and evaluation grid in
    ONE data scan + ONE shuffle — the A13 log-pdf-error shape, where
    the reference KDEs both the predicted and the true target over a
    shared grid (BigDataQualityAssessment_ActiveSampling.py:199-207).

    ``kde_1d`` twice costs two full passes over the pool (two scans,
    two ≤ngrid-key shuffles); fused, both series bin in one tagged
    pass — see ``kde_1d_multi``, of which this is the two-series
    special case (shared joint-range grid, no predicates). The
    single-exchange contract is pinned by a plan assertion in
    tests/test_density.py. At 100 TB this halves the per-iteration
    metric cost of the §3.1 loop.

    ``bw``: float, ``"scott"`` (per-series Scott auto-bandwidth, folded
    into the same one-row aggregate as bounds derivation — no extra
    pass; the reference's default, core/utils.py:108-119), or a
    one-row ``bw`` frame shared by both series.

    ``bounds``: optional one-row ``lo``/``hi`` frame (the loop passes
    the joint pred+truth range); defaults to the joint range of the two
    columns padded ``pad``, derived lazily like ``kde_1d``.
    """
    shared: dict = (
        {"range_cols": [col_a, col_b]} if bounds is None else {"bounds": bounds}
    )
    grids = kde_1d_multi(
        df,
        [
            {"tag": "a", "col": col_a, "bw": bw, **shared},
            {"tag": "b", "col": col_b, "bw": bw, **shared},
        ],
        ngrid=ngrid,
        pad=pad,
    )
    return grids["a"], grids["b"]


def kde_1d_multi(
    df: DataFrame,
    specs: list[dict],
    ngrid: int = 1024,
    pad: float = 0.01,
) -> dict[str, DataFrame]:
    """A11 (fused, N-way): any number of KDEs over the SAME frame in
    ONE data scan, ONE (tag, node) shuffle, and ONE plan barrier — the
    generalization of ``kde_1d_pair`` that also admits per-series row
    predicates and per-series evaluation ranges — e.g. the three
    densities one §3.1 iteration needs: pred + truth on a shared
    joint-range grid (A13,
    BigDataQualityAssessment_ActiveSampling.py:199-207) and the
    us_lw/us_lgw pool density of the predicted means over the current
    candidates (core/likelihood.py:53-58). Unfused that is 3 pool
    passes and 3 barrier plan-compilations; fused it is one of each.
    ``kde_1d_multi_local`` is the driver-finished twin (same specs).

    ``specs``: ordered list of dicts with keys
      * ``tag`` (str, unique) — names the output grid;
      * ``col`` (str) — the value column to density-estimate;
      * ``bw`` (float | ``"scott"`` | DataFrame) — Gaussian kernel
        bandwidth. ``"scott"`` computes the per-series Scott
        auto-bandwidth ``n^(-1/5)·σ`` (sample std, 1.0 degenerate
        floor — ``scott_bandwidth``'s exact rule, the reference's
        default, core/utils.py:108-119) over this series'
        predicate-filtered rows (count(*) semantics, matching
        ``scott_bandwidth``), FOLDED into the same one-row aggregate
        that derives grid bounds — when at least one spec derives its
        bounds internally, auto-bandwidth costs no extra pass; when
        ALL bounds are external the scott aggregate is its own one-row
        pass over ``df`` (still lazy, rides the broadcast). A one-row
        ``bw`` frame rides the broadcast lazily like external bounds;
      * ``where`` (Column, optional) — row predicate restricting this
        series (rows failing it contribute nothing, exactly as if the
        frame were pre-filtered);
      * ``weight_col`` (str, optional) — per-row weight column for this
        series (the reference's ``weights=fx`` path,
        core/likelihood.py:51), applied to both linear-binning
        contributions;
      * ``range_cols`` (list[str], optional, default ``[col]``) —
        columns whose (predicate-filtered) joint min/max define this
        series' grid bounds, padded ``pad`` per side (giving two specs
        the same ``range_cols`` puts them on an identical grid);
      * ``bounds`` (DataFrame or (lo, hi) floats, optional) — external
        bounds overriding range derivation. A one-row lo/hi FRAME stays
        lazy and rides the broadcast; a PLAIN ``(lo, hi)`` tuple folds
        in as literals (round-15): no bounds aggregate, and when every
        spec is literal-bounded with a float ``bw`` the broadcast
        cross-join disappears from the plan entirely — the barrier's
        call-time work shrinks to the binning map stage alone.

    All internal ranges fold into a single one-row aggregate over
    ``df``, so bounds derivation adds no extra pass. Returns
    ``{tag: density(node INT, grid_x DOUBLE, pdf DOUBLE)}``.
    """
    spark = df.sparkSession
    # The KDE family's one barrier, lazy (call-time cost: see
    # session.barrier). It keeps the per-tag filters from pushing below
    # the aggregate into N source scans, and it is the only
    # physical-plan compilation the N densities pay. Every grid reads
    # the stored ≤ngrid rows per tag, so a reference to a grid re-runs
    # only its ≤ngrid² convolution, never the O(data) binning pass.
    binned = barrier(_kde_binned(df, specs, ngrid, pad), lazy=True)

    grid = spark.range(ngrid).select(F.col("id").cast("int").alias("eval_node"))
    norm_const = 1.0 / (F.col("__bw") * math.sqrt(2.0 * math.pi))
    kernel = F.exp(
        -0.5
        * F.pow((F.col("eval_node") - F.col("node")) * F.col("__dx") / F.col("__bw"), 2)
    ) * norm_const

    def _convolve(tag: str) -> DataFrame:
        one = binned.filter(F.col("tag") == tag).drop("tag")
        return (
            grid.join(F.broadcast(one), F.lit(True))
            .groupBy("eval_node")
            .agg(
                F.sum(kernel * F.col("w")).alias("kw_sum"),
                F.sum("w").alias("w_tot"),
                F.first("__lo").alias("__lo"),
                F.first("__dx").alias("__dx"),
            )
            .select(
                F.col("eval_node").alias("node"),
                (F.col("__lo") + F.col("eval_node") * F.col("__dx")).alias("grid_x"),
                (F.col("kw_sum") / F.col("w_tot")).alias("pdf"),
            )
        )

    return {s["tag"]: _convolve(s["tag"]) for s in specs}


def _kde_binned(
    df: DataFrame,
    specs: list[dict],
    ngrid: int,
    pad: float,
    sums: dict[str, Column] | None = None,
) -> DataFrame:
    """The linear-binning aggregate of ``kde_1d_multi`` (specs, bounds
    and bandwidth rules as documented there): ``(tag, node, w, __lo,
    __dx, __bw)``, ≤ ngrid rows per tag. Each ``sums`` entry adds a
    two-node series — node 0 sums the column's non-NULL values, node 1
    counts them."""
    sums = sums or {}
    tags = [s["tag"] for s in specs]
    if len(set(tags) | set(sums)) != len(tags) + len(sums):
        raise ValueError(f"duplicate tags in specs: {tags + list(sums)}")

    def _masked(s: dict, c: str) -> Column:
        w = s.get("where")
        return F.when(w, F.col(c)) if w is not None else F.col(c)

    # per-tag column sources: names resolved off the broadcast frame
    # ``b`` by default; literal-bounds tags (and float bandwidths)
    # resolve to F.lit instead, so a fully-literal spec list never
    # builds ``b`` at all (round-15 — drops the bounds aggregate AND
    # the broadcast cross-join from the plan)
    ref: dict[str, Column] = {}

    def _ref(name: str) -> Column:
        return ref.get(name, F.col(name))

    # every derived range and Scott bandwidth is one column of ONE
    # one-row aggregate over ``df``; external frames cross-join onto it
    aggs: list[Column] = []
    frames: list[DataFrame] = []
    for s in specs:
        t, bounds, bw = s["tag"], s.get("bounds"), s["bw"]
        if bounds is None:
            rng = s.get("range_cols", [s["col"]])
            mins = [F.min(_masked(s, c)).cast("double") for c in rng]
            maxs = [F.max(_masked(s, c)).cast("double") for c in rng]
            mn = mins[0] if len(mins) == 1 else F.least(*mins)
            mx = maxs[0] if len(maxs) == 1 else F.greatest(*maxs)
            span = F.when(mx - mn > 0, mx - mn).otherwise(F.lit(1.0))
            aggs.append((mn - pad * span).alias(f"__lo_{t}"))
            aggs.append((mx + pad * span).alias(f"__hi_{t}"))
        elif isinstance(bounds, DataFrame):
            frames.append(bounds.select(
                F.col("lo").cast("double").alias(f"__lo_{t}"),
                F.col("hi").cast("double").alias(f"__hi_{t}"),
            ))
        else:
            lo, hi = bounds
            ref[f"__lo_{t}"] = F.lit(float(lo))
            ref[f"__hi_{t}"] = F.lit(float(hi))
            # same IEEE double arithmetic the Catalyst dx expression
            # performs — bit-identical grid spacing
            ref[f"__dx_{t}"] = F.lit((float(hi) - float(lo)) / (ngrid - 1))
        if isinstance(bw, DataFrame):
            frames.append(bw.select(F.col("bw").cast("double").alias(f"__bw_{t}")))
        elif isinstance(bw, str):
            if bw != "scott":
                raise ValueError(f"bw must be a float, DataFrame, or 'scott'; got {bw!r}")
            # count(*) semantics over the predicate-passing rows (NOT
            # non-null count) — scott_bandwidth and the SQL oracle both
            # use total row count, and the two differ on null-bearing
            # columns
            w = s.get("where")
            n = F.count(F.when(w, 1)) if w is not None else F.count(F.lit(1))
            sd = F.stddev_samp(_masked(s, s["col"]))
            aggs.append(_scott(n, sd).alias(f"__bw_{t}"))
        else:
            ref[f"__bw_{t}"] = F.lit(float(bw))
    b: DataFrame | None = df.agg(*aggs) if aggs else None
    for f in frames:
        b = f if b is None else b.crossJoin(F.broadcast(f))
    for t in tags:
        if f"__dx_{t}" not in ref:
            b = b.withColumn(
                f"__dx_{t}", (_ref(f"__hi_{t}") - _ref(f"__lo_{t}")) / (ngrid - 1)
            )

    arrays = []
    for s in specs:
        t = s["tag"]
        pos = (F.col(s["col"]) - _ref(f"__lo_{t}")) / _ref(f"__dx_{t}")
        node0 = F.floor(pos).cast("int")
        frac = pos - F.floor(pos)
        w0: Column = 1.0 - frac
        w1: Column = frac
        if s.get("weight_col"):
            w0, w1 = w0 * F.col(s["weight_col"]), w1 * F.col(s["weight_col"])
        if s.get("where") is not None:
            w0, w1 = F.when(s["where"], w0), F.when(s["where"], w1)

        def _mk(node: Column, w: Column, t: str = t) -> Column:
            return F.struct(
                F.lit(t).alias("tag"),
                node.alias("node"),
                w.alias("w"),
                _ref(f"__lo_{t}").alias("lo"),
                _ref(f"__dx_{t}").alias("dx"),
                _ref(f"__bw_{t}").alias("kbw"),
            )

        arrays.append(F.array(_mk(node0, w0), _mk(node0 + 1, w1)))
    none = F.lit(None).cast("double")
    for t, v in sums.items():
        arrays.append(F.array(*(
            F.struct(F.lit(t).alias("tag"), F.lit(i).alias("node"), w.alias("w"),
                     none.alias("lo"), none.alias("dx"), none.alias("kbw"))
            for i, w in enumerate((v.cast("double"), F.when(v.isNotNull(), 1.0)))
        )))

    contrib = (
        (df if b is None else df.crossJoin(F.broadcast(b)))
        .select(F.explode(F.concat(*arrays)).alias("c"))
        .filter(F.col("c.w").isNotNull())
        .select(
            F.col("c.tag").alias("tag"),
            F.least(F.greatest(F.col("c.node"), F.lit(0)), F.lit(ngrid - 1)).alias(
                "node"
            ),
            F.col("c.w").alias("w"),
            F.col("c.lo").alias("__lo"),
            F.col("c.dx").alias("__dx"),
            F.col("c.kbw").alias("__bw"),
        )
    )
    return contrib.groupBy("tag", "node").agg(
        F.sum("w").alias("w"),
        F.first("__lo").alias("__lo"),
        F.first("__dx").alias("__dx"),
        F.first("__bw").alias("__bw"),
    )


def kde_1d_multi_local(
    df: DataFrame,
    specs: list[dict],
    ngrid: int,
    sums: dict[str, Column] | None = None,
) -> tuple[dict[str, tuple[np.ndarray, np.ndarray]], dict[str, tuple[float | None, int]]]:
    """``kde_1d_multi`` finished on the driver: the same binning
    aggregate (same ``specs`` contract, bounds and bandwidth rules, at
    ``kde_1d_multi``'s default ``pad``) is collected in ONE job — ≤
    ``len(specs)·ngrid`` rows — and the Gaussian convolution runs in
    numpy against the 2·ngrid−1 kernel offsets. For driver-side
    consumers (the §3.1 loop): no grid barrier and no per-tag
    convolution broadcast, and the grids go on as literals
    (``interp_uniform_grid``, ``log_pdf_error_local``).

    ``sums``: name → Column, each riding the same aggregate as an extra
    series and returned as ``(Σ non-NULL values, their count)`` — the
    parts of ``avg``, summed in the aggregate's deterministic order.

    Returns ``({tag: (grid_x, pdf)}, {name: (total, count)})``. A
    series that binned nothing gets two empty arrays (the SQL grid is
    an empty frame), a sum over no values ``(None, 0)``.
    """
    by_tag: dict[str, dict] = {}
    for r in _kde_binned(df, specs, ngrid, 0.01, sums).collect():
        by_tag.setdefault(r["tag"], {})[r["node"]] = r
    grids = {}
    for s in specs:
        rows = by_tag.get(s["tag"])
        if not rows:
            grids[s["tag"]] = (np.empty(0), np.empty(0))
            continue
        r0 = next(iter(rows.values()))
        lo, dx, bw = r0["__lo"], r0["__dx"], r0["__bw"]
        w = np.zeros(ngrid)
        w[list(rows)] = [r["w"] for r in rows.values()]
        # the SQL kernel's double ops, once per node offset
        kern = np.exp(-0.5 * (np.arange(1 - ngrid, ngrid) * dx / bw) ** 2) * (
            1.0 / (bw * math.sqrt(2.0 * math.pi))
        )
        pdf = np.convolve(w, kern)[ngrid - 1 : 2 * ngrid - 1] / w.sum()
        grids[s["tag"]] = (lo + np.arange(ngrid) * dx, pdf)
    totals = {}
    for t in sums or {}:
        rows = by_tag.get(t)  # nodes 0 and 1 bin the same non-NULL rows
        totals[t] = (rows[0]["w"], int(rows[1]["w"])) if rows else (None, 0)
    return grids, totals


def interp_uniform_grid(
    queries: DataFrame,
    grid: DataFrame | tuple[np.ndarray, np.ndarray],
    q_col: str,
    grid_x_col: str = "grid_x",
    grid_f_col: str = "pdf",
    node_col: str = "node",
    out_col: str = "interp",
    deriv_col: str | None = None,
) -> DataFrame:
    """J3 (fast path): ``np.interp`` against a UNIFORM grid — bracket
    index is computed arithmetically, then the two bracketing values
    are fetched from the grid's node-ordered value array. No join, no
    range join, no sort; O(data) and shuffle-free at any query count.

    Out-of-range queries clamp to the boundary values, matching
    np.interp. The grid frame must carry an integer ``node`` column
    (0..g-1) and uniform ``grid_x`` spacing — exactly what ``kde_1d``
    emits. ``grid`` may instead be a driver-side ``(grid_x, f)`` pair of
    node-ordered arrays (``kde_1d_multi_local``'s output): the bounds
    and value array then fold into the plan as literals — no aggregate,
    no broadcast.

    ``deriv_col``: additionally emit the first derivative of the
    piecewise-linear interpolant — the segment slope ``(f1−f0)/dx`` —
    matching ``InterpolatedUnivariateSpline(k=1).derivative()``
    (core/likelihood.py:73: ``fy_jac`` for the us_lgw weight), which
    is piecewise-constant and extrapolates with the edge segment's
    slope.

    Plan shape (round-16): ONE one-row aggregate over the grid packs
    bounds AND the node-ordered f-array into a single broadcast
    (``(lo, hi, nmax, farr)``); each query row then fetches its two
    bracketing values by array index (``F.get`` — 0-based, NULL out of
    range). The previous shape was three broadcasts per call (a bounds
    aggregate + two bracket hash joins), i.e. three broadcast builds
    and two join probes per query row where one ≤32 KB array lookup
    suffices — the grid is ≤4096 rows by the kde contract. Values are
    bit-identical: same bounds arithmetic, same f values, same clamp
    sequence (oracle-pinned via j3_interp / p14_p17 / the m4 loop
    golden). Degenerate inputs degrade exactly as the join path did —
    rows preserved; NULL queries clamp to node 0's value (both paths:
    ``greatest(NULL, 0)`` selects 0 for the bracket index and 0.0 for
    the fraction); empty grids yield NULL out/deriv columns.
    """
    if isinstance(grid, DataFrame):
        g = grid.select(
            F.col(node_col).alias("__n"),
            F.col(grid_x_col).alias("__gx"),
            F.col(grid_f_col).alias("__gf"),
        )
        packed = g.agg(
            F.min("__gx").alias("__lo"),
            F.max("__gx").alias("__hi"),
            F.max("__n").alias("__nmax"),
            # collect_list is order-nondeterministic; the struct sort
            # re-establishes node order (nodes are distinct by contract)
            F.transform(
                F.array_sort(F.collect_list(F.struct("__n", "__gf"))),
                lambda s: s["__gf"],
            ).alias("__farr"),
        )
        q = queries.crossJoin(F.broadcast(packed))
        lo, hi, nmax, farr = (F.col(c) for c in ("__lo", "__hi", "__nmax", "__farr"))
    else:
        gx, gf = grid
        q, n = queries, len(gx)
        # an empty grid leaves all three NULL, as the empty aggregate does
        lo = F.lit(float(gx[0]) if n else None).cast("double")
        hi = F.lit(float(gx[-1]) if n else None).cast("double")
        nmax = F.lit(n - 1 if n else None).cast("int")
        farr = F.lit(np.asarray(gf, dtype="float64"))
    dx = (hi - lo) / nmax
    pos = (F.col(q_col) - lo) / dx
    idx = F.least(F.greatest(F.floor(pos), F.lit(0)), nmax - 1).cast("int")
    f0 = F.get(farr, idx)
    f1 = F.get(farr, idx + 1)
    frac_clamped = F.least(F.greatest(pos - idx, F.lit(0.0)), F.lit(1.0))
    val = f0 + (f1 - f0) * frac_clamped
    out = q.withColumn(out_col, val)
    if deriv_col is not None:
        out = out.withColumn(deriv_col, (f1 - f0) / dx)
    return out.drop("__lo", "__hi", "__nmax", "__farr")


def interp_linear(
    queries: DataFrame,
    grid: DataFrame,
    q_col: str,
    grid_x_col: str,
    grid_f_col: str,
    out_col: str = "interp",
) -> DataFrame:
    """J3 (general path): ``np.interp`` against an ARBITRARY sorted
    grid — a broadcast range join on the ``lead()``-augmented grid.
    Correct for irregular grids; prefer ``interp_uniform_grid`` when
    the spacing is uniform (it avoids the nested-loop join)."""
    w = Window.orderBy(grid_x_col)
    aug = grid.select(
        F.col(grid_x_col).alias("__x0"),
        F.col(grid_f_col).alias("__f0"),
        F.lead(grid_x_col).over(w).alias("__x1"),
        F.lead(grid_f_col).over(w).alias("__f1"),
        F.min(grid_x_col).over(Window.partitionBy()).alias("__xmin"),
    )
    q = queries
    cond = (
        # interior bracket [x0, x1)
        ((F.col(q_col) >= F.col("__x0")) & (F.col(q_col) < F.col("__x1")))
        # above range: clamp to the last grid row
        | (F.col("__x1").isNull() & (F.col(q_col) >= F.col("__x0")))
        # below range: clamp to the first grid row
        | ((F.col(q_col) < F.col("__xmin")) & (F.col("__x0") == F.col("__xmin")))
    )
    joined = q.join(F.broadcast(aug), cond, "inner")
    val = (
        F.when(F.col("__x1").isNull() | (F.col(q_col) < F.col("__x0")), F.col("__f0"))
        .otherwise(
            F.col("__f0")
            + (F.col("__f1") - F.col("__f0"))
            * (F.col(q_col) - F.col("__x0"))
            / (F.col("__x1") - F.col("__x0"))
        )
    )
    return joined.withColumn(out_col, val).drop("__x0", "__f0", "__x1", "__f1", "__xmin")


def log_pdf_error(
    pdf_a: DataFrame,
    pdf_b: DataFrame,
    x_col: str = "grid_x",
    f_col: str = "pdf",
    floor: float = -6.0,
) -> DataFrame:
    """A13: ``∫ |clip(log p̂) − clip(log p)| dx`` over a SHARED grid —
    the reference's convergence metric
    (BigDataQualityAssessment_ActiveSampling.py:199-219, README.md:168-170).

    Both inputs are grid-sized density frames (from ``kde_1d`` on the
    same bounds); joined on the grid axis, clipped logs (P9), finite
    filter (P10), trapezoid sum (A8). Returns one row
    ``(log_pdf_error DOUBLE)``."""
    a = pdf_a.select(F.col(x_col).alias("x"), F.col(f_col).alias("fa"))
    b = pdf_b.select(F.col(x_col).alias("x"), F.col(f_col).alias("fb"))
    # Densities are floored at 1e-300 before the log: np.log(0) → -inf
    # clips to the floor anyway, and engines disagree on ln(0) (Spark
    # null, DuckDB error) — the tiny positive floor makes P9 yield the
    # clip value deterministically on every engine.
    diff = (
        a.join(b, "x")
        .select(
            "x",
            F.abs(
                F.greatest(F.log(F.greatest("fa", F.lit(1e-300))), F.lit(floor))
                - F.greatest(F.log(F.greatest("fb", F.lit(1e-300))), F.lit(floor))
            ).alias("d"),
        )
        .filter(~F.isnan("d") & F.col("d").isNotNull())
    )
    return trapz(diff, "x", "d").withColumnRenamed("integral", "log_pdf_error")


def log_pdf_error_local(
    grid_a: tuple[np.ndarray, np.ndarray],
    grid_b: tuple[np.ndarray, np.ndarray],
    floor: float = -6.0,
) -> float | None:
    """A13 on two driver grids over ONE shared axis (``kde_1d_multi_local``
    output): ``log_pdf_error``'s clipped-log difference, NaN filter and
    trapezoid in numpy. ``None`` where the SQL metric is NULL — fewer
    than two grid points, or one series empty (its join is empty)."""
    x, fa = grid_a
    fb = grid_b[1]
    if len(fa) != len(fb):
        return None
    d = np.abs(
        np.maximum(np.log(np.maximum(fa, 1e-300)), floor)
        - np.maximum(np.log(np.maximum(fb, 1e-300)), floor)
    )
    keep = ~np.isnan(d)
    x, d = x[keep], d[keep]
    if len(x) < 2:
        return None
    return float(np.sum(np.diff(x) * (d[1:] + d[:-1]) / 2.0))
