"""The headline queries: one body each, shared by ``bench.py`` (which
times them) and ``tools/dump_plans.py`` (which dumps their plans).

Every entry of ``HEADLINE`` takes ``(spark, sf_dir)`` and returns a
``Query``: the final DataFrame plus the action run on it. Building may
already run Spark jobs — the flagship's eager barrier,
``ensemble_scoring``'s cache fill, ``active_loop_3iter``'s driver
loop — because those are part of what the benchmark times (a sample
is build + ``Query.run``). So the frame a dump explains is exactly the
frame the benchmark acts on.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loop import active_sampling_loop
from .operators.asof import asof_join, time_rollup
from .operators.density import histogram, interp_uniform_grid, kde_1d
from .operators.models import predict_ensemble_stats, train_ensemble
from .operators.profiling import profile_table
from .operators.score import acquisition_us_lw, ensemble_stats, regression_metrics
from .operators.select import argmax, top_k
from .operators.similarity import knn_brute_force
from .operators.text import near_dedup_minhash
from .operators.windows import horizon_abs_error, sliding_windows
from .session import barrier
from .sources.generators import grid_points_2d, stub_predictions
from .sources.tables import load_table
from .streaming.aggregates import session_metrics, with_event_time


@dataclass(frozen=True)
class Query:
    """A built headline query: ``frame.<action>()`` is its result, and
    ``cached`` lists the frames its build cached, released after the
    action."""

    frame: DataFrame
    action: str = "collect"
    cached: tuple[DataFrame, ...] = ()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()

    def run(self):
        out = getattr(self.frame, self.action)()
        self.release()
        return out


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem as a two-feature regression pool
    ``(point_id, x1, x2, y)``."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.log("l_extendedprice").alias("y"),
    )


def flagship_us_lw(spark: SparkSession, sf_dir: str) -> Query:
    """M2(stub)→A5/A6→A11→J3→P15→T2 over the full lineitem pool.

    ``scored`` feeds THREE consumers — the KDE bounds aggregate, the
    KDE binning pass, and the interp query side — and each as a
    separate subtree re-executes the scan + model crossJoin + 600k-key
    stats shuffle. A localCheckpoint makes it one execution read by all
    three (measured sf0.1 3.19 s → 2.21 s median, same top-20 ids, grid
    pdf differs at 1 ulp from partial-sum order). The barrier is EAGER:
    a lazy one let the three consumers race the cold blocks inside the
    one collect job (per-partition cache semantics recompute what a
    concurrent reader finds unmaterialized), measured at sf10 as a
    31.9–160 s spread on identical passes; eager vs lazy read sf10 50.1
    vs 67.8 s median and sf0.1 2.41 vs 2.66 s. (``.cache()`` here
    measured 2× slower than recompute; the checkpoint differs: it
    truncates lineage, so each consumer analyzes a two-node plan.)"""
    pts = points(spark, sf_dir)
    # carry point columns through the stats groupBy (F.first per unique
    # key) — one shuffle, no join-back exchange of the pool
    carry = ["x1", "x2", "y"]
    scored = barrier(
        ensemble_stats(stub_predictions(pts, 2, carry_cols=carry), carry_cols=carry)
    )
    grid = kde_1d(scored, "y_mean", bw=0.1, ngrid=256)
    with_fy = interp_uniform_grid(scored, grid, q_col="y_mean", out_col="pdf_y_mean")
    acq = with_fy.withColumn("acq", acquisition_us_lw(with_fy))
    return Query(top_k(acq, "acq", 20))


def ensemble_scoring(spark: SparkSession, sf_dir: str) -> Query:
    """M1 train (poly ridge, driver fit) + M2 Catalyst inference over
    the full pool + A5/A6 reduction + A1-A3 metrics + T1 argmax."""
    pts = points(spark, sf_dir)
    train = pts.filter(F.col("point_id") % 997 == 0)
    thetas = train_ensemble(train, ["x1", "x2"], "y", n_models=2, seed=42)
    scored = predict_ensemble_stats(
        pts, thetas, ["x1", "x2"], carry_cols=["x1", "x2", "y"]
    ).withColumn(
        "se", (F.col("y_mean") - F.col("y")) * (F.col("y_mean") - F.col("y"))
    ).cache()
    # one inference pass, pinned by an explicit materialization;
    # metrics + argmax then fuse into a single job over the cache (two
    # separate actions would each re-run the 600k-row predict)
    scored.count()
    frame = regression_metrics(scored, "y_mean", "y", "y_var").crossJoin(
        argmax(scored, "se")
    )
    return Query(frame, cached=(scored,))


def kde_events(spark: SparkSession, sf_dir: str) -> Query:
    ev = load_table(spark, "events", sf_dir)
    return Query(kde_1d(ev, "value", bw=20.0, ngrid=1024, lo=0.0, hi=500.0))


def histogram_price(spark: SparkSession, sf_dir: str) -> Query:
    li = load_table(spark, "lineitem", sf_dir)
    return Query(histogram(li, "l_extendedprice", nbins=50))


def topk(spark: SparkSession, sf_dir: str) -> Query:
    li = load_table(spark, "lineitem", sf_dir)
    li = li.withColumn("lid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    return Query(top_k(li, "l_extendedprice", 100, id_col="lid"))


def profile(spark: SparkSession, sf_dir: str) -> Query:
    li = load_table(spark, "lineitem", sf_dir)
    return Query(profile_table(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]
    ))


def sliding(spark: SparkSession, sf_dir: str) -> Query:
    ev = load_table(spark, "events", sf_dir)
    w = sliding_windows(
        ev, "event_id", "value", history=10, prediction=5, group_cols=["user_id"]
    )
    w = w.withColumn("pred", F.slice(F.col("history"), 6, 5))
    return Query(horizon_abs_error(w, pred_col="pred").agg(F.avg("horizon_err")))


def near_dedup(spark: SparkSession, sf_dir: str) -> Query:
    docs = load_table(spark, "documents", sf_dir)
    return Query(
        near_dedup_minhash(docs, k=3, n_hashes=128, bands=16, min_jaccard=0.8),
        action="count",
    )


def knn_cosine(spark: SparkSession, sf_dir: str) -> Query:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return Query(knn_brute_force(emb, q, k=10))


def asof(spark: SparkSession, sf_dir: str) -> Query:
    """Point-in-time join: every click -> most recent prior purchase
    per user (union + last-ignorenulls window; ONE key exchange)."""
    ev = load_table(spark, "events", sf_dir).withColumn("ts", F.expr("ts DIV 1000"))
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(left, right, on=["user_id"], ts_col="ts")
    return Query(out.agg(F.count(F.lit(1)), F.sum("purchase_value"), F.max("ts_right")))


def rollup(spark: SparkSession, sf_dir: str) -> Query:
    """Hour/day/total ROLLUP grouping sets in one shuffle."""
    ev = load_table(spark, "events", sf_dir)
    return Query(time_rollup(ev, "ts", "value", levels=(86400, 3600)))


def sessions(spark: SparkSession, sf_dir: str) -> Query:
    """Gap-merged session windows (SessionWindow aggregation; same
    physical operator batch and streaming — withWatermark is a batch
    no-op)."""
    ev = with_event_time(load_table(spark, "events", sf_dir))
    return Query(
        session_metrics(ev, gap="6 hours").agg(F.count(F.lit(1)), F.sum("sum_value"))
    )


def active_loop(spark: SparkSession, sf_dir: str, n_iter: int = 3) -> Query:
    """The active-sampling loop on a cached 100×100 grid (fixed size:
    ``sf_dir`` is unused). The loop runs at build; the action counts
    the final training set."""
    pts = grid_points_2d(spark, 100).cache()
    pts.count()
    res = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=n_iter, n_init=100, n_models=2, ngrid=256, bw=0.1
    )
    return Query(res.train, action="count", cached=(pts,))


HEADLINE: dict[str, Callable[[SparkSession, str], Query]] = {
    "flagship_us_lw": flagship_us_lw,
    "ensemble_scoring": ensemble_scoring,
    "kde_events": kde_events,
    "histogram": histogram_price,
    "topk": topk,
    "profile": profile,
    "sliding_windows": sliding,
    "near_dedup_minhash": near_dedup,
    "knn_cosine": knn_cosine,
    "asof_join": asof,
    "time_rollup": rollup,
    "session_windows": sessions,
    "active_loop_3iter": active_loop,
}
