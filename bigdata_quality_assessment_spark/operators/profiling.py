"""Data-quality profiling suite (engine extension; SURVEY.md §7.4
item 1).

The reference assesses "data quality" by information content; a 100 TB
ingest pipeline also needs the boring-but-critical column profile:
null rates, cardinalities, numeric ranges, and quantiles. Two tiers:

  * ``profile_table`` — EXACT stats (count distinct, min/max/avg,
    exact p50/p95 quantiles, null counts) in one aggregation pass per
    table; oracle-checkable.
  * ``approx_profile`` — sketch-based (``approx_count_distinct`` HLL,
    ``approx_percentile`` KLL/GK) for the scale path where exact
    distinct counts would shuffle the world. Not oracle-comparable
    (different sketch implementations) — verified by bounds tests.

Output is long format ``(column, metric, value DOUBLE)`` so profiles
of any table union/compare cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Exact profile: per column — row count, null count, exact
    distinct count, and for numeric columns min/max/avg and exact
    p50/p95 quantiles.

    ONE non-distinct aggregation plus ONE single-column
    ``countDistinct`` aggregation PER COLUMN, all cross-joined —
    deliberately never a single fused agg: n-column ``countDistinct``
    in one agg plans as an Expand that multiplies every input row
    ×(n+1), and fused with the percentiles those expanded copies ALSO
    stream through the exact-percentile sort buffers (measured ~7×
    slower, sf0.1 lineitem: fused 15–39 s vs 2.3 s + 2.1 s two-pass).
    Round-15 goes one step further and splits the distinct pass
    per column: a SINGLE-column ``countDistinct`` agg needs no Expand
    at all (map-side partial dedup on the one column), each subtree
    scans only its own pruned column (columnar total bytes unchanged
    vs the fused scan), and the n+1 independent subtrees run as
    concurrent stages under the one collect (measured sf0.1: 3.63 s →
    2.49 s median, identical 30-row output; plan: Expand(6) gone).
    The cross-joins are one-row broadcast nested loops — O(1) rows,
    no shuffle of data.

    COLUMNAR-SOURCE ASSUMPTION (round-16, ADVICE r15): the
    "columnar total bytes unchanged" argument for the per-column
    distinct subtrees holds only for column-pruned scans (parquet/
    ORC). On row-oriented sources (CSV/JSON/JDBC) each subtree
    re-reads every row, so the n+1 subtrees are an n-fold read
    amplification — profile a row-oriented source by landing it as
    parquet first, or use ``approx_profile`` (single fused pass, HLL
    sketches). At 100 TB use ``approx_profile`` regardless (exact
    distinct counts and exact sort-based percentiles both shuffle/
    buffer the world).

    Returns ``(column STRING, metric STRING, value DOUBLE)``."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        dtype = df.schema[c].dataType
        aggs.append(F.count(F.lit(1)).alias(f"{c}::n_rows"))
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("double").alias(f"{c}::n_null"))
        if isinstance(dtype, _NUMERIC):
            aggs.append(F.min(c).cast("double").alias(f"{c}::min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}::max"))
            aggs.append(F.avg(c).cast("double").alias(f"{c}::avg"))
            # EXACT linear-interpolated quantiles (sort-based — this is
            # the exact tier; at 100 TB use approx_profile's KLL/GK).
            # One array-percentile per column: p50 and p95 share a
            # single value buffer instead of maintaining two.
            pq = F.percentile(F.col(c), F.array(F.lit(0.5), F.lit(0.95)))
            aggs.append(pq[0].cast("double").alias(f"{c}::p50"))
            aggs.append(pq[1].cast("double").alias(f"{c}::p95"))
    wide = df.agg(*aggs)
    for c in cols:
        wide = wide.crossJoin(
            df.agg(F.countDistinct(c).cast("double").alias(f"{c}::n_distinct"))
        )
    pairs = []
    for field in wide.schema.fields:
        col_name, metric = field.name.split("::", 1)
        pairs.append(
            F.struct(
                F.lit(col_name).alias("column"),
                F.lit(metric).alias("metric"),
                F.col(f"`{field.name}`").cast("double").alias("value"),
            )
        )
    return (
        wide.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.column", "p.metric", "p.value")
    )


def approx_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    rsd: float = 0.05,
) -> DataFrame:
    """Sketch profile for the 100 TB path: HyperLogLog distinct counts
    (``approx_count_distinct``, mergeable, fixed memory) and
    approximate percentiles for numerics. Same long-format output."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        dtype = df.schema[c].dataType
        aggs.append(F.approx_count_distinct(c, rsd).cast("double").alias(f"{c}::approx_distinct"))
        if isinstance(dtype, _NUMERIC):
            for p in percentiles:
                aggs.append(
                    F.percentile_approx(c, p).cast("double").alias(f"{c}::p{int(p * 100)}")
                )
    wide = df.agg(*aggs)
    pairs = []
    for field in wide.schema.fields:
        col_name, metric = field.name.split("::", 1)
        pairs.append(
            F.struct(
                F.lit(col_name).alias("column"),
                F.lit(metric).alias("metric"),
                F.col(f"`{field.name}`").cast("double").alias("value"),
            )
        )
    return (
        wide.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.column", "p.metric", "p.value")
    )


def validity_rates(
    df: DataFrame, rules: dict[str, str]
) -> DataFrame:
    """Regex/predicate validity: ``rules`` maps column → SQL boolean
    expression (e.g. ``"l_quantity BETWEEN 1 AND 50"`` or
    ``"o_orderpriority RLIKE '^[1-5]-'"``); returns the pass rate per
    rule in one pass."""
    aggs = [
        F.avg(F.when(F.expr(expr), 1.0).otherwise(0.0)).alias(f"rule_{i}")
        for i, expr in enumerate(rules.values())
    ]
    wide = df.agg(*aggs)
    pairs = [
        F.struct(
            F.lit(col).alias("column"),
            F.lit(expr).alias("rule"),
            F.col(f"rule_{i}").alias("pass_rate"),
        )
        for i, (col, expr) in enumerate(rules.items())
    ]
    return (
        wide.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.column", "p.rule", "p.pass_rate")
    )


def profile_correlations(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Pairwise Pearson correlations of the numeric columns in ONE
    aggregation pass — the dependency screen of a data profile
    (constant-multiple columns, leaking features, broken joins all
    show up as |corr| ≈ 1). All n·(n−1)/2 ``F.corr`` aggregates fold
    into a single map-side-combined agg: each is a six-scalar
    streaming co-moment, so the pass carries O(n²) scalars per task,
    never data, and the corpus is scanned once regardless of how many
    pairs are requested. Non-numeric columns are skipped. Returns
    ``(col_a, col_b, value)`` with ``col_a < col_b`` in the given
    column order; constant columns yield NULL (zero variance).

    The ratio is assembled from ``covar_samp`` / ``stddev_samp``
    aggregates under an explicit zero-variance guard rather than
    ``F.corr``: Spark 4's ANSI mode makes corr's internal division
    THROW on a constant column (found by the constant-column test) —
    profiling real tables must degrade a degenerate pair to NULL,
    not fail the whole profile."""
    cols = [
        c
        for c in (columns or df.columns)
        if isinstance(df.schema[c].dataType, _NUMERIC)
    ]
    pairs_ab = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pairs_ab:
        return local_frame(
            df.sparkSession, [], "col_a string, col_b string, value double"
        )
    def _corr(a: str, b: str):
        # PAIRWISE-complete semantics (what corr means): every moment
        # is computed over rows where BOTH columns are non-null — a
        # column-complete stddev against a pairwise-complete covar
        # reports a non-correlation (can even leave [-1, 1]) whenever
        # the two columns have different NULL patterns
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        av = F.when(both, F.col(a))
        bv = F.when(both, F.col(b))
        sa, sb = F.stddev_samp(av), F.stddev_samp(bv)
        return F.when((sa > 0) & (sb > 0), F.covar_samp(av, bv) / (sa * sb))

    wide = df.agg(
        *[_corr(a, b).alias(f"{a}::{b}") for a, b in pairs_ab]
    )
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"{a}::{b}").alias("value"),
        )
        for a, b in pairs_ab
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.value"
    )
