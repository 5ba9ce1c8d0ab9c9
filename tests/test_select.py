"""Selection/pool-algebra oracle tests (T1-T5, J1/J2, U1) pinning
numpy tie/order semantics (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.select import (
    argmax,
    dedup,
    middle_match,
    pool_remove,
    top_k,
    train_append,
    weighted_sample_with_replacement,
    weighted_sample_without_replacement,
)


@pytest.fixture(scope="module")
def scored(spark):
    # deliberate ties: score = id % 5
    return spark.createDataFrame(
        [(i, float(i % 5)) for i in range(50)], "point_id BIGINT, score DOUBLE"
    ).cache()


def test_argmax_ties_lowest_id(scored):
    # numpy argmax returns the FIRST maximal index
    arr = np.array([i % 5 for i in range(50)], dtype=float)
    assert argmax(scored, "score").first()["point_id"] == int(np.argmax(arr))


def test_topk_ties_highest_id(scored):
    # numpy argsort is stable ascending; reversed ⇒ ties break to highest index
    arr = np.array([i % 5 for i in range(50)], dtype=float)
    expect = list(np.argsort(arr, kind="stable")[::-1][:7])
    got = [r["point_id"] for r in top_k(scored, "score", 7).collect()]
    assert got == [int(i) for i in expect]


def test_topk_subset_and_size(scored):
    got = top_k(scored, "score", 1000).collect()
    assert len(got) == 50  # k > n clamps


def test_weighted_with_replacement_exact_k(spark):
    df = spark.createDataFrame(
        [(i, 1.0 + (i % 3)) for i in range(20)], "point_id BIGINT, w DOUBLE"
    )
    out = weighted_sample_with_replacement(df, "w", 200, seed=11)
    assert out.count() == 200
    # draws follow weights loosely: heaviest third should dominate
    counts = (
        out.groupBy((F.col("point_id") % 3).alias("g")).count().orderBy("g").collect()
    )
    by_g = {r["g"]: r["count"] for r in counts}
    assert by_g[2] > by_g[0]


def test_weighted_with_replacement_deterministic(spark):
    df = spark.createDataFrame([(i, float(i + 1)) for i in range(10)], "point_id BIGINT, w DOUBLE")
    a = sorted(r["draw_id"] * 100 + r["point_id"] for r in weighted_sample_with_replacement(df, "w", 30, seed=5).collect())
    b = sorted(r["draw_id"] * 100 + r["point_id"] for r in weighted_sample_with_replacement(df, "w", 30, seed=5).collect())
    assert a == b


def test_weighted_without_replacement_distinct(spark):
    df = spark.createDataFrame([(i, float(i + 1)) for i in range(30)], "point_id BIGINT, w DOUBLE")
    rows = weighted_sample_without_replacement(df, "w", 10, seed=3).collect()
    ids = [r["point_id"] for r in rows]
    assert len(ids) == 10 and len(set(ids)) == 10


def test_dedup_idempotent(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k BIGINT, v STRING")
    once = dedup(df)
    assert once.count() == 2
    assert dedup(once).count() == 2


def test_middle_match_numpy_parity(spark):
    # data with known duplicate y values; reference: np.where(y==v)[0][len//2]
    y = np.array([1.0, 2.0, 1.0, 3.0, 1.0, 2.0, 3.0, 1.0])
    data = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(y)], "point_id BIGINT, y DOUBLE"
    )
    vals = spark.createDataFrame([(0, 1.0), (1, 2.0), (2, 1.0)], "draw_id BIGINT, y DOUBLE")
    rows = middle_match(data, vals, on="y").collect()
    assert len(rows) == 3  # one row per draw, multiplicity preserved
    got = {(r["draw_id"], r["point_id"]) for r in rows}
    for draw_id, v in [(0, 1.0), (1, 2.0), (2, 1.0)]:
        idx = np.where(y == v)[0]
        assert (draw_id, int(idx[len(idx) // 2])) in got


def test_pool_conservation(spark):
    pool = spark.createDataFrame([(i, float(i)) for i in range(100)], "point_id BIGINT, y DOUBLE")
    sel = pool.filter(F.col("point_id") % 10 == 0)
    remaining = pool_remove(pool, sel)
    assert remaining.count() + sel.count() == 100
    assert remaining.join(sel, "point_id", "inner").count() == 0
    back = train_append(remaining.select("point_id", "y"), sel.select("point_id", "y"))
    assert back.count() == 100


def test_index_aligned_suffix_and_values(spark):
    from bigdata_quality_assessment_spark.operators.select import index_aligned

    a = spark.createDataFrame([(i, float(i)) for i in range(10)], "point_id BIGINT, v DOUBLE")
    b = spark.createDataFrame(
        [(i, float(i * i)) for i in range(10)], "point_id BIGINT, v DOUBLE"
    )
    out = index_aligned(a, b, id_col="point_id")
    assert set(out.columns) == {"point_id", "v", "v_r"}
    rows = {r["point_id"]: (r["v"], r["v_r"]) for r in out.collect()}
    assert len(rows) == 10
    assert all(rows[i] == (float(i), float(i * i)) for i in range(10))
    # left outer keeps unmatched left rows with nulls on the right
    outer = index_aligned(a, b.filter("point_id < 5"), id_col="point_id", how="left")
    assert outer.filter("v_r IS NULL").count() == 5


def test_salted_join_matches_plain_join(spark):
    from bigdata_quality_assessment_spark.operators.select import salted_join

    # heavy-tailed key: 80% of rows share one key
    big = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 5 != 0, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
    )
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(7)], "k STRING, v DOUBLE"
    )
    got = salted_join(big, small, "k", n_salts=8)
    want = big.join(small, "k")
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("v")).first()[0] == want.agg(F.sum("v")).first()[0]
    )
    # the join key carries the salt (hot key split across reducers)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan


def test_hash_split_deterministic_disjoint_proportional(spark):
    from bigdata_quality_assessment_spark.operators.select import hash_split

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(df, w).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000  # exhaustive + disjoint
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # deterministic: same ids land in the same split after repartition
    b = hash_split(df.repartition(7), w)
    joined = hash_split(df, w).alias("a").join(
        b.alias("b"), "doc_id"
    ).filter(F.col("a.split") != F.col("b.split"))
    assert joined.count() == 0
    # different seed produces a different assignment
    c = hash_split(df, w, seed=99).alias("c").join(
        hash_split(df, w).alias("a2"), "doc_id"
    ).filter(F.col("c.split") != F.col("a2.split"))
    assert c.count() > 0


def test_mixture_sample_hits_target_proportions(spark):
    from bigdata_quality_assessment_spark.operators.select import (
        mixture_rates_for_target,
        mixture_sample,
    )

    rows = [(i, "web" if i % 10 < 7 else ("books" if i % 10 < 9 else "code"))
            for i in range(30_000)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING").cache()
    # corpus is 70/20/10; retarget to 40/40/20
    target = {"web": 0.4, "books": 0.4, "code": 0.2}
    rates = mixture_rates_for_target(df, target)
    # books is binding (20% of corpus must become 40% of output)
    assert rates["books"] == pytest.approx(1.0)
    out = mixture_sample(df, rates).groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in out}
    n = sum(got.values())
    for s, w in target.items():
        assert abs(got[s] / n - w) < 0.02, (s, got)
    # deterministic under repartitioning
    again = mixture_sample(df.repartition(13), rates)
    assert again.count() == n
    ids_a = {r["doc_id"] for r in mixture_sample(df, rates).select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in again.select("doc_id").collect()}
    assert ids_a == ids_b
    # unknown sources are dropped
    assert mixture_sample(df, {"nope": 1.0}).count() == 0
    df.unpersist()


def test_snapshot_upsert(spark):
    from bigdata_quality_assessment_spark.operators.select import snapshot_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    source = spark.createDataFrame(
        [(2, "B", 22.0), (4, "d", 40.0)], "k long, v string, x double"
    )
    out = {r.k: (r.v, r.x) for r in snapshot_upsert(target, source, "k").collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_cdc_last_change_wins(spark):
    from bigdata_quality_assessment_spark.operators.select import apply_cdc

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    changes = spark.createDataFrame(
        [
            # key 2: update then delete -> gone
            (2, "B1", 21.0, 100, "U"),
            (2, "B2", 22.0, 200, "D"),
            # key 3: delete then re-insert -> latest wins
            (3, "c", 30.0, 110, "D"),
            (3, "C2", 33.0, 210, "I"),
            # key 4: two upserts -> max seq wins
            (4, "d1", 40.0, 120, "I"),
            (4, "d2", 44.0, 220, "U"),
        ],
        "k long, v string, x double, seq long, op string",
    )
    out = {r.k: (r.v, r.x) for r in apply_cdc(target, changes, "k").collect()}
    assert out == {1: ("a", 10.0), 3: ("C2", 33.0), 4: ("d2", 44.0)}


def test_apply_cdc_aggregation_is_map_side(spark, monkeypatch):
    """The last-change reduction must be max_by (partial-aggregable),
    not a ranking window over all change rows. Read from the plan of
    the frame ``apply_cdc`` hands to its barrier."""
    from bigdata_quality_assessment_spark.operators import select
    from bigdata_quality_assessment_spark.session import barrier

    plans = []

    def recording(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return barrier(df, *args, **kwargs)

    monkeypatch.setattr(select, "barrier", recording)
    target = spark.createDataFrame([(1, 1.0)], "k long, x double")
    changes = spark.createDataFrame(
        [(1, 2.0, 10, "U")], "k long, x double, seq long, op string"
    )
    select.apply_cdc(target, changes, "k")
    (plan,) = plans
    assert "max_by" in plan
    assert "row_number" not in plan


def test_top_fraction_per_group(spark):
    from bigdata_quality_assessment_spark.operators.select import (
        top_fraction_per_group,
    )

    rows = []
    # group a: 10 rows scores 0..9 ; group b: 4 rows scores 100..103
    for i in range(10):
        rows.append((i, "a", float(i)))
    for i in range(4):
        rows.append((100 + i, "b", 100.0 + i))
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = top_fraction_per_group(df, 0.3, "source", "quality")
    got = {r.source: sorted(r2.doc_id for r2 in out.filter(F.col("source") == r.source).collect())
           for r in out.select("source").distinct().collect()}
    # ceil(10*0.3)=3 best of a; ceil(4*0.3)=2 best of b
    assert got["a"] == [7, 8, 9]
    assert got["b"] == [102, 103]
    # ties break to the LOWER doc_id
    tie = spark.createDataFrame(
        [(1, "c", 5.0), (2, "c", 5.0), (3, "c", 5.0)],
        "doc_id long, source string, quality double",
    )
    kept = sorted(r.doc_id for r in top_fraction_per_group(tie, 0.5, "source", "quality").collect())
    assert kept == [1, 2]
    # frac=1.0 keeps everything; invalid frac raises
    assert top_fraction_per_group(df, 1.0, "source", "quality").count() == 14
    # IEEE rounding: 100*0.07 = 7.000000000000001 must keep 7, not 8
    big = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(100)],
        "doc_id long, source string, quality double",
    )
    assert top_fraction_per_group(big, 0.07, "source", "quality").count() == 7
    import pytest as _pt
    with _pt.raises(ValueError):
        top_fraction_per_group(df, 0.0, "source", "quality")


def test_hash_sample_k(spark):
    from bigdata_quality_assessment_spark.operators.select import hash_sample_k

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    s1 = sorted(r.doc_id for r in hash_sample_k(df, 50).collect())
    # exact size, deterministic across runs and repartitionings
    assert len(s1) == 50
    s2 = sorted(r.doc_id for r in hash_sample_k(df.repartition(7), 50).collect())
    assert s1 == s2
    # different seed -> (almost surely) different sample
    s3 = sorted(r.doc_id for r in hash_sample_k(df, 50, seed=7).collect())
    assert s1 != s3
    # bottom-k stability under growth: adding rows changes at most
    # as many picks as new rows entering the bottom-k
    grown = spark.createDataFrame([(i,) for i in range(520)], "doc_id long")
    s4 = set(r.doc_id for r in hash_sample_k(grown, 50).collect())
    assert len(set(s1) - s4) <= 20
    # plan is TakeOrderedAndProject, not a global sort
    plan = hash_sample_k(df, 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_exact_quotas(spark):
    """Exact per-group counts, deterministic identity across
    repartitionings, monotone under growth, absent groups dropped."""
    from bigdata_quality_assessment_spark.operators.select import (
        stratified_sample_exact,
    )

    rows = [(i, "web" if i % 3 else "books") for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = stratified_sample_exact(df, {"web": 10, "books": 7}, "source")
    got = out.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {"web": 10, "books": 7}

    # quota above group size -> whole group
    out2 = stratified_sample_exact(df, {"books": 1000}, "source")
    assert out2.count() == 30  # books rows only; web absent -> dropped

    # deterministic across partitioning
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample_exact(
            df.repartition(7), {"web": 10, "books": 7}, "source"
        ).collect()
    }
    assert a == b

    # monotone: growing the corpus displaces at most (new quota wins)
    df2 = spark.createDataFrame(rows + [(1000 + i, "web") for i in range(5)], ["doc_id", "source"])
    c = {
        r["doc_id"]
        for r in stratified_sample_exact(df2, {"web": 10, "books": 7}, "source").collect()
    }
    # books picks identical; web picks differ by at most the added rows
    assert len(a - c) <= 5
