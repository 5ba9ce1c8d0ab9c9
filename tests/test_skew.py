"""Skew stress tests (VERDICT r3 item 7): a hot key owning ~50% of the
rows must not land on one reducer. Pins BOTH 100 TB mitigation tiers:
AQE's automatic skew-join split (session.py enables it) and the
explicit salted_join for the pathological case."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.select import salted_join


def _hot_key_frames(spark, n_big=200_000, n_keys=1000):
    # key 0 owns ~half the big side
    big = spark.range(n_big).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % n_keys).alias("k"),
        F.concat(F.lit("payload_"), F.col("id")).alias("v"),
    )
    small = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    return big, small


SKEW_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
}


def test_aqe_skew_join_splits_hot_key(spark):
    """With thresholds scaled to test size, the FINAL adaptive plan must
    mark the join skew-handled: SortMergeJoin(skew=true) reading an
    'AQEShuffleRead coalesced and skewed' child — the hot partition was
    split across reducers at runtime."""
    old = {k: spark.conf.get(k, None) for k in SKEW_CONF}
    for k, v in SKEW_CONF.items():
        spark.conf.set(k, v)
    try:
        big, small = _hot_key_frames(spark)
        j = big.join(small, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        # unset what was unset: leaving these on would run every later
        # test in the shared session without broadcast joins
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_partitions_on_salt_and_matches_plain(spark):
    """The explicit tier: the physical exchange must partition on
    (key, __salt) — each hot key spreads over n_salts reducers — and
    the result must equal the plain join exactly."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big, small = _hot_key_frames(spark, n_big=20_000, n_keys=100)
        sj = salted_join(big, small, "k", n_salts=8)
        plan = sj._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(k" in plan and "__salt" in plan, plan
        got = {(r["k"], r["v"], r["w"]) for r in sj.collect()}
        want = {(r["k"], r["v"], r["w"]) for r in big.join(small, "k").collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _clustered_embeddings(spark, n_hot=1500, n_cold=500, dim=8, seed=7):
    """n_hot near-identical vectors (ONE natural hot cluster — same LSH
    bucket in every table) plus n_cold spread-out rows."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(dim)
    rows = []
    for i in range(n_hot):
        v = base + rng.randn(dim) * 1e-3  # tight cluster
        rows.append((i, [float(x) for x in v]))
    for i in range(n_cold):
        v = rng.randn(dim) * 3.0
        rows.append((n_hot + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cap_bucket_fanout_bounds_hot_bucket(spark):
    """The natural-skew guard (VERDICT r8 ask #4): a planted hot
    cluster must come out of _cap_bucket_fanout with every (table,
    bucket) fan-out near the cap, under-cap buckets untouched, and the
    subsample deterministic across runs."""
    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.similarity import (
        _cap_bucket_fanout,
        hyperplane_buckets,
    )

    emb = _clustered_embeddings(spark)
    cap = 100
    b = hyperplane_buckets(emb, dim=8, n_planes=6, n_tables=3, seed=1)
    exploded = b.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"bucket_{t}") for t in range(3)])
        ).alias("__t", "__b"),
    )
    pre = {
        (r["__t"], r["__b"]): r["n"]
        for r in exploded.groupBy("__t", "__b").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert max(pre.values()) >= 1500  # the planted cluster IS hot
    capped = _cap_bucket_fanout(exploded, ["__t", "__b"], "vec_id", cap, seed=1)
    post = {
        (r["__t"], r["__b"]): r["n"]
        for r in capped.groupBy("__t", "__b").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # hot buckets: expected size == cap, binomial std ~10 — 2x is safe
    assert max(post.values()) <= 2 * cap, post
    # under-cap buckets pass through untouched
    for key, n in pre.items():
        if n <= cap:
            assert post.get(key) == n, (key, n, post.get(key))
    # deterministic: the same call keeps the same rows
    again = {
        (r["vec_id"], r["__t"], r["__b"])
        for r in _cap_bucket_fanout(
            exploded, ["__t", "__b"], "vec_id", cap, seed=1
        ).collect()
    }
    first = {(r["vec_id"], r["__t"], r["__b"]) for r in capped.collect()}
    assert first == again
    # independent subsamples per hot bucket (round-10 ADVICE fix): the
    # keep decision hashes the composite (id, table, bucket), so the
    # kept id-sets of two hot buckets must differ — and no id in a hot
    # bucket is dropped from EVERY hot bucket (with >=2 hot buckets of
    # ~1500 cluster members at cap 100, a fully-correlated hash keeps
    # the same ~100 ids everywhere; independent draws overlap ~7%)
    hot_keys = [k for k, n in pre.items() if n > cap]
    assert len(hot_keys) >= 2
    kept_per_hot = {
        k: {vid for vid, t, b in first if (t, b) == k} for k in hot_keys
    }
    sets = list(kept_per_hot.values())
    assert any(sets[0] != s for s in sets[1:]), "hot-bucket subsamples correlated"


def test_knn_join_max_bucket_bounds_candidates_and_keeps_k(spark):
    """knn_join under a planted hot cluster: max_bucket must bound the
    per-left-row candidate work (~n_tables*cap) while hot-cluster
    queries still get their full k neighbors, all from the cluster."""
    from pyspark.sql import functions as F

    from bigdata_quality_assessment_spark.operators.similarity import knn_join

    emb = _clustered_embeddings(spark)
    left = emb.filter(F.col("vec_id") < 20)  # hot-cluster members
    right = emb.filter(F.col("vec_id") >= 20)
    out = knn_join(
        left, right, dim=8, k=5, n_planes=6, n_tables=3, seed=1,
        max_bucket=100,
    ).collect()
    by_left = {}
    for r in out:
        by_left.setdefault(r["vec_id_left"], []).append(r)
    assert len(by_left) == 20  # every hot query found neighbors
    for rows in by_left.values():
        assert len(rows) == 5  # full k survived the cap
        # neighbors are cluster members: near-identical vectors
        assert all(r["cosine"] > 0.99 for r in rows)
