"""The benchmark harness: every headline body builds, dumps and runs
(at sf0.001), and the ``.localdata`` cache rebuilds exactly when its
params change."""

from __future__ import annotations

import pytest

import bench
from bigdata_quality_assessment_spark.headline import HEADLINE
from tools import dump_plans

SF_DIR = "/root/testdata/sf0.001"


def test_headline_keys_match_the_operative_baseline():
    assert list(HEADLINE) == list(bench.R3_OPERATIVE)


@pytest.mark.parametrize("name", list(HEADLINE))
def test_headline_query_builds_dumps_and_runs(spark, name):
    q = HEADLINE[name](spark, SF_DIR)
    plan = dump_plans.fmt(q.frame)
    assert "== Physical Plan ==" in plan
    if name == "flagship_us_lw":
        # the eager barrier the bench times: the pool is read only
        # through the checkpointed blocks, never from parquet
        assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan
    if name == "ensemble_scoring":
        assert "InMemoryTableScan" in plan
    out = q.run()
    assert (out if q.action == "count" else len(out)) > 0
    assert not any(df.is_cached for df in q.cached)


def _fake_gen(calls):
    def gen(spark, n_rows, seed):
        calls.append((n_rows, seed))
        return spark.range(n_rows).selectExpr("id", f"{seed} AS seed")

    return gen


def test_cached_corpus_rebuilds_on_params_mismatch(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "LOCALDATA", tmp_path)
    calls: list = []
    gen = _fake_gen(calls)

    def corpus(seed):
        df = bench.cached_corpus(spark, "fake", "3", gen, {"n_rows": 3, "seed": seed})
        return sorted(tuple(r) for r in df.collect())

    assert corpus(1) == [(0, 1), (1, 1), (2, 1)]
    assert corpus(1) == [(0, 1), (1, 1), (2, 1)]
    assert calls == [(3, 1)]  # reused on a match
    assert corpus(2) == [(0, 2), (1, 2), (2, 2)]
    assert calls == [(3, 1), (3, 2)]  # rebuilt on a mismatch
    # a directory without a sidecar (written before sidecars existed)
    # cannot be trusted either
    (tmp_path / "fake" / "3" / "params.json").unlink()
    assert corpus(2) == [(0, 2), (1, 2), (2, 2)]
    assert len(calls) == 3


def test_cached_dir_keys_derived_data_on_its_source(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "LOCALDATA", tmp_path)
    builds: list = []

    def build(root):
        root.mkdir(parents=True)
        (root / f"part{len(builds)}").write_text("x")
        builds.append(root)

    src = {"n_docs": 5, "seed": 7}
    for _ in range(2):
        root = bench.cached_dir("idx", "5", {"docs": src, "n_buckets": 64}, build)
    assert len(builds) == 1
    # the same tag over a regenerated source corpus is rebuilt from scratch
    root = bench.cached_dir("idx", "5", {"docs": {**src, "seed": 8}, "n_buckets": 64}, build)
    assert len(builds) == 2
    assert sorted(p.name for p in root.iterdir()) == ["params.json", "part1"]
