"""``local_frame``: the one home for DataFrames built from driver-side
rows. It must read back exactly what ``createDataFrame(<python list>)``
reads back, while planning as a ``LocalTableScan`` that runs no Python
worker (no ``PythonRDD`` in the lineage).

``barrier``: the one home for checkpoints. Its call-time job counts
are pinned here at ``local[4]``."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from test_loop import _jobs

from bigdata_quality_assessment_spark.session import barrier, local_frame

PKG = Path(__file__).resolve().parent.parent / "bigdata_quality_assessment_spark"


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize(
    "call, home",
    [
        # a pickled-rows frame runs a ``PythonRunner`` job per read and
        # forks a second Python worker pool
        ("createDataFrame", "local_frame"),
        # one place states and enforces the call-time cost of a barrier
        ("localCheckpoint", "barrier"),
    ],
    ids=["createDataFrame", "localCheckpoint"],
)
def test_one_home(call, home):
    """Every ``.<call>(`` in the package sits inside ``session.<home>``."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path.name == "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == home:
                    allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == call
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, f"route these through session.{home}: " + ", ".join(
        offenders
    )


def _narrow(spark):
    return spark.range(200).select("id", (F.col("id") % 7).alias("k"))


def test_barrier_eager_runs_one_job(spark):
    out = {}
    assert _jobs(spark, lambda: out.update(df=barrier(_narrow(spark)))) == 1
    assert "LogicalRDD" in out["df"]._jdf.queryExecution().analyzed().toString()
    assert out["df"].count() == 200


def test_barrier_lazy_over_narrow_plan_runs_no_job(spark):
    out = {}
    assert _jobs(spark, lambda: out.update(df=barrier(_narrow(spark), lazy=True))) == 0
    assert out["df"].count() == 200


def test_barrier_lazy_over_shuffle_runs_map_stage_at_call_time(spark):
    """Documented, not wanted: AQE plans the frame when the checkpoint
    RDD is built, and that runs the ``groupBy``'s map stage."""
    grouped = _narrow(spark).groupBy("k").count()
    out = {}
    assert _jobs(spark, lambda: out.update(df=barrier(grouped, lazy=True))) == 1
    assert sorted(r["count"] for r in out["df"].collect()) == [28] * 3 + [29] * 4


def test_barrier_observed_metrics_ride_the_barrier_job(spark):
    df = _narrow(spark)
    metrics = (
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"), F.max("id").alias("m")
    )
    out = {}
    assert _jobs(spark, lambda: out.update(r=barrier(df, *metrics))) == 1
    frame, values = out["r"]
    assert values == df.agg(*metrics).first().asDict()
    assert frame.count() == 200


def test_barrier_lazy_with_metrics_raises(spark):
    with pytest.raises(ValueError):
        barrier(_narrow(spark), F.count(F.lit(1)).alias("n"), lazy=True)


_ROWS = {
    "bigint": [(1, -(2**62)), (2, None), (3, 7)],
    "int": [(1, -(2**31)), (2, None), (3, 2**31 - 1)],
    "double": [(1, -1.5), (2, None), (3, 1e300)],
    "string": [(1, "a b"), (2, None), (3, "")],
    "binary": [(1, b"\x00\xff"), (2, None), (3, bytearray(b"xy"))],
    "array<float>": [(1, [0.5, -2.0]), (2, None), (3, [None, 1.0]), (4, [])],
}


@pytest.mark.parametrize("ddl_type", sorted(_ROWS))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "zero_rows"])
def test_local_frame_matches_create_dataframe(spark, ddl_type, empty):
    rows = [] if empty else _ROWS[ddl_type]
    schema = f"k bigint, v {ddl_type}"
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())
    assert "PythonRDD" not in _lineage(got)


def test_local_frame_takes_struct_type(spark):
    ref = spark.createDataFrame([(1, "a"), (2, None)], "k int, s string")
    got = local_frame(spark, [(1, "a"), (2, None)], ref.schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_benchmark_path_frames_run_no_python_worker(spark):
    """The driver-side frames the curation path reads inside one
    operation -- the eval spans decontamination screens against and
    ``curate``'s report -- carry no ``PythonRDD``."""
    from bigdata_quality_assessment_spark.pipeline import CurationConfig, curate
    from bigdata_quality_assessment_spark.sources.textgen import eval_spans

    spans = eval_spans(spark, n_spans=4, vocab_size=500, seed=1)
    assert spans.count() == 4
    assert "PythonRDD" not in _lineage(spans)

    docs = spark.range(3).selectExpr("id as doc_id", "concat('doc ', id) as text")
    _, report = curate(
        docs, config=CurationConfig(near_dedup=False), with_report=True
    )
    assert [r.stage for r in report.collect()] == ["input", "exact_dedup"]
    assert "PythonRDD" not in _lineage(report)
