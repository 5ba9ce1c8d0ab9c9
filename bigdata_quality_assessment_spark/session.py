"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime shuffle-partition coalescing + skew-join handling), Arrow for
the few Pandas-UDF operators, UTC session timezone so results compare
bit-stable against the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def resolved_extra_conf(extra_conf: dict[str, str] | None) -> dict[str, str]:
    """Merge the call-site ``extra_conf`` with the
    ``SPARK_GRAFT_EXTRA_CONF`` env JSON. The env var is applied LAST
    (round-14): it exists for diagnostic overrides without code edits
    — e.g. the Python-worker faulthandler when chasing a worker crash
    inside a full bench run — so it must win over any key a call site
    already pins, not silently lose to it. When it DOES override a
    call-site key, that is a real Spark-configuration change to an
    existing deployment, so each collision is warned once (round-15,
    ADVICE) — visible in the logs rather than silent."""
    merged: dict[str, str] = dict(extra_conf or {})
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            v = str(v)
            if k in merged and merged[k] != v:
                import warnings

                warnings.warn(
                    f"SPARK_GRAFT_EXTRA_CONF overrides call-site Spark "
                    f"conf {k!r}: {merged[k]!r} -> {v!r}",
                    stacklevel=2,
                )
            merged[k] = v
    return merged


def build_session(
    app_name: str = "bigdata_quality_assessment_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset). ``shuffle_partitions`` defaults to the core count — the
    right size for local mode; on a real cluster it is raised to
    ~2-3× total executor cores and AQE coalesces from there.

    Case mapping (``lower``/``upper``) goes through ``UTF8String``'s
    JVM path, not ICU (``spark.sql.icu.caseMappings.enabled=false``).
    On Spark 4.1 the first ICU case mapping in a JVM runs the static
    initializer of ``CollationAwareUTF8String``, which title-cases all
    1,114,112 code points to build a lookup table that ``lower`` on
    ASCII text never reads: measured on a 4-core VM (``local[4]``,
    200 ASCII rows, after a warm-up query) the first ``lower`` took
    1.6-1.9 s and 3.7-4.1 JVM CPU-s with ICU, 0.13-0.15 s and
    0.44-0.51 CPU-s without. That cost was paid by every cold curation
    op (the exact-dedup ``normalize_text`` task). Both paths lower-case
    ASCII with the same byte loop and both follow the JVM default
    locale for non-ASCII text. Checked over every Unicode scalar value
    (JDK 17, ICU4J 77.1), they differ on 67 code points for ``lower``
    and 67 for ``upper``, all added in Unicode 14-16, which Java 17
    does not case-map, and on 617 for ``initcap`` (e.g. ``ß``), which
    the package never calls.

    ``spark.sql.codegen.cache.maxEntries`` is raised to 2000 from 100:
    one curation op compiles more generated classes than 100, so the
    next op in the same JVM found its early classes evicted. Measured
    on a 50-doc ``curate`` + ingest drain: 137 classes cold and 121 on
    the repeat at 100 entries, 136 and 0 at 2000.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cpus == "*" else int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # JVM case tables, not ICU: the first ICU case mapping in a JVM
        # costs ~4 CPU-s of table building (see the docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # static: holds one op's generated classes (default 100)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pinned explicitly (it is the default, but a regression here
        # re-pays the ~2-2.5 s/worker pandas-import cold start on EVERY
        # Arrow stage instead of once per executor — PLANS.md round-8
        # measured 117.8 s executor-time cold vs 18.9 s warm). Reuse is
        # per worker POOL, and Spark keys pools on the runner's worker
        # environment: the Arrow runners set SPARK_SIMPLIFIED_TRACEBACK,
        # the plain PythonRunner behind a pickled-rows frame
        # (createDataFrame(<python list>)) does not, so the first read of
        # such a frame forks a second daemon plus one worker per core
        # beside the Arrow pool. Build driver-side rows with
        # ``local_frame`` instead: it touches no worker at all.
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in resolved_extra_conf(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: str | StructType,
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    order) that Spark plans as a ``LocalTableScan``.

    ``schema`` is a DDL string (``"id long, text string"``) or a
    ``StructType``. The rows become one pyarrow Table that is shipped
    to the JVM once, so reading the frame runs no Python worker.
    ``spark.createDataFrame(<python list>, schema)`` instead goes
    through ``sc.parallelize``: every read of it runs a pickling
    ``PythonRunner`` job with one task per default-parallelism slot,
    and its first read forks a second worker pool (see
    ``spark.python.worker.reuse`` in ``build_session``). Measured on
    PySpark 4.1.2, ``local[4]`` on a 4-core VM, a 64-row frame with
    warm workers: 0.42 s wall and 1.6 CPU-s (JVM + Python processes)
    per read that way, 0.02 s and 0.07 CPU-s from ``local_frame``. A pandas frame is not used because the pandas
    Arrow path silently falls back to the pickled path when
    ``spark.sql.execution.arrow.pyspark.fallback.enabled`` is on.

    This is the library's only ``createDataFrame`` call site (pinned by
    ``tests/test_session.py``)."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def barrier(
    df: DataFrame, *metrics: Column, lazy: bool = False
) -> DataFrame | tuple[DataFrame, dict[str, Any]]:
    """Store ``df``'s rows in the executors' block stores and return a
    frame that reads them (``localCheckpoint``), so every later reader
    starts from the stored rows instead of re-running ``df``'s plan.

    ``barrier(df)`` is eager; ``barrier(df, lazy=True)`` stores the
    rows when the first job reads the returned frame.
    ``barrier(df, *metrics)`` is eager and puts the aggregate
    ``metrics`` Columns on the storing job as one ``Observation``; it
    returns ``(frame, values)``, ``values`` mapping each metric's alias
    to its value, so the counts cost no query of their own. Observed
    metrics cannot take DISTINCT aggregates. A lazy barrier runs no
    job for metrics to ride, so ``lazy=True`` with metrics raises
    ``ValueError``.

    Call-time cost, stated once for every barrier in the package:

    - an eager barrier runs one job at call time, over the whole of
      ``df``;
    - its blocks stay until driver GC lets the ContextCleaner free
      them;
    - a lazy barrier over an adaptive plan with a shuffle runs that
      plan's map stages at call time (AQE plans the frame when the
      checkpoint RDD is built), so it is not job-free;
    - a lazy frame read by two or more subtrees of one job can be
      computed twice: the subtrees may reach its partitions before
      either has stored them.

    This is the library's only ``localCheckpoint`` call site (pinned
    by ``tests/test_session.py``)."""
    if metrics and lazy:
        raise ValueError("observed metrics need an eager barrier")
    if not metrics:
        return df.localCheckpoint(eager=not lazy)
    obs = Observation()
    df = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return df, obs.get
