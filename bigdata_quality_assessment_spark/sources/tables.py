"""Parquet readers for the driver test tables (TESTDATA.md).

Plain ``spark.read.parquet`` — Catalyst gets predicate pushdown,
column pruning, and partition pruning for free on these scans. At
100 TB each table would be a partitioned/bucketed parquet dataset;
nothing in the engine assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# events.ts is normalized to epoch-nanoseconds BIGINT REGARDLESS of
# the parquet storage type — the driver has generated it both as
# TIMESTAMP(NANOS) (round 3) and timestamp[us] (round 4), and every
# downstream operator (streaming event time, as-of, rollup) keys on
# the epoch-nanos invariant:
#   * timestamp[us/ms] → native TimestampType read, projected through
#     `unix_micros(ts) * 1000` (exact, no precision loss);
#   * TIMESTAMP(NANOS) → rejected by the Spark 4 reader by default
#     (PARQUET_TYPE_ILLEGAL; Spark has no nanosecond timestamp type);
#     the sanctioned escape hatch `spark.sql.legacy.parquet
#     .nanosAsLong=true` reads it as epoch-nanos BIGINT directly.
# Fallback schema (neither read works) omits ts; every batch operator
# keys on event_id order.
EVENTS_TS_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

EVENTS_FALLBACK_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Schema of events as read with nanosAsLong: ts is epoch-nanos BIGINT.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one test table. ``name`` must be in TABLES."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events with ``ts`` normalized to epoch-nanos BIGINT (see
    module comment: the driver has shipped both timestamp[us] and
    TIMESTAMP(NANOS) storage)."""
    from pyspark.sql import functions as F

    try:
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            if isinstance(ts_type, T.TimestampNTZType):
                # NTZ wall-clock values ARE the UTC instants; diff against
                # an NTZ epoch literal is pure calendar arithmetic, so the
                # result is identical under any session timezone (a cast
                # to TimestampType would shift by the session offset).
                ts_expr = F.expr(
                    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            else:
                ts_expr = F.unix_micros(F.col("ts"))
            return df.select(
                "event_id",
                (ts_expr * 1000).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        if isinstance(ts_type, T.LongType):
            return df.select([f.name for f in EVENTS_SCHEMA])
    except Exception:
        pass
    try:
        spark.conf.set(EVENTS_TS_NANOS_CONF, "true")
        return spark.read.schema(EVENTS_SCHEMA).parquet(path)
    except Exception:
        return spark.read.schema(EVENTS_FALLBACK_SCHEMA).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every test table into a dict keyed by name."""
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED managed table: rows are hash-
    partitioned into ``n_buckets`` files per partition on
    ``bucket_cols`` (optionally sorted within buckets).

    The 100 TB join strategy this enables: two tables bucketed on the
    same key with the same bucket count join WITHOUT any exchange —
    Spark recognizes the co-partitioning (`spark.sql.sources.bucketing
    .enabled`) and plans a SortMergeJoin whose children read bucket
    files directly. For the engine's repeated point_id joins
    (pool↔predictions↔scores) that removes the dominant shuffle at
    scale; tests/test_tables.py asserts the exchange-free plan."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a table written by ``write_bucketed`` (bucket metadata is
    honored from the catalog — a plain ``spark.read.parquet`` of the
    files would lose it)."""
    return spark.table(table_name)
