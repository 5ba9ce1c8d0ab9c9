"""Generic ingest/egress beyond the parquet test tables: CSV and
JSON(L) readers with ENFORCED schemas, and a partitioned-parquet lake
sink.

Scale posture per format:

* **Parquet** is the only format with real predicate pushdown and
  column pruning at the scan; it is the lake format. CSV/JSON readers
  exist for INGEST — the first job lands them as (partitioned,
  optionally bucketed) parquet via ``write_lake``, and everything
  downstream reads that.
* Schemas are mandatory for CSV/JSON. Schema inference is a full
  extra pass over the data at 100 TB and can silently mistype columns
  on skewed samples; an explicit ``StructType`` makes ingest one pass
  and deterministic.
* Malformed rows: default ``PERMISSIVE`` with a ``_corrupt_record``
  column so bad lines are quarantined relationally (filter + sink),
  not crashed on (the 100 TB corpus always has a few). ``FAILFAST``
  is one flag away when the contract is strict.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_capture(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """Schema-enforced CSV ingest. ``mode='PERMISSIVE'`` routes
    malformed lines into ``_corrupt_record`` (see ``quarantine``);
    ``'FAILFAST'`` raises on the first bad line; ``'DROPMALFORMED'``
    silently drops them."""
    use = _with_corrupt_capture(schema) if mode == "PERMISSIVE" else schema
    return (
        spark.read.schema(use)
        .options(header=str(header).lower(), sep=sep, mode=mode, **options)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """Schema-enforced JSON-lines ingest (one object per line — the
    splittable layout; multiline JSON arrays are not parallelizable)."""
    use = _with_corrupt_capture(schema) if mode == "PERMISSIVE" else schema
    return spark.read.schema(use).options(mode=mode, **options).json(path)


def quarantine(df: DataFrame, cache: bool = True) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE-read frame into (clean, corrupt). Corrupt
    rows keep every column (whatever half-parsed plus the raw line in
    ``_corrupt_record``) so the quarantine sink is self-describing;
    clean rows drop the capture column. The parsed frame is cached
    first: Spark refuses plans over a raw file scan that reference
    ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — e.g. a
    count of the corrupt side), and the official remedy is to cache or
    land the parsed result; the cache also means the ingest file is
    parsed once for both sides. The cache is NOT auto-unpersisted —
    long-lived sessions ingesting many files should unpersist the
    returned frames' parent when done, or pass ``cache=False`` and
    immediately ``write_lake`` both sides (landing counts as the
    official remedy too)."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    if cache:
        df = df.cache()
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull())
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return clean, corrupt


LAKE_FORMATS = ("parquet", "orc")


def write_lake(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    format: str = "parquet",
) -> None:
    """Land a frame as the lake's columnar layout. ``partition_cols``
    become directory partitions (partition PRUNING for every
    downstream query filtering on them — the coarse analog of
    predicate pushdown); ``max_records_per_file`` caps file size so a
    skewed partition does not produce one giant unsplittable-rowgroup
    file. For co-located join keys use ``tables.write_bucketed``
    instead (bucketing needs the catalog).

    ``format``: 'parquet' (default) or 'orc' — both are splittable
    columnar formats with statistics-based predicate pushdown and
    column pruning at the scan, both bundled with stock Spark (Avro
    needs the external spark-avro package, so it is deliberately NOT
    offered here). ORC exists for interop with Hive-era lakes; new
    data should land as parquet."""
    if format not in LAKE_FORMATS:
        raise ValueError(f"format must be one of {LAKE_FORMATS}, got {format!r}")
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.format(format).save(path)


def read_lake(spark: SparkSession, path: str, format: str = "parquet") -> DataFrame:
    """Read a ``write_lake`` layout back. Directory-partition columns
    come back as real columns, and filters on them prune at planning
    time (PartitionFilters), not at scan time."""
    if format not in LAKE_FORMATS:
        raise ValueError(f"format must be one of {LAKE_FORMATS}, got {format!r}")
    return spark.read.format(format).load(path)


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of the low ``bits`` of each integer
    column — the multi-column clustering key lakehouses sort by so
    that parquet min/max statistics prune on EVERY participating
    column, not just the leading sort column. Callers bucket
    continuous values first (e.g. ``(col / width).cast('long')``).

    Pure bit arithmetic (shiftright / AND / shiftleft / OR folds) —
    one Catalyst expression, codegen-friendly, no UDF. With
    ``n = len(cols)`` the key has ``bits * n`` significant bits; keep
    it <= 63 (the default 16 bits supports 3 columns)."""
    n = len(cols)
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * n > 63:
        raise ValueError(f"bits*len(cols) must be <= 63, got {bits * n}")
    ins = [
        (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit((1 << bits) - 1)
        )
        for c in cols
    ]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, v in enumerate(ins):
            bit = F.shiftright(v, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    zorder_bits: int = 16,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Land a frame range-clustered on the Z-order key of
    ``cluster_cols``: ``repartitionByRange`` over the interleaved key
    assigns each output file a contiguous Morton range, and the
    within-file sort tightens row-group min/max stats — so a filter on
    ANY clustered column skips most files/row-groups at scan time
    (the poor man's OPTIMIZE ZORDER BY). Pays one range shuffle at
    write time; every downstream selective query reads fewer bytes."""
    keyed = df.withColumn("__z", zorder_key(cluster_cols, zorder_bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .format(format)
        .save(path)
    )


@contextmanager
def swap_dir(path: str, tmp_suffix: str) -> Iterator[str]:
    """Crash-safe replacement of the directory ``path``: the body
    writes the new contents into the yielded ``<path><tmp_suffix>``,
    and a normal exit swaps it in by two renames through
    ``<path>.__old__``. If the body raises, the temp directory is
    removed and ``path`` is untouched. On entry, a prior swap that
    crashed between its renames is recovered (the data left under
    ``.__old__`` moves back) and stale temp / ``.__old__`` leftovers
    are removed, so a rerun always starts from one intact ``path``."""
    path = path.rstrip("/")
    tmp, old = path + tmp_suffix, path + ".__old__"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def compact_lake(
    spark: SparkSession,
    path: str,
    target_records_per_file: int = 1_000_000,
    format: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a lake directory into
    ``ceil(rows / target)`` files. Streaming ingest and per-batch CDC
    commits accumulate thousands of small files; each costs a task,
    an open, and a footer read at EVERY downstream scan — compaction
    pays one rewrite to fix all future reads. Returns the new file
    count.

    The rewrite lands in ``<path>.__compact__`` and swaps in only
    after a successful write + row-count check: a FAILED compaction
    (write error, count mismatch) leaves the original layout
    untouched. The swap itself is two renames, so a hard crash in the
    window between them can leave the data under ``<path>.__old__``
    instead of ``path`` — recoverable, never lost, and stale
    ``.__old__`` / ``.__compact__`` leftovers are cleaned up at the
    START of the next run (a POSIX directory swap cannot be made
    atomic without the CDC store's pointer-file indirection; use that
    store when readers must never observe the window). Concurrent
    writers/readers must be quiesced — compaction is maintenance, not
    a concurrent transaction."""
    import math

    if format not in LAKE_FORMATS:
        raise ValueError(f"format must be one of {LAKE_FORMATS}, got {format!r}")
    with swap_dir(path, ".__compact__") as tmp:
        df = spark.read.format(format).load(path)
        n = df.count()
        n_files = max(1, math.ceil(n / target_records_per_file))
        df.repartition(n_files).write.mode("overwrite").format(format).save(tmp)
        back = spark.read.format(format).load(tmp).count()
        if back != n:
            raise RuntimeError(f"compaction row mismatch: {n} -> {back}; original kept")
    return n_files


def partition_stats(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the skew diagnostic
    (``spark_partition_id`` groupBy; output is n_partitions rows).
    A max/median ratio far above 1 predicts straggler tasks; fix with
    repartition, salting, or AQE skew handling."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("partition_id")
    )
