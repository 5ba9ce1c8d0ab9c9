"""Mergeable frequency sketches: distributed heavy-hitters with
bounded memory (engine extension; complements the HLL/KLL sketches in
operators/profiling.py).

``frequent_items`` is the distributed Misra-Gries / SpaceSaving
summary (Misra & Gries 1982; Agarwal et al., "Mergeable Summaries",
PODS 2012): each input slice keeps at most ``capacity`` counters, the
per-slice summaries are unioned and summed per item, and the top
candidates are returned with DETERMINISTIC error bounds:

    true_count - total_rows/capacity  <=  est_count  <=  true_count

so every item with true frequency > n/capacity is GUARANTEED present
(the classic heavy-hitters contract), and reported counts
under-estimate by at most the summed per-slice admission thresholds.

Spark shape: one ``mapInPandas`` pass emits <= capacity rows per Arrow
batch (the summary — kilobytes), a groupBy-sum over those summary rows
(map-side combined, cardinality <= capacity x batches), one top-k.
The data itself is never shuffled — this is the operator to reach for
when ``groupBy(col).count()`` would shuffle a 100 TB column whose
distinct cardinality is data-sized but only the head matters (domain
counts, user-agent strings, hot tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import barrier


def _mg_summarize(values, capacity: int) -> dict:
    """Misra-Gries over an iterable: at most ``capacity`` counters;
    when full, decrement all (implicitly, via the admission debt).
    Returns item -> lower-bound count."""
    return _mg_merge({}, values, capacity)


def frequent_items(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int = 256,
) -> DataFrame:
    """Approximate top-k most frequent values of ``col`` with bounded
    memory. Returns ``(item, est_count, max_error)`` ranked by
    ``est_count`` desc — ``est_count`` is a LOWER bound on the true
    count and ``est_count + max_error`` an upper bound; any value
    whose true count exceeds ``total_rows / capacity`` is guaranteed
    to appear among the candidates. Nulls are ignored.

    ``capacity`` is the per-slice counter budget (memory is
    O(capacity) per task regardless of input size); ``k <= capacity``
    is the returned head."""
    if k > capacity:
        raise ValueError("k must be <= capacity")
    in_type = df.schema[col].dataType
    schema = T.StructType(
        [
            T.StructField("item", in_type),
            T.StructField("est_count", T.LongType()),
            T.StructField("slice_rows", T.LongType()),
        ]
    )

    def summarize(batches):
        import pandas as pd

        for pdf in batches:
            vals = pdf[col].dropna()
            counters = _mg_summarize(vals, capacity)
            # one MARKER row per slice (item = null) carries the slice
            # size, so the global error bound can be computed without
            # re-scanning the data
            yield pd.DataFrame(
                {
                    "item": pd.Series(
                        list(counters.keys()) + [None], dtype=object
                    ),
                    "est_count": pd.Series(
                        list(counters.values()) + [0], dtype="int64"
                    ),
                    "slice_rows": pd.Series(
                        [0] * len(counters) + [int(len(vals))], dtype="int64"
                    ),
                }
            )

    summaries = df.select(col).mapInPandas(summarize, schema=schema)
    summaries = barrier(summaries, lazy=True)  # two consumers
    per_item = (
        summaries.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("est_count").alias("est_count"))
    )
    # MG underestimates an item by at most the summed decrement debt —
    # bounded by total_rows/capacity across all slices
    total = summaries.agg(
        F.ceil(F.sum("slice_rows") / F.lit(capacity)).alias("max_error")
    )
    return (
        per_item.crossJoin(F.broadcast(total))
        .orderBy(F.col("est_count").desc(), F.col("item").asc())
        .limit(k)
    )


def streaming_frequent_items(
    stream: DataFrame,
    col: str,
    capacity: int = 256,
    n_shards: int = 8,
):
    """Streaming heavy-hitters: the Misra-Gries summary as a custom
    stateful operator (``applyInPandasWithState``). Items hash into
    ``n_shards`` state groups; each shard's state is one bounded
    counter table (arrays of <= ``capacity`` items/counts + the shard's
    row total), merged per micro-batch and emitted in full each batch.

    Because sharding is BY ITEM HASH, an item lives in exactly one
    shard — no cross-shard reconciliation; per-item bounds are
    ``est <= true <= est + shard_rows/capacity`` with ``shard_rows``
    emitted alongside. State is O(n_shards * capacity) regardless of
    stream length or item cardinality — the knob a 100 TB/day stream
    needs where ``groupBy(item).count()`` state would grow unboundedly.
    Consumers take each shard's LATEST emission (max ``shard_rows``).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sharded = stream.select(
        F.col(col).cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(n_shards)).alias("__shard"),
    ).filter(F.col("item").isNotNull())

    out_schema = "shard BIGINT, item STRING, est_count BIGINT, shard_rows BIGINT"
    state_schema = "items ARRAY<STRING>, counts ARRAY<BIGINT>, n BIGINT"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            items, counts, n = state.get
            counters = dict(zip(list(items), list(counts)))
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            vals = pdf["item"]
            n += len(vals)
            counters = _mg_merge(counters, vals, capacity)
        state.update((list(counters.keys()), [int(c) for c in counters.values()], n))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(counters),
                "item": list(counters.keys()),
                "est_count": [int(c) for c in counters.values()],
                "shard_rows": [n] * len(counters),
            }
        )

    return sharded.groupBy("__shard").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _mg_merge(counters: dict, values, capacity: int) -> dict:
    """Continue a Misra-Gries summary with more values (same admission
    / decrement-all discipline as :func:`_mg_summarize`)."""
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < capacity:
            counters[v] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]
    return counters
