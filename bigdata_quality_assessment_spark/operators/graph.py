"""Connected-components closure for duplicate clustering.

The near-dedup families (MinHash-LSH / SimHash / embedding-LSH) verify
*pairs*. Dropping only the higher member of each direct pair leaves
transitive chains behind: for verified edges (1,3),(2,3) with no (1,2)
edge, doc 2 survives although it sits in doc 1's duplicate cluster.
The corpus-dedup contract is per-CLUSTER: keep exactly the minimum id
of every connected component of the verified-pair graph. This extends
the reference's T5 exact dedup
(/root/reference/SDE_forecast_ActiveSampling.py:134-135) from
equality-clusters to similarity-clusters.

Scale shape — two tiers, auto-selected by edge count:

* **small** (the common case): the verified-duplicate edge list is a
  tiny fraction of the corpus, so ship it to ONE executor task and run
  vectorized numpy min-label propagation with pointer jumping (a
  whole-array union-find; O(E) memory, O(E·log D) work, zero driver
  collect). The edge frame sits behind an eager checkpoint whose job
  also counts the edges (an ``Observation``), so the (possibly
  expensive) verify subtree runs exactly once and the sizing costs no
  query of its own.
* **iterative** (adversarial corpora whose duplicate graph is itself
  data-sized): the ALTERNATING large-star/small-star algorithm of
  Kiveris et al., "Connected Components in MapReduce and Beyond"
  (SoCC'14). Each half-round is one map-side-combined ``min``
  aggregation + one equi-join + a distinct, and — unlike plain
  min-label propagation, which re-shuffles the FULL edge list every
  round — the rewrites *shrink* the edge set toward disjoint stars
  rooted at each component's minimum id, so per-round shuffle bytes
  decay as components collapse. Converges in O(log² n) rounds
  worst-case (O(log n) observed); fixpoint is detected with a cheap
  count+hash checksum instead of a full set comparison. Lineage is
  cut per round with a lazy barrier so the plan does not grow across
  iterations (the classic iterative-Spark failure mode).

The bucket-keyed near-dup skeleton around the closure lives here too:
:func:`_band_sides` + :func:`_band_pairs` are the band self-join
(SimHash, media and embedding dedup), and :func:`drop_duplicates_of`
is the one drop rule of the whole near-dup family.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import barrier

# Above this many directed edges the single-task tier would concentrate
# too much data on one executor; fall back to distributed iteration.
# 20M edges ≈ 320 MB of (int64, int64) — comfortable for one task slot.
SMALL_EDGE_THRESHOLD = 20_000_000


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Whole-graph min-label closure in ONE executor task: vectorized
    numpy min-propagation + pointer jumping (``lab = lab[lab]``) until
    fixpoint. Converges in O(log diameter) passes, each O(E) vector
    ops — no per-edge Python loop."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(dtype=np.int64))
            dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        ids = np.unique(np.concatenate([src, dst]))
        si = np.searchsorted(ids, src)
        di = np.searchsorted(ids, dst)
        lab = np.arange(len(ids), dtype=np.int64)
        while True:
            old = lab
            lab = lab.copy()
            # undirected min exchange across every edge, then shortcut
            np.minimum.at(lab, si, lab[di])
            np.minimum.at(lab, di, lab[si])
            lab = lab[lab]
            if np.array_equal(lab, old):
                break
        # ids is sorted ascending, so the min label INDEX is the min id
        yield pd.DataFrame({"id": ids, "component": ids[lab]})

    return edges.repartition(1).mapInPandas(run, "id BIGINT, component BIGINT")


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    strategy: str = "auto",
    small_edge_threshold: int = SMALL_EDGE_THRESHOLD,
) -> DataFrame:
    """Label every vertex of the undirected ``pairs`` graph with the
    minimum id in its connected component. Returns ``(id, component)``
    for every vertex that appears in at least one edge.

    ``strategy``: ``"auto"`` (count the edge list while an eager
    barrier materializes it, and pick), ``"single"`` (one-task numpy
    closure), or ``"iterative"`` (distributed min-label propagation +
    pointer jumping, early-exit on fixpoint).

    Ids of ANY orderable type work (round-13): the alternating-stars
    tier is pure ``min``/``least``/``greatest`` Catalyst ops, so
    string ids (URLs, content hashes) close under LEXICOGRAPHIC min —
    the same "first id" order the span/substring dedup family
    documents. Under ``strategy="auto"`` non-integral ids route to
    that tier (the single-task tier is an int64 numpy closure),
    keeping the whole dedup family's any-id-type contract; an EXPLICIT
    ``strategy="single"`` with non-integral ids raises instead of
    silently substituting a different algorithm (round-14).
    """
    if strategy not in ("auto", "single", "iterative"):
        raise ValueError(f"unknown strategy {strategy!r}")
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        # a null endpoint would surface as an opaque executor-side numpy
        # failure in the single-task tier; drop it here on the slim frame
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    id_type = edges.schema["src"].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        if strategy == "single":
            # the single-task tier is an int64 numpy closure; silently
            # handing back a different algorithm would defeat an
            # explicit tier request (round-14, ADVICE)
            raise ValueError(
                "strategy='single' requires integral ids (the single-task "
                f"tier is an int64 numpy closure); got {id_type} ids — use "
                "strategy='auto' or 'iterative'"
            )
        strategy = "iterative"
    if strategy != "auto":
        edges = barrier(edges, lazy=True)
    else:
        # the raw edge count rides the job that materializes the barrier;
        # the distinct count (the tier rule: dup-heavy pair lists, e.g.
        # both (a,b) and (b,a) from a symmetric verify join, must not
        # spill small graphs into the slower iterative tier) runs only
        # when the raw count is over the threshold — it is never larger
        edges, seen = barrier(edges, F.count(F.lit(1)).alias("n"))
        n_edges = seen["n"]
        if n_edges > small_edge_threshold:
            n_edges = (
                edges.select(
                    F.least("src", "dst").alias("u"),
                    F.greatest("src", "dst").alias("v"),
                )
                .distinct()
                .count()
            )
        strategy = "single" if n_edges <= small_edge_threshold else "iterative"
    if strategy == "single":
        return _cc_single_task(edges)
    return _cc_alternating_stars(edges, max_iter)


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star: for every node u with neighborhood Γ(u) and
    m = min(Γ(u) ∪ {u}), rewrite each edge to a LARGER neighbor v > u
    as (v, m). Keeps the canonical bigger-first orientation (v > u ≥ m)
    and strictly never grows the edge count."""
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("u", "mv").alias("m")
    )
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star: per node u over its SMALLER neighbors
    Γ⁻(u) (all of them, given bigger-first orientation) with
    m = min(Γ⁻(u)), rewrite to (v, m) for v ∈ Γ⁻(u) \\ {m} plus
    (u, m). Bigger-first orientation is preserved (v > m, u > m)."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return rewired.union(centers).distinct()


def _cc_alternating_stars(edges: DataFrame, max_iter: int) -> DataFrame:
    """Distributed CC via alternating large-star/small-star rounds.
    At fixpoint the edge set is exactly the disjoint star forest
    {(child, component-min)}; labels fall out of one final left join
    against the full vertex set (covering roots, isolated self-loop
    vertices, and singletons alike)."""
    verts = barrier(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct(),
        lazy=True,
    )
    # canonical bigger-first undirected edge list, self-loops dropped
    e = barrier(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct(),
        lazy=True,
    )
    prev_sig = None
    for _ in range(max_iter):
        e = barrier(_small_star(_large_star(e)), lazy=True)
        # cheap fixpoint probe: count + two independent hash sums over
        # the canonical edge set (materializes the round's barrier)
        # bit_xor, not sum: ANSI mode overflows a long sum of hashes,
        # and the edge list is distinct so xor is a sound set signature
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h1"),
            F.coalesce(F.expr("bit_xor(hash(u, v))"), F.lit(0)).alias("h2"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h1"], sig_row["h2"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # star forest -> labels; vertices not appearing as a child (roots,
    # singletons from self-loop-only input) label themselves
    child_map = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return verts.join(child_map, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def duplicate_drop_ids(
    pairs: DataFrame, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """Ids to DROP under the cluster contract: every member of each
    connected duplicate component except the component minimum.
    Returns a single-column frame ``(id)`` (caller aliases to its own
    id column name)."""
    cc = connected_components(pairs, src_col, dst_col)
    return cc.filter(F.col("id") != F.col("component")).select("id")


def drop_duplicates_of(
    rows: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    cluster: bool,
) -> DataFrame:
    """The near-dup family's drop rule: ``rows`` without the duplicates
    named by the verified ``pairs`` (``src < dst``). ``cluster=True``
    keeps the minimum id of each connected component
    (:func:`duplicate_drop_ids`); ``cluster=False`` drops the higher id
    of each pair, which leaves transitive chains behind.

    The anti-join is UNHINTED (round-14): on a real web corpus the
    duplicate set is 30-50 % of all rows, so the broadcast-vs-shuffle
    choice belongs to AQE's measured sizes; a forced broadcast is a
    driver/executor OOM at 10⁹ rows."""
    if cluster:
        drop = duplicate_drop_ids(pairs, src_col, dst_col).select(
            F.col("id").alias(id_col)
        )
    else:
        drop = pairs.select(F.col(dst_col).alias(id_col)).distinct()
    return rows.join(drop, id_col, "left_anti")


def _band_sides(
    keyed: DataFrame, id_col: str, keys: Column, carry: Mapping[str, str]
) -> tuple[DataFrame, DataFrame]:
    """The two sides of a band self-join. ``keys`` is a per-row array
    of band keys, exploded into ``(__t, __b)`` = (key position, key).
    Side ``s`` ∈ {a, b} renames ``id_col`` to ``__id<s>`` and each
    ``carry`` column ``c`` to ``carry[c] + s``. Only these columns ride
    the join, never the payload the keys were derived from."""
    e = keyed.select(id_col, *carry, F.posexplode(keys).alias("__t", "__b"))

    def side(s: str) -> DataFrame:
        return e.select(
            F.col(id_col).alias("__id" + s),
            *[F.col(c).alias(stem + s) for c, stem in carry.items()],
            "__t", "__b",
        )

    return side("a"), side("b")


def _band_pairs(
    a: DataFrame,
    b: DataFrame,
    on: Sequence[str] = ("__t", "__b"),
    unique: Sequence[str] = ("__ida", "__idb"),
) -> DataFrame:
    """Candidate pairs of a band self-join: rows of the two
    :func:`_band_sides` sides that share every ``on`` key, each
    unordered pair once (``__ida < __idb``) per ``unique`` key."""
    return (
        a.join(b, list(on))
        .filter(F.col("__ida") < F.col("__idb"))
        .dropDuplicates(list(unique))
    )
