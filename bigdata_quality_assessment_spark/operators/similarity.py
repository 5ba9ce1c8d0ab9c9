"""Similarity search over embedding columns (engine extension;
SURVEY.md §7.4 item 3).

The tier ladder, cheapest index to heaviest, same (query_id, id,
cosine, rank) contract throughout:

  * ``knn_brute_force`` — exact cosine top-k, one gemm pass over the
    corpus per query batch; no index. Fastest below ~10⁶ vectors.
  * ``ann_hyperplane_knn`` — LSH sign-bit buckets (+ multi-probe);
    candidates = same-bucket rows, corpus/2^bits per probe.
  * ``ivf_knn`` — k-means cells, probe the n_probe nearest.
  * ``knn_quantized`` — int8 scalar codes, exact ranking at 1/4-1/8
    the scan bytes, bounded rescore.
  * ``knn_pq`` — m-byte product-quantized codes, ADC lookups.
  * ``ivfpq_knn`` — the composed billion-vector tier: IVF cells prune
    the candidate SET, residual PQ prunes the BYTES (4 + m per
    vector), ADC scoring with the per-cell correction.
  * ``semantic_dedup`` / ``embedding_near_dedup`` /
    ``cluster_embeddings`` — the dedup/curation consumers of the same
    machinery.

Vector math runs on one of two physical paths:

  * **Arrow gemm (production default)** — the corpus-side projections
    (hyperplane dot products, centroid distances) are one BLAS matmul
    per Arrow batch inside ``mapInPandas``. Catalyst's higher-order
    functions (``zip_with``/``aggregate``) are NOT whole-stage-codegen
    compiled — they interpret the lambda per element with boxing, and
    measured ~1.1 ms/vector for a 48×64 projection vs ~1 µs/vector for
    the gemm (sf0.1, 2 000 vectors: 2.23 s vs 0.26 s end-to-end).
    At 10⁹ vectors that difference is the whole operator.
  * **Catalyst fold (oracle path)** — when the planes/centroids are
    PINNED literals for DuckDB-replayable grading, the fold's strict
    left-to-right accumulation order is what the SQL twin mirrors, so
    those variants keep the expression path (``impl="sql"``).

Embeddings stored as float32 are cast (numpy ``astype``) to double
before any arithmetic on both paths, so results are double-precision
end-to-end either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity
from ..session import barrier, local_frame
from .graph import _band_pairs, _band_sides, drop_duplicates_of
from .partitioning import ensure_min_parallelism


def _as_double(col):
    return F.transform(col, lambda v: v.cast("double"))


#: Fail-fast ceiling on the driver-collected query batch. Every kNN
#: tier's ``impl="arrow"`` path ships the query matrix to executors
#: inside the Arrow closure, which requires an EAGER ``collect()`` of
#: the query side at plan-build time (the API is not lazy on that
#: side). The contract is "queries are driver-sized"; this cap turns a
#: contract violation (a corpus passed as the query side) into an
#: immediate ValueError instead of a driver OOM. Raise it deliberately
#: if a genuinely huge query batch is intended — or use
#: :func:`knn_join`, whose contract is corpus-sized on BOTH sides.
QUERY_BATCH_CAP = 65536


def _collect_query_batch(queries: DataFrame, query_id_col: str, vec_col: str):
    """Eagerly collect the (id, vector) query batch, failing fast past
    :data:`QUERY_BATCH_CAP` rows. ``limit(cap+1)`` bounds what ever
    reaches the driver, so the violation surfaces as an error, not an
    OOM. NOTE: this triggers a Spark job at call time — the arrow-impl
    kNN entry points are eager on the query side by design."""
    rows = queries.select(query_id_col, vec_col).limit(
        QUERY_BATCH_CAP + 1
    ).collect()
    if len(rows) > QUERY_BATCH_CAP:
        raise ValueError(
            f"query batch exceeds QUERY_BATCH_CAP={QUERY_BATCH_CAP} rows; "
            "the query side of the kNN tiers is driver-sized by contract "
            "— for a corpus-sized query side use knn_join, or raise "
            "similarity.QUERY_BATCH_CAP deliberately"
        )
    return rows


def _widen_for_fanout(df: DataFrame) -> DataFrame:
    """Ensure the corpus side of a row-multiplying broadcast join has at
    least ``defaultParallelism`` partitions.

    Every kNN tier joins the corpus against a BROADCAST query batch, so
    downstream parallelism is exactly the input split count — there is
    no shuffle for AQE to re-plan. A corpus that arrives in few splits
    (one small parquet part, a fresh ``createDataFrame``) serializes the
    q·n·d scoring onto those few cores, and at real scale a single
    128 MB split fanned out by a 500-query batch becomes tens of GB of
    intermediate in ONE task. See
    :mod:`..operators.partitioning` for the shared guard and the
    measured evidence."""
    return ensure_min_parallelism(df)


def _topk_per_query(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """Two-phase per-query top-k: phase 1 ranks within (query, input
    partition) — every sort partition is bounded by the scan partition
    size, never by the corpus — and keeps k; phase 2 ranks the
    ≤ k·n_partitions survivors per query (a tiny frame). A single
    ranking window over the scored frame would put the ENTIRE corpus's
    scores for one query into one task, which dies at 100× scale.

    The salt is ``spark_partition_id()``: it auto-scales with the data
    (more input splits → more salts) and costs no extra column state.
    The final result is salt-independent — ties break deterministically
    on the candidate id in both phases."""
    order = [F.col("cosine").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(query_id_col, "__salt").orderBy(*order)
    partial = (
        scored.withColumn("__salt", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        partial.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn").alias("rank"))
    )


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "auto",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries(query_id, embedding)`` is driver/broadcast-sized by
    contract (queries are few; the corpus is the big side). Self-
    matches (same id) are excluded. Ties break to the lower candidate
    id — pinned, deterministic.

    ``impl`` (see :func:`_resolve_impl`): the production default
    (``"arrow"``) scores each Arrow batch with ONE ``V @ Qᵀ`` gemm and
    selects the batch-local exact top-k in numpy, so the q·n scored
    cross product never materializes as rows — phase-1 output is
    ≤ k·batches rows per query and the only Spark-side ranking is the
    k-bounded merge window. ``"sql"`` is the crossJoin + Catalyst-fold
    path whose strict left-to-right accumulation the DuckDB oracle
    replays addition-for-addition (the graded registry entry pins it);
    its phase-1 ranks within (query, spark_partition_id) so no sort
    partition is ever corpus-sized. Both paths agree on the degenerate
    contracts of ``cosine_similarity``: NULL vector on either side →
    cosine 0.0; length-mismatched pair → cosine NULL (sorts last);
    zero norm → 0.0; NaN values propagate (Spark orders NaN first
    under ``desc``).

    NOTE (applies to every arrow-impl tier: this, ``knn_quantized``,
    ``knn_pq``, ``ivfpq_knn``, ``ivfpq_search``): the query batch is
    collected EAGERLY at call time — building the plan triggers a
    Spark job — and is capped at :data:`QUERY_BATCH_CAP` rows with a
    fail-fast ValueError (see :func:`_collect_query_batch`)."""
    if _resolve_impl(impl) == "arrow":
        q_rows = _collect_query_batch(queries, query_id_col, vec_col)
        q_id_type = dict(queries.dtypes)[query_id_col]
        return _brute_knn_gemm(
            _widen_for_fanout(corpus.select(id_col, vec_col)), q_rows, k,
            id_col, vec_col, query_id_col, q_id_type,
        )
    q = queries.select(
        F.col(query_id_col),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    c = _widen_for_fanout(
        corpus.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("__cv"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", cosine_similarity(F.col("__qv"), F.col("__cv")))
    )
    return _topk_per_query(scored, query_id_col, id_col, k)


def _emit_col_topk(np, col, ids_ok, rank_ok, qid, k, emit):
    """Batch-local exact top-k of one query's score column under the
    global ordering (score desc, id asc), excluding the self-match.
    NaN scores are emitted as a separate marker class (Spark orders
    NaN FIRST under ``desc``); ties at the k-th value are resolved by
    id so the emitted set is always the true batch top-k."""
    not_self = ids_ok != qid
    nan_m = np.isnan(col)
    nan_pos = np.where(nan_m & not_self)[0]
    if len(nan_pos):
        nsort = nan_pos[np.argsort(rank_ok[nan_pos])]
        for p in nsort[:k]:
            emit(qid, ids_ok[p], 0.0, isnan=True)
    vpos = np.where(~nan_m & not_self)[0]
    kk = min(k, len(vpos))
    if not kk:
        return
    vals = col[vpos]
    part = np.argpartition(-vals, kk - 1)[:kk]
    thr = vals[part].min()
    cand = vpos[vals >= thr]
    o = np.lexsort((rank_ok[cand], -col[cand]))
    for p in cand[o[:kk]]:
        emit(qid, ids_ok[p], float(col[p]))


def _brute_knn_gemm(
    corpus: DataFrame,
    q_rows,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    q_id_type: str,
    codes8: bool = False,
) -> DataFrame:
    """Arrow phase-1 of :func:`knn_brute_force`: per batch, one
    ``V @ Qᵀ`` gemm scores every (row, query) pair and numpy selects
    the batch-local top-k per query under the exact global ordering
    (cosine desc, id asc) — emitting a SUPERSET of the true top-k
    (matrix winners plus the k lowest-id representatives of each
    constant-cosine class), which the k-bounded merge window then
    ranks exactly.

    ``codes8=True`` fuses :func:`quantize_embeddings` into the same
    pass (the :func:`knn_quantized` coarse stage): each batch row is
    int8-quantized in place before scoring, so the codes never
    round-trip through Arrow between two Python stages and the whole
    coarse pass is ONE stage. Identical math to quantize-then-score
    (same HALF_UP rounding, nonfinite→0, scale-from-finite-max).

    Degenerate classes mirror the fold path per (row, query) pair:
    NULL vector either side → 0.0; length mismatch → NULL; zero norm
    → 0.0; NaN arithmetic → NaN. NULL/NaN cosines ride marker columns
    through Arrow (pandas float NaN↔NULL round-trips are serializer-
    dependent) and are reconstructed Spark-side before the merge."""
    import numpy as np

    groups: dict[int, list] = {}
    null_q: list = []
    zero_q: list = []
    for r in q_rows:
        qid, v = r[0], r[1]
        if v is None or len(v) == 0:
            # NULL vector — or empty: zero norm, so denom == 0 and the
            # fold scores EVERY pair 0.0 before the length check bites
            null_q.append(qid)
        else:
            qv = np.asarray(v, dtype="float64")
            if float((qv * qv).sum()) == 0.0:
                zero_q.append(qid)  # zero norm: 0.0 against everything
            groups.setdefault(len(v), []).append((qid, qv))
    gmats = [
        (d, [qid for qid, _ in g], np.stack([vec for _, vec in g]))
        for d, g in groups.items()
    ]
    zero_q_set = set(zero_q)
    id_type = dict(corpus.dtypes)[id_col]
    schema = (
        f"{query_id_col} {q_id_type}, {id_col} {id_type}, "
        "cosine double, __isnull boolean, __isnan boolean"
    )

    def gen(it):
        import pandas as pd

        cols = [query_id_col, id_col, "cosine", "__isnull", "__isnan"]

        def emit(qid, cid, cos, isnull=False, isnan=False):
            o_q.append(qid)
            o_c.append(cid)
            o_v.append(cos)
            o_nl.append(isnull)
            o_nn.append(isnan)

        def k_smallest(sorted_ids, qid):
            picked = []
            for cid in sorted_ids:
                if cid == qid:
                    continue
                picked.append(cid)
                if len(picked) == k:
                    break
            return picked

        for pdf in it:
            o_q: list = []
            o_c: list = []
            o_v: list = []
            o_nl: list = []
            o_nn: list = []
            n = len(pdf)
            if n and (gmats or null_q):
                ids = pdf[id_col].to_numpy()
                vecs = pdf[vec_col]
                order = pdf[id_col].argsort(kind="stable").to_numpy()
                rank = np.empty(n, dtype="int64")
                rank[order] = np.arange(n)
                ids_sorted = ids[order]
                # a row's zero-norm status dominates its length: the
                # fold's `denom > 0` guard fires BEFORE the mismatch
                # NULL can (cosine([], x) = cosine([0,0], x) = 0.0).
                # Under codes8 zero-ness is judged on the quantized
                # values (a nonfinite-only vector codes to all-zero).
                lens = np.empty(n, dtype="int64")
                zerom = np.zeros(n, dtype=bool)
                for i in range(n):
                    v = vecs.iloc[i]
                    if v is None:
                        lens[i] = -1
                        zerom[i] = True
                        continue
                    lens[i] = len(v)
                    if lens[i] == 0:
                        zerom[i] = True
                        continue
                    a = np.asarray(v, dtype="float64")
                    if codes8:
                        # integer-valued codes cannot underflow
                        zerom[i] = not np.any(
                            np.where(np.isfinite(a), a, 0.0)
                        )
                    else:
                        # judged on the COMPUTED norm: squares of
                        # subnormals underflow to 0.0 exactly as the
                        # fold's sum-of-squares does
                        zerom[i] = float((a * a).sum()) == 0.0
                # null/empty queries: cosine 0.0 against every corpus row
                for qid in null_q:
                    for cid in k_smallest(ids_sorted, qid):
                        emit(qid, cid, 0.0)
                for d, qids_g, Q in gmats:
                    ok = np.where(lens == d)[0]
                    other = lens[order] != d
                    other_sorted = [cid for cid in ids_sorted[other]]
                    other_zero_sorted = [
                        cid for cid in ids_sorted[other & zerom[order]]
                    ]
                    other_pos_sorted = [
                        cid for cid in ids_sorted[other & ~zerom[order]]
                    ]
                    cos = None
                    if len(ok):
                        V = np.stack(
                            [
                                np.asarray(vecs.iloc[i], dtype="float64")
                                for i in ok
                            ]
                        )
                        if codes8:
                            fin = np.isfinite(V)
                            amax = np.where(fin, np.abs(V), 0.0).max(1)
                            scale = np.where(amax > 0, amax / 127.0, 0.0)
                            s = np.where(scale > 0, scale, 1.0)[:, None]
                            X = np.where(
                                fin & (scale[:, None] > 0), V / s, 0.0
                            )
                            V = np.copysign(np.floor(np.abs(X) + 0.5), X)
                        denom = (
                            np.sqrt((V * V).sum(1))[:, None]
                            * np.sqrt((Q * Q).sum(1))[None, :]
                        )
                        with np.errstate(invalid="ignore", over="ignore"):
                            dots = V @ Q.T
                            cos = np.divide(
                                dots,
                                denom,
                                out=np.zeros_like(dots),
                                where=denom != 0,
                            )
                    ids_ok = ids[ok]
                    rank_ok = rank[ok]
                    for j, qid in enumerate(qids_g):
                        if qid in zero_q_set:
                            # zero-norm query: denom 0 everywhere; the
                            # matrix covers matched rows, the rest are
                            # all in the 0.0 class
                            for cid in k_smallest(other_sorted, qid):
                                emit(qid, cid, 0.0)
                        else:
                            # zero-norm rows score 0.0 regardless of
                            # length; positive-norm length-mismatched
                            # rows score NULL (sorted last)
                            for cid in k_smallest(other_zero_sorted, qid):
                                emit(qid, cid, 0.0)
                            for cid in k_smallest(other_pos_sorted, qid):
                                emit(qid, cid, 0.0, isnull=True)
                        if cos is None:
                            continue
                        _emit_col_topk(
                            np, cos[:, j], ids_ok, rank_ok, qid, k, emit
                        )
            yield pd.DataFrame(dict(zip(cols, [o_q, o_c, o_v, o_nl, o_nn])))

    return _finish_gemm_topk(
        corpus.select(id_col, vec_col).mapInPandas(gen, schema),
        query_id_col, id_col, k,
    )


def _finish_gemm_topk(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """Shared tail of the gemm coarse passes: reconstruct the NULL/NaN
    marker classes (the Arrow serializer folds float NaN to NULL, so
    they ride booleans), then the k-bounded merge window — the phase-1
    emissions are ≤ a few·k rows per (query, batch), so this window is
    never corpus-sized."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn(
            "cosine",
            F.when(F.col("__isnull"), F.lit(None).cast("double"))
            .when(F.col("__isnan"), F.lit(float("nan")))
            .otherwise(F.col("cosine")),
        )
        .drop("__isnull", "__isnan")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn").alias("rank"))
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, for oracle-scale
    inputs and for verifying ANN candidates. O(n²): do NOT run on the
    full corpus at scale; `ann` variants generate candidates there."""
    a = corpus.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("__va"))
    b = corpus.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("__vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _resolve_impl(impl: str) -> str:
    """Shared ``impl`` switch for the projection stages: ``"auto"``
    resolves to the Arrow gemm — production callers always get the
    fast path, INCLUDING ones that supply their own trained
    centroids/codebooks (reusing a trained quantizer across runs must
    not silently cost 10× more than retraining; measured: pretrained
    IVF at sf1 was 5.0 s on the fold vs 2.3 s on the gemm). Only the
    DuckDB-graded registry queries pass ``impl="sql"`` explicitly —
    their oracles replay the fold's left-to-right accumulation order,
    which is the one consumer that genuinely needs it."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError("impl must be 'auto', 'arrow' or 'sql'")
    return "arrow" if impl == "auto" else impl


def _with_centroid_dists(
    df: DataFrame,
    key_col: str,
    vec_field: str,
    centroids: list[list[float]],
    out_col: str = "__cd",
    impl: str = "arrow",
    require_finite: bool = False,
) -> DataFrame:
    """Append ``out_col: array<double>`` of squared L2 distances from
    ``vec_field`` (already ``array<double>``) to each centroid.

    ``impl="arrow"``: one ‖v‖² − 2·V·Cᵀ + ‖c‖² gemm per Arrow batch —
    the production path (k·dim multiply-adds per row through BLAS
    instead of an interpreted Catalyst fold; see module docstring for
    the measured 100× per-row gap). Rows whose vector is NULL or has
    the wrong length get a NULL distance array (same downstream
    behavior as the fold path: they join/assign to nothing).
    ``require_finite=True`` (arrow only) additionally NULLs rows with
    NaN/Inf elements — it replaces the callers' Catalyst ``exists``
    validity gate, which is itself an interpreted O(dim)-per-row HOF.
    ``impl="sql"``: the fold expression — strict left-to-right sums,
    mirrored addition-for-addition by the DuckDB oracles, required
    when ``centroids`` is a pinned grading literal."""
    if impl == "sql":
        return df.withColumn(out_col, _centroid_dists(F.col(vec_field), centroids))
    import numpy as np

    C = np.asarray(centroids, dtype="float64")
    cn2 = (C * C).sum(1)
    dim = C.shape[1]
    key_type = dict(df.dtypes)[key_col]
    schema = (
        f"{key_col} {key_type}, {vec_field} array<double>, "
        f"{out_col} array<double>"
    )

    def gen(it):
        import pandas as pd

        for pdf in it:
            vecs = pdf[vec_field]
            dists = [None] * len(pdf)
            ok = [
                i
                for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
            ]
            if ok:
                V = np.stack([np.asarray(vecs.iloc[i], dtype="float64") for i in ok])
                if require_finite:
                    fin = np.isfinite(V).all(1)
                    ok = [i for i, f in zip(ok, fin) if f]
                    V = V[fin]
            if ok:
                D = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + cn2[None, :]
                for r, i in enumerate(ok):
                    dists[i] = D[r]
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    vec_field: vecs,
                    out_col: dists,
                }
            )

    return df.select(key_col, vec_field).mapInPandas(gen, schema)


def _hyperplane_buckets_gemm(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    tables: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    keep_dots: bool,
) -> DataFrame:
    """Arrow path of :func:`hyperplane_buckets`: all tables' planes
    stacked into one (n_tables·n_planes × dim) matrix, dots = one
    ``V @ Pᵀ`` gemm per batch, sign-bit packing in numpy. NULL /
    wrong-length vectors yield NULL buckets."""
    import numpy as np

    P = np.asarray(
        [row for tbl in tables for row in tbl], dtype="float64"
    )  # (n_tables*n_planes, dim)
    bits = np.asarray([float(1 << i) for i in range(n_planes)])
    id_type = dict(df.dtypes)[id_col]
    fields = [f"{id_col} {id_type}", "__v array<double>"]
    for t in range(n_tables):
        if keep_dots:
            fields.append(f"dots_{t} array<double>")
        fields.append(f"bucket_{t} long")
    schema = ", ".join(fields)

    def gen(it):
        import pandas as pd

        for pdf in it:
            vecs = pdf[vec_col]
            n = len(pdf)
            ok = [
                i
                for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
            ]
            out: dict = {id_col: pdf[id_col]}
            out["__v"] = [
                np.asarray(v, dtype="float64") if v is not None else None
                for v in vecs
            ]
            cols: dict = {}
            for t in range(n_tables):
                if keep_dots:
                    cols[f"dots_{t}"] = [None] * n
                cols[f"bucket_{t}"] = np.full(n, np.nan)
            if ok:
                V = np.stack([out["__v"][i] for i in ok])
                D = V @ P.T  # (len(ok), n_tables*n_planes)
                S = D > 0
                for t in range(n_tables):
                    sl = slice(t * n_planes, (t + 1) * n_planes)
                    bkt = (S[:, sl] * bits).sum(1)
                    cols[f"bucket_{t}"][ok] = bkt
                    if keep_dots:
                        dcol = cols[f"dots_{t}"]
                        for r, i in enumerate(ok):
                            dcol[i] = D[r, sl]
            out.update(cols)
            o = pd.DataFrame(out)
            for t in range(n_tables):
                o[f"bucket_{t}"] = o[f"bucket_{t}"].astype("Int64")
            yield o

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def _rowwise_cosine(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: list[str],
    impl: str = "arrow",
    out_col: str = "cosine",
) -> DataFrame:
    """Score candidate pairs ``cosine(a_col, b_col)`` row-wise.

    ``impl="arrow"``: one vectorized einsum per Arrow batch — the
    production path for candidate frames that are bucket/cell-bounded
    but still large (an IVF probe touches corpus·n_probe/n_centroids
    rows per query; the interpreted fold at ~1 ms/pair turns that into
    minutes at 10⁵ candidates). Only ``keep_cols`` + ``out_col``
    survive (the vector payloads are consumed here — at 100 TB they
    must not ride any further through the plan).
    ``impl="sql"``: the Catalyst fold, whose strict left-to-right
    accumulation the DuckDB oracle twins replay (graded variants).

    Degenerate semantics mirror :func:`cosine_similarity` exactly:
    NULL vector either side → 0.0, length-mismatched pair → NULL,
    zero norm → 0.0, NaN arithmetic → NaN (markers carry NULL/NaN
    through Arrow — the serializer folds float NaN to NULL)."""
    if impl == "sql":
        return df.withColumn(
            out_col, cosine_similarity(F.col(a_col), F.col(b_col))
        ).select(*keep_cols, out_col)
    import numpy as np

    dtypes = dict(df.dtypes)
    schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in keep_cols]
        + [f"{out_col} double", "__isnull boolean", "__isnan boolean"]
    )

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            va = pdf[a_col]
            vb = pdf[b_col]
            cos = np.zeros(n)
            isnull = np.zeros(n, dtype=bool)
            isnan = np.zeros(n, dtype=bool)
            groups: dict[int, list] = {}
            for i in range(n):
                x, y = va.iloc[i], vb.iloc[i]
                if x is None or y is None:
                    continue  # cosine 0.0
                if len(x) != len(y):
                    # zero norm on either side dominates the length
                    # mismatch (the fold's denom > 0 guard fires first)
                    xa = np.asarray(x, dtype="float64")
                    ya = np.asarray(y, dtype="float64")
                    if (
                        float((xa * xa).sum()) == 0.0
                        or float((ya * ya).sum()) == 0.0
                    ):
                        continue  # cosine 0.0 (subnormal squares
                        # underflow to 0.0, matching the fold's sum)
                    isnull[i] = True
                    continue
                groups.setdefault(len(x), []).append(i)
            for d, idx in groups.items():
                A = np.stack(
                    [np.asarray(va.iloc[i], dtype="float64") for i in idx]
                )
                B = np.stack(
                    [np.asarray(vb.iloc[i], dtype="float64") for i in idx]
                )
                with np.errstate(invalid="ignore", over="ignore"):
                    dots = np.einsum("ij,ij->i", A, B)
                    denom = np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1))
                    vals = np.divide(
                        dots, denom, out=np.zeros_like(dots), where=denom != 0
                    )
                cos[idx] = np.where(np.isnan(vals), 0.0, vals)
                isnan[idx] = np.isnan(vals)
            out = {c: pdf[c] for c in keep_cols}
            out[out_col] = cos
            out["__isnull"] = isnull
            out["__isnan"] = isnan
            yield pd.DataFrame(out)

    return (
        df.select(*keep_cols, a_col, b_col)
        .mapInPandas(gen, schema)
        .withColumn(
            out_col,
            F.when(F.col("__isnull"), F.lit(None).cast("double"))
            .when(F.col("__isnan"), F.lit(float("nan")))
            .otherwise(F.col(out_col)),
        )
        .drop("__isnull", "__isnan")
    )


def _cosine_vs_queries(
    df: DataFrame,
    vec_col: str,
    query_id_col: str,
    q_rows,
    keep_cols: list[str],
    out_col: str = "cosine",
) -> DataFrame:
    """Arrow candidate scoring against a DRIVER-SIZED query batch:
    the query vectors (and their norms) ride the task closure, so the
    candidate frame entering Python carries ONE vector per row instead
    of two — half the Arrow bytes of :func:`_rowwise_cosine`, and the
    upstream join never ships ``__qv`` at all. Use when one side of
    every pair is the broadcast query batch (all kNN tiers); use
    :func:`_rowwise_cosine` when both sides are corpus-sized
    (near-dedup pair verification).

    Degenerate semantics mirror :func:`cosine_similarity` per pair:
    NULL vector either side → 0.0, length mismatch → NULL, zero norm
    → 0.0, NaN → NaN (marker columns — Arrow folds float NaN to
    NULL)."""
    import numpy as np

    qmap = {}
    for r in q_rows:
        if r[1] is None:
            qmap[r[0]] = None
        else:
            qv = np.asarray(r[1], dtype="float64")
            with np.errstate(invalid="ignore", over="ignore"):
                qmap[r[0]] = (qv, np.sqrt((qv * qv).sum()))
    dtypes = dict(df.dtypes)
    schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in keep_cols]
        + [f"{out_col} double", "__isnull boolean", "__isnan boolean"]
    )

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            vs = pdf[vec_col]
            qids = pdf[query_id_col]
            cos = np.zeros(n)
            isnull = np.zeros(n, dtype=bool)
            isnan = np.zeros(n, dtype=bool)
            groups: dict[int, list] = {}
            for i in range(n):
                q = qmap.get(qids.iloc[i])
                v = vs.iloc[i]
                if q is None or v is None:
                    continue  # cosine 0.0
                if len(v) != len(q[0]):
                    # zero norm on either side dominates the length
                    # mismatch (the fold's denom > 0 guard fires first)
                    va_ = np.asarray(v, dtype="float64")
                    if q[1] == 0.0 or float((va_ * va_).sum()) == 0.0:
                        continue  # cosine 0.0 (subnormal squares
                        # underflow to 0.0, matching the fold's sum)
                    isnull[i] = True
                    continue
                groups.setdefault(len(v), []).append(i)
            for d, idx in groups.items():
                V = np.stack(
                    [np.asarray(vs.iloc[i], dtype="float64") for i in idx]
                )
                Q = np.stack([qmap[qids.iloc[i]][0] for i in idx])
                qn = np.fromiter(
                    (qmap[qids.iloc[i]][1] for i in idx),
                    dtype="float64", count=len(idx),
                )
                with np.errstate(invalid="ignore", over="ignore"):
                    dots = np.einsum("ij,ij->i", V, Q)
                    denom = np.sqrt((V * V).sum(1)) * qn
                    vals = np.divide(
                        dots, denom, out=np.zeros_like(dots), where=denom != 0
                    )
                cos[idx] = np.where(np.isnan(vals), 0.0, vals)
                isnan[idx] = np.isnan(vals)
            out = {c: pdf[c] for c in keep_cols}
            out[out_col] = cos
            out["__isnull"] = isnull
            out["__isnan"] = isnan
            yield pd.DataFrame(out)

    return (
        df.select(*dict.fromkeys([*keep_cols, query_id_col]), vec_col)
        .mapInPandas(gen, schema)
        .withColumn(
            out_col,
            F.when(F.col("__isnull"), F.lit(None).cast("double"))
            .when(F.col("__isnan"), F.lit(float("nan")))
            .otherwise(F.col(out_col)),
        )
        .drop("__isnull", "__isnan")
    )


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_dots: bool = False,
    planes: list[list[list[float]]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Random-hyperplane LSH bucket ids: per table t, the sign bits of
    ``n_planes`` dot products pack into one BIGINT bucket key.

    Physical plan (``impl``, see :func:`_resolve_impl`): the default
    production path stacks all ``n_tables × n_planes`` planes into one
    matrix and computes every dot product as a single ``V @ Pᵀ`` BLAS
    gemm per Arrow batch (``mapInPandas``) — measured ~1000× less
    per-row cost than the Catalyst higher-order-function fold, which
    interprets its lambda per element (module docstring has numbers).
    Rows with NULL / wrong-length vectors get NULL buckets (they
    candidate-match nothing). The ``impl="sql"`` fold path ships the
    planes as ONE nested array literal per table with
    ``transform``+``zip_with``/``aggregate`` folds — kept because its
    strict left-to-right accumulation is what the pinned-plane DuckDB
    oracles replay (the graded registry queries request it
    explicitly; every other caller, pinned planes or not, defaults to
    the gemm).

    ``keep_dots`` also emits the raw dot-product array per table
    (``dots_{t}``) — the margin information multi-probe querying needs
    (query side only; the corpus never pays for it).

    ``planes`` overrides the seeded Gaussian planes with an explicit
    per-table matrix list (``planes[t][p][j]``) — the PINNED variant
    that makes the bucket keys a pure function of the corpus (a
    DuckDB oracle can recompute them; see ``x_ann_knn``). Rademacher
    (±1) pinned planes keep every dot-product addend exact, so the
    sign test is bit-identical across engines."""
    if planes is not None and len(planes) != n_tables:
        raise ValueError("planes must supply one matrix per table")
    if _resolve_impl(impl) == "arrow":
        tbls = (
            planes
            if planes is not None
            else [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        )
        return _hyperplane_buckets_gemm(
            df, dim, n_planes, n_tables, tbls, id_col, vec_col, keep_dots
        )
    v = _as_double(F.col(vec_col))
    out = df.select(id_col, v.alias("__v"))
    bit_weights = [float(1 << p_i) for p_i in range(n_planes)]
    # NULL / wrong-length vectors must get NULL buckets on THIS path
    # too: the unguarded fold's `when(dot > 0)` treats the NULL dots
    # as false and packs every invalid row into bucket 0 — at scale a
    # skew bomb where all invalid rows candidate-match each other
    # (caught by the arrow-vs-sql hypothesis fuzz)
    valid = F.col("__v").isNotNull() & (F.size("__v") == dim)
    for t in range(n_tables):
        tp = planes[t] if planes is not None else _hyperplanes(dim, n_planes, seed + 1000 * t)
        dots = F.transform(
            F.lit(tp),
            lambda plane: F.aggregate(
                F.zip_with(F.col("__v"), plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        out = out.withColumn(f"dots_{t}", dots)
        key = F.aggregate(
            F.zip_with(
                F.col(f"dots_{t}"),
                F.lit(bit_weights),
                lambda d, w: F.when(d > 0, w).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("bigint")
        out = out.withColumn(
            f"bucket_{t}",
            F.when(valid, key).otherwise(F.lit(None).cast("bigint")),
        )
        if not keep_dots:
            out = out.drop(f"dots_{t}")
    return out


def ann_hyperplane_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probes: int = 0,
    planes: list[list[list[float]]] | None = None,
    impl: str = "auto",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: a candidate is any corpus vector sharing at
    least one table's bucket with the query; candidates are scored
    exactly and ranked. Recall grows with n_tables; per-probe cost
    shrinks ~2^n_planes-fold vs brute force. ``impl`` selects the
    bucket-projection path (Arrow gemm vs Catalyst fold — see
    :func:`hyperplane_buckets`); the corpus-side projection dominates
    the operator's cost, so the default gemm path is the headline win.

    ``n_probes`` > 0 enables margin-aware MULTI-PROBE (Lv et al. 2007):
    each query additionally probes the ``n_probes`` neighboring buckets
    obtained by flipping, one at a time, its lowest-|margin| sign bits
    (the bits most likely misassigned for a true near neighbor). That
    buys LSH-table-equivalent recall WITHOUT replicating the corpus
    index: the cost is query-side only — the corpus stays bucketed
    once per table, and the (table, bucket) join just sees
    ``1 + n_probes`` keys per query per table. At 100 TB the corpus
    index is the expensive artifact; multi-probe is the knob that
    trades a few extra broadcast-side keys for fewer stored tables.

    ``max_bucket`` (:func:`_cap_bucket_fanout`) bounds the corpus-side
    per-(table, bucket) fan-out against natural hot clusters — each
    query then scores at most ~n_tables·(1+n_probes)·max_bucket
    candidates regardless of corpus skew. Off by default."""
    cb = hyperplane_buckets(
        _widen_for_fanout(corpus.select(id_col, vec_col)),
        dim, n_planes, n_tables, seed, id_col, vec_col, planes=planes,
        impl=impl,
    )
    qb = hyperplane_buckets(
        queries, dim, n_planes, n_tables, seed, query_id_col, vec_col,
        keep_dots=n_probes > 0, planes=planes, impl=impl,
    )
    buckets = [F.col(f"bucket_{t}") for t in range(n_tables)]
    # posexplode the per-table keys → ONE corpus scan + ONE join on
    # (table, bucket), instead of n_tables scan+join+union branches.
    cbe = cb.select(
        id_col, "__v", F.posexplode(F.array(*buckets)).alias("__t", "__b")
    )
    if max_bucket is not None:
        cbe = _cap_bucket_fanout(cbe, ["__t", "__b"], id_col, max_bucket, seed)
    if n_probes > 0:
        # per table: [base] ++ [base XOR 2^i for the n_probes bits
        # with the smallest |dot| margin] — all Catalyst, no UDF
        probe_arrays = []
        for t in range(n_tables):
            base = F.col(f"bucket_{t}")
            margin_idx = F.transform(
                F.array_sort(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(n_planes - 1)),
                        lambda i: F.struct(
                            F.abs(
                                F.element_at(F.col(f"dots_{t}"), (i + 1).cast("int"))
                            ).alias("m"),
                            i.alias("i"),
                        ),
                    )
                ),
                lambda s: s.getField("i"),
            )
            # shiftleft() needs a literal bit count; 2^i via pow is
            # exact in double up to 2^52 >> any n_planes
            flips = F.transform(
                F.slice(margin_idx, 1, n_probes),
                lambda i: base.bitwiseXOR(
                    F.pow(F.lit(2.0), i.cast("double")).cast("bigint")
                ),
            )
            probe_arrays.append(F.concat(F.array(base), flips))
        qbe = (
            qb.select(
                query_id_col,
                F.col("__v").alias("__qv"),
                F.posexplode(F.array(*probe_arrays)).alias("__t", "__probes"),
            )
            .select(
                query_id_col, "__qv", "__t", F.explode("__probes").alias("__b")
            )
        )
    else:
        qbe = qb.select(
            query_id_col,
            F.col("__v").alias("__qv"),
            F.posexplode(F.array(*buckets)).alias("__t", "__b"),
        )
    path = _resolve_impl(impl)
    if path == "arrow":
        # the query vectors ride the scoring closure (queries are
        # driver-sized by the same contract that broadcasts qbe), so
        # the candidate join ships bucket keys only — no __qv column
        cands = (
            cbe.join(F.broadcast(qbe.drop("__qv")), ["__t", "__b"])
            .filter(F.col(id_col) != F.col(query_id_col))
            .dropDuplicates([query_id_col, id_col])
        )
        scored = _cosine_vs_queries(
            cands, "__v", query_id_col,
            _collect_query_batch(queries, query_id_col, vec_col),
            [query_id_col, id_col],
        )
    else:
        cands = (
            cbe.join(F.broadcast(qbe), ["__t", "__b"])
            .filter(F.col(id_col) != F.col(query_id_col))
            .dropDuplicates([query_id_col, id_col])
        )
        scored = _rowwise_cosine(
            cands, "__qv", "__v", [query_id_col, id_col], impl="sql"
        )
    # candidates are bucket-bounded, but reuse the two-phase top-k so
    # a hot bucket cannot create a corpus-sized ranking partition.
    return _topk_per_query(scored, query_id_col, id_col, k)


def _kmeans_centroids(vectors, k: int, n_iter: int = 10, seed: int = 42):
    """Driver-side Lloyd's k-means on a bounded training sample — the
    IVF coarse quantizer. Centroids are model parameters (k×dim
    doubles), small by construction; the full corpus never leaves the
    executors."""
    import numpy as np

    rng = np.random.RandomState(seed)
    v = np.asarray(vectors, dtype="float64")
    idx = rng.choice(len(v), size=min(k, len(v)), replace=False)
    C = v[idx].copy()
    for _ in range(n_iter):
        d = ((v[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(len(C)):
            m = v[a == j]
            if len(m):
                C[j] = m.mean(0)
    return C.tolist()


def _centroid_dists(vec_col, centroids: list[list[float]]):
    """array<double> of squared L2 distances from ``vec_col`` to each
    centroid — a transform/fold over ONE nested-array literal (no UDF,
    no shuffle; same plan-size discipline as hyperplane_buckets)."""
    return F.transform(
        F.lit(centroids),
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def nearest_centroid(dists):
    """0-based index of the smallest entry of the distance array
    ``dists`` (ties → the lowest cell) — the one assignment rule of the
    IVF, PQ and k-means paths; NULL when ``dists`` is NULL."""
    return F.array_position(dists, F.array_min(dists)) - 1


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_train: int = 2048,
    train_fraction: float = 1.0,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    beside hyperplane LSH: a driver-trained coarse quantizer partitions
    the corpus into ``n_centroids`` cells; each query probes its
    ``n_probe`` nearest cells and scores only those candidates.

    Spark shape: corpus cell assignment computes the centroid-distance
    array on the Arrow gemm path by default (``impl``, see
    :func:`_with_centroid_dists` — the n_centroids·dim fold per row is
    the operator's dominant cost and the interpreted Catalyst
    higher-order functions are ~100× slower per row); the graded
    registry queries pass ``impl="sql"`` so the DuckDB oracle can
    replay the fold's exact accumulation order, and supplied
    ``centroids`` otherwise still get the gemm (a reused trained
    quantizer must not cost more than retraining: measured 5.0 s fold
    vs 2.3 s gemm at sf1). The argmin / probe-list logic on the
    materialized distance array is identical either way: the probe list
    is ``array_sort(struct(dist, cell))[:n_probe]`` exploded on the
    broadcast query side; candidates come from ONE equi-join on
    ``__cell``; exact cosine + the two-phase top-k rank them. Expected
    per-query work ≈ corpus·n_probe/n_centroids.

    ``train_fraction`` bounds the k-means sample scan at scale (the
    sample itself is capped at ``n_train`` rows).

    ``centroids`` skips quantizer training and pins the coarse cells
    as explicit literals — the deterministic variant whose cell
    assignment and probe order a SQL oracle can recompute (see
    ``x_ann_ivf_knn``); the trained path stays the production default."""
    path = _resolve_impl(impl)
    # the double cast is itself an interpreted HOF — the arrow path
    # casts in numpy inside the gemm (float32 -> float64 is exact, so
    # the trained quantizer is identical either way)
    c = _widen_for_fanout(
        corpus.select(
            F.col(id_col),
            (
                F.col(vec_col) if path == "arrow"
                else _as_double(F.col(vec_col))
            ).alias("__v"),
        )
    )
    if centroids is not None:
        cents = [[float(x) for x in cc] for cc in centroids]
    else:
        # _train_quantizer expects a pre-validated __v column: NULL or
        # wrong-dimension vectors in the bottom-k sample would hand
        # driver-side k-means a ragged array (real corpora have them;
        # a validity no-op on clean data, so trained centroids are
        # unchanged there)
        sample = c.filter(
            F.col("__v").isNotNull()
            & (F.size("__v") == dim)
            & ~F.exists(
                F.col("__v"),
                lambda x: F.isnan(x.cast("double"))
                | x.isin(float("inf"), float("-inf")),
            )
        )
        if train_fraction < 1.0:
            sample = sample.sample(fraction=train_fraction, seed=seed)
        cents = _train_quantizer(
            sample, n_centroids, n_train, n_kmeans_iter, seed, id_col=id_col
        )
    if not cents:
        raise ValueError(
            "IVF training sample is empty — raise train_fraction/n_train "
            "or check the corpus"
        )

    with_cd = _with_centroid_dists(c, id_col, "__v", cents, "__cd", impl=path)
    assigned = with_cd.withColumn(
        "__cell", nearest_centroid(F.col("__cd")).cast("int")
    ).drop("__cd")

    # query side: a handful of rows — the fold expression is fine and
    # keeps the probe list purely declarative
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv")
    )
    qd = _centroid_dists(F.col("__qv"), cents)
    ranked_cells = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(cents))),
            lambda i: F.struct(
                F.element_at(qd, i).alias("d"), (i - 1).cast("int").alias("cell")
            ),
        )
    )
    probes = F.transform(
        F.slice(ranked_cells, 1, n_probe), lambda s: s.getField("cell")
    )
    if path == "arrow":
        # query vectors ride the scoring closure (driver-sized batch);
        # the probe join ships only (query_id, cell)
        qe = q.select(query_id_col, F.explode(probes).alias("__cell"))
        scored = _cosine_vs_queries(
            assigned.join(F.broadcast(qe), "__cell").filter(
                F.col(id_col) != F.col(query_id_col)
            ),
            "__v", query_id_col,
            _collect_query_batch(queries, query_id_col, vec_col),
            [query_id_col, id_col],
        )
    else:
        qe = q.select(
            query_id_col, "__qv", F.explode(probes).alias("__cell")
        )
        scored = _rowwise_cosine(
            assigned.join(F.broadcast(qe), "__cell").filter(
                F.col(id_col) != F.col(query_id_col)
            ),
            "__qv", "__v", [query_id_col, id_col], impl="sql",
        )
    return _topk_per_query(scored, query_id_col, id_col, k)


def embedding_near_dedup(
    corpus: DataFrame,
    threshold: float = 0.98,
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster: bool = True,
    planes: list[list[list[float]]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-dedup: LSH candidates → exact cosine
    verify ≥ threshold → connected-components closure; keep the
    minimum id of each duplicate cluster (``cluster=False``: pairwise
    higher-id drop, which misses transitive chains). Returns the
    surviving rows of ``corpus``. ``planes`` pins the LSH projections
    (see :func:`hyperplane_buckets`) for the oracle-graded variant;
    ``impl`` selects the projection path (Arrow gemm default).

    The band self-join and the drop rule are the near-dup family's
    (:func:`.graph._band_pairs`, :func:`.graph.drop_duplicates_of`).
    The bucket frame is a LAZY barrier, unlike the Hamming family's
    eager one (:func:`.text._hamming_band_keys`): traced, the corpus
    is derived once for the join and once for the final anti-join,
    with no recompute race. Call-time cost (see ``session.barrier``):
    with ``cluster=True`` the closure's eager edge barrier
    (:func:`.graph.connected_components`) runs the candidate and
    verify jobs when the operator is called."""
    # Lazy barrier on the pre-explode bucket frame (corpus + n_tables
    # longs per row): the a/b self-join below otherwise re-executes the
    # n_tables × n_planes × dim hyperplane dot products once per side.
    cb = barrier(hyperplane_buckets(
        _widen_for_fanout(corpus), dim, n_planes, n_tables, seed,
        id_col, vec_col, planes=planes, impl=impl,
    ), lazy=True)
    a, b = _band_sides(
        cb, id_col, F.array(*[F.col(f"bucket_{t}") for t in range(n_tables)]),
        {"__v": "__v"},
    )
    verified = _rowwise_cosine(
        _band_pairs(a, b), "__va", "__vb", ["__ida", "__idb"],
        impl=_resolve_impl(impl),
    ).filter(F.col("cosine") >= threshold)
    return drop_duplicates_of(corpus, verified, id_col, "__ida", "__idb", cluster)


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    eps: float = 0.05,
    n_centroids: int = 16,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "low",
    centroids: list[list[float]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, then
    within each cluster mark every pair with cosine similarity
    >= 1 - eps as semantic duplicates, close the pairs into groups,
    and keep exactly ONE document per group — by default the member
    with the LOWEST cosine to its cluster centroid (the paper's
    keep-low rule: retain the least-prototypical example; ``keep`` may
    also be 'high' or 'min_id'). Returns the surviving rows of
    ``corpus``. Extends the reference's T5 exact dedup
    (/root/reference/SDE_forecast_ActiveSampling.py:134-135) to
    embedding space.

    Spark shape (the paper's own scaling design): the coarse quantizer
    is a driver-trained k-means on a bounded ``n_train`` sample (model
    parameters only — the corpus never leaves the executors); cell
    assignment is a pure Catalyst projection (argmin over a
    centroid-literal distance array, zero UDF); the O(c^2) pairwise
    similarity runs INSIDE each cluster via one ``applyInPandas`` pass
    — numpy Gram matrix per cluster, never a corpus-level cross join.
    Per-cluster cost is (corpus/n_centroids)^2·dim, so ``n_centroids``
    scales linearly with the corpus to hold cluster sizes roughly
    constant (the paper runs k=50k on 5B embeddings). The grouped
    output is the DROP-id set only, but that set is corpus-shaped —
    the paper's own workload prunes ~50% of the corpus — so the final
    anti-join carries NO broadcast hint (round 15): AQE broadcasts it
    when the measured size allows and shuffles on the slim id key
    otherwise. Cross-cluster duplicates are missed by
    design — that is SemDeDup's stated approximation; pair with
    ``embedding_near_dedup`` (LSH) when cross-cluster recall matters.

    ``centroids`` (optional) skips quantizer training and assigns
    cells against the given k×dim model — reuse a trained quantizer
    across runs, or pin cells for grading: GIVEN fixed centroids the
    whole operator is deterministic and SQL-expressible (assignment =
    argmin distance, duplicate groups = recursive closure of in-cell
    cosine>=1-eps pairs, keep = min id), which is how the DuckDB
    oracle grades the keep/drop core (queries.py x_semdedup_core).
    """
    if keep not in ("low", "high", "min_id"):
        raise ValueError("keep must be 'low', 'high' or 'min_id'")
    thresh = 1.0 - eps

    # null / wrong-dimension / NaN / Inf vectors cannot be compared:
    # they pass through as survivors (excluded from clustering AND
    # from the drop set). The dim check also guards the per-cluster
    # np.stack against ragged arrays.
    valid = (
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == dim)
        & ~F.exists(
            _as_double(F.col(vec_col)),
            lambda x: F.isnan(x) | x.isin(float("inf"), float("-inf")),
        )
    )
    path = _resolve_impl(impl)
    # arrow path: the Catalyst `exists` validity gate is itself an
    # interpreted O(dim)-per-row HOF over the whole corpus — the gemm
    # performs the same gate in numpy (require_finite) and invalid
    # rows surface as a NULL cell, filtered before the pairwise stage.
    # The gate survives on the TRAINING scan only (one bounded pass
    # that must not feed NaN/Inf to driver-side k-means).
    if path == "arrow":
        c = corpus.select(F.col(id_col), F.col(vec_col).alias("__v"))
        train_src = corpus.filter(valid).select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
        )
    else:
        c = corpus.filter(valid).select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
        )
        train_src = c
    cents = (
        centroids
        if centroids is not None
        else _train_quantizer(
            train_src, n_centroids, n_train, n_kmeans_iter, seed, id_col=id_col
        )
    )
    if not cents:
        return corpus
    cd = F.col("__cd")
    assigned = (
        _with_centroid_dists(
            c, id_col, "__v", cents, "__cd", impl=path,
            require_finite=path == "arrow",
        )
        .select(
            id_col,
            "__v",
            nearest_centroid(cd).cast("int").alias("__cell"),
        )
    )
    if path == "arrow":
        assigned = assigned.filter(F.col("__cell").isNotNull())

    keep_rule = keep

    def drop_group(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"drop_id": pd.Series([], dtype=pdf[id_col].dtype)})
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype("float64")
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        U = V / norms[:, None]
        G = U @ U.T
        adj = G >= thresh
        np.fill_diagonal(adj, False)
        # union-find over the thresholded pairs (cluster-sized)
        parent = np.arange(n)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i, j in zip(*np.nonzero(np.triu(adj))):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[rj] = ri
        roots = np.fromiter((find(i) for i in range(n)), dtype="int64", count=n)
        # keep rule ranks by cosine to the cluster's own empirical
        # centroid (exact, magnitude-independent)
        ccos = U @ U.mean(0)
        drops = []
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            if len(members) < 2:
                continue
            if keep_rule == "min_id":
                order = np.lexsort((ids[members],))
            elif keep_rule == "low":  # least prototypical: lowest cos-to-centroid
                order = np.lexsort((ids[members], ccos[members]))
            else:  # 'high': most prototypical: highest cos-to-centroid
                order = np.lexsort((ids[members], -ccos[members]))
            drops.extend(ids[members[order[1:]]])
        return pd.DataFrame({"drop_id": np.asarray(drops, dtype=ids.dtype)})

    id_type = dict(corpus.dtypes)[id_col]
    drops = assigned.groupBy("__cell").applyInPandas(
        drop_group, schema=f"drop_id {id_type}"
    )
    # The drop set is corpus-shaped (SemDeDup's own reference workload
    # prunes ~50% of a 5B-embedding corpus), so no broadcast hint: AQE
    # broadcasts it when its measured size is small and shuffles it
    # otherwise — same policy as embedding_near_dedup / simhash / exact.
    return corpus.join(
        drops.withColumnRenamed("drop_id", id_col), id_col, "left_anti"
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    keep_vec: bool = False,
    impl: str = "auto",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale =
    max|v|/127``, ``q_i = round(v_i/scale)`` stored as
    ``array<tinyint>`` — 4-8x smaller than float32/64 arrays on disk
    and on the wire, the standard memory-bound trick for
    billion-vector search. The all-zero vector gets scale 0 and an
    all-zero code (dequantizes back to zeros).

    COSINE is scale-invariant, so ranking by cosine over the int8
    codes equals ranking over the dequantized vectors exactly —
    :func:`knn_quantized` exploits this and never materializes the
    dequantized doubles.

    ``impl`` (see :func:`_resolve_impl`): the default encodes per
    Arrow batch in numpy (the Catalyst ``transform``/``aggregate``
    chain is ~6 interpreted HOF passes per row); ``impl="sql"`` keeps
    the expression form whose float sequence the graded int8 oracle
    replays (both paths compute scale and codes with the identical
    float64 operations — HALF_UP rounding included — so codes agree
    except within 1 ulp of a .5 boundary, unobserved on real data).

    Non-finite elements (NaN/Inf — real corpora have them) quantize
    to 0 and are EXCLUDED from the scale computation: under Spark 4
    ANSI mode an unguarded ``NaN/scale`` would throw CAST_OVERFLOW on
    the tinyint cast and kill the job (pinned in
    tests/test_robustness.py). Null vectors pass through as null."""
    if _resolve_impl(impl) == "arrow":
        return _quantize_gemm(df, vec_col, qvec_col, scale_col, keep_vec)
    v = _as_double(F.col(vec_col))
    finite = lambda x: ~(F.isnan(x) | x.isin(float("inf"), float("-inf")))  # noqa: E731
    amax = F.array_max(
        F.transform(F.filter(v, finite), lambda x: F.abs(x))
    )
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    out = df.withColumn(scale_col, scale).withColumn(
        qvec_col,
        F.transform(
            v,
            lambda x: F.when(
                finite(x) & (F.col(scale_col) > 0), F.round(x / F.col(scale_col))
            ).otherwise(F.lit(0.0)).cast("tinyint"),
        ),
    )
    return out if keep_vec else out.drop(vec_col)


def _quantize_gemm(
    df: DataFrame,
    vec_col: str,
    qvec_col: str,
    scale_col: str,
    keep_vec: bool,
) -> DataFrame:
    """Arrow path of :func:`quantize_embeddings`: rows stack by
    length, scale/codes vectorize in numpy (HALF_UP rounding matches
    Spark's ``F.round``: ``copysign(floor(|x| + 0.5), x)``). All input
    columns pass through unchanged."""
    import numpy as np
    from pyspark.sql.types import (
        ByteType,
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        df.schema.fields
        + [
            StructField(scale_col, DoubleType()),
            StructField(qvec_col, ArrayType(ByteType())),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            vecs = pdf[vec_col]
            qv: list = [None] * n
            sc = np.zeros(n)
            groups: dict[int, list] = {}
            for i in range(n):
                v = vecs.iloc[i]
                if v is None:
                    continue  # NULL qvec, scale 0.0
                if len(v) == 0:
                    qv[i] = np.array([], dtype="int8")
                    continue
                groups.setdefault(len(v), []).append(i)
            for d, idx in groups.items():
                V = np.stack(
                    [np.asarray(vecs.iloc[i], dtype="float64") for i in idx]
                )
                fin = np.isfinite(V)
                amax = np.where(fin, np.abs(V), 0.0).max(1)
                scale = np.where(amax > 0, amax / 127.0, 0.0)
                s = np.where(scale > 0, scale, 1.0)[:, None]
                X = np.where(fin & (scale[:, None] > 0), V / s, 0.0)
                codes = np.copysign(np.floor(np.abs(X) + 0.5), X).astype(
                    "int8"
                )
                sc[idx] = scale
                for r, i in enumerate(idx):
                    qv[i] = codes[r]
            out = pdf.copy()
            out[scale_col] = sc
            out[qvec_col] = qv
            yield out[names]

    out = df.mapInPandas(gen, out_schema)
    return out if keep_vec else out.drop(vec_col)


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``v_i ≈ q_i * scale``
    (absolute error ≤ scale/2 per element, pinned in tests)."""
    return df.withColumn(
        vec_col,
        F.transform(F.col(qvec_col), lambda x: x.cast("double") * F.col(scale_col)),
    ).drop(qvec_col, scale_col)


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "auto",
) -> DataFrame:
    """Top-k cosine via int8-quantized first pass + full-precision
    rescore: phase 1 scores every candidate against the query on the
    int8 codes (cosine is per-vector-scale invariant, so this ranking
    IS the dequantized ranking) and keeps ``k*rescore_factor`` per
    query; phase 2 rescores only those candidates with the original
    vectors and takes the final k. At 100 TB the first pass streams
    codes at 1/4-1/8 the bytes of the raw embeddings — the scan is
    I/O-bound, so that is the wall-clock — while the rescore join
    touches k·rescore_factor rows per query.

    ``impl`` (see :func:`_resolve_impl`): the production default runs
    the coarse pass through :func:`_brute_knn_gemm` (one gemm on the
    code matrix per Arrow batch, batch-local top-k — the q·n coarse
    cross product never materializes) and the bounded rescore through
    :func:`_rowwise_cosine`; ``impl="sql"`` keeps the crossJoin+fold
    shape the graded ``x_knn_cosine`` part='int8' twin replays."""
    path = _resolve_impl(impl)
    q = queries.select(F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv"))
    if path == "arrow":
        q_rows = _collect_query_batch(queries, query_id_col, vec_col)
        q_id_type = dict(queries.dtypes)[query_id_col]
        # quantize + score + batch-local top-k fuse into ONE Arrow
        # stage (codes8): the codes never round-trip between stages
        coarse = _brute_knn_gemm(
            _widen_for_fanout(corpus.select(id_col, vec_col)),
            q_rows, k * rescore_factor,
            id_col, vec_col, query_id_col, q_id_type, codes8=True,
        ).select(query_id_col, id_col)
    else:
        cq = quantize_embeddings(
            _widen_for_fanout(corpus.select(id_col, vec_col)),
            vec_col=vec_col, keep_vec=True, impl=path,
        )
        codes = cq.select(
            id_col,
            F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("__cv"),
        )
        scored = (
            codes.crossJoin(F.broadcast(q))
            .filter(F.col(id_col) != F.col(query_id_col))
            .withColumn(
                "cosine", cosine_similarity(F.col("__qv"), F.col("__cv"))
            )
        )
        coarse = _topk_per_query(
            scored, query_id_col, id_col, k * rescore_factor
        ).select(query_id_col, id_col)
    if path == "arrow":
        # raw vectors, numpy cast; query vectors ride the closure —
        # the rescore needs no broadcast-q join at all
        full = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        rescored = _cosine_vs_queries(
            coarse.join(full, id_col), "__cv", query_id_col, q_rows,
            [query_id_col, id_col],
        )
    else:
        full = corpus.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__cv")
        )
        rescored = _rowwise_cosine(
            coarse.join(full, id_col).join(F.broadcast(q), query_id_col),
            "__qv", "__cv", [query_id_col, id_col], impl="sql",
        )
    return _topk_per_query(rescored, query_id_col, id_col, k)


# --------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN tier beyond int8
# --------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str | None = "vec_id",
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks (Jégou et al. 2011 product
    quantization): split each vector into ``m`` contiguous
    ``dim/m``-dimensional subvectors and run k-means independently in
    each subspace on a bounded driver sample (hash-ordered bottom-k —
    reproducible codebooks; see ``_train_quantizer``). Returns
    ``m × n_centroids × dim/m`` floats — model parameters (KBs), the
    same train-small/apply-wide contract as the IVF quantizer."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    import numpy as np

    if id_col is not None and id_col in corpus.columns:
        c = corpus.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
        )
        key = F.col(id_col)
    else:
        c = corpus.select(_as_double(F.col(vec_col)).alias("__v"))
        key = F.col("__v")
    train = [
        r["__v"]
        for r in c.withColumn("__hk", F.xxhash64(key, F.lit(seed)))
        .orderBy("__hk", key)
        .limit(n_train)
        .select("__v")
        .collect()
    ]
    v = np.asarray(train, dtype="float64")
    books = []
    for j in range(m):
        sub = v[:, j * dsub : (j + 1) * dsub]
        books.append(
            _kmeans_centroids(sub.tolist(), n_centroids, n_iter=n_kmeans_iter, seed=seed + j)
        )
    return books


def _pq_encode_gemm(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    code_col: str = "pq_code",
) -> DataFrame:
    """Arrow path of the PQ encode: per subspace j, distances to all
    centroids via one ``‖v_j‖² − 2·V_j·C_jᵀ + ‖c‖²`` gemm per batch,
    argmin = code. Returns ``(id_col, code_col)`` only — the coarse
    scan projection. NULL / wrong-length vectors get a NULL code."""
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    books = [np.asarray(b, dtype="float64") for b in codebooks]
    bn2 = [(b * b).sum(1) for b in books]
    code_type = "tinyint" if max(len(b) for b in codebooks) <= 128 else "smallint"
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, {code_col} array<{code_type}>"

    def gen(it):
        import pandas as pd

        for pdf in it:
            vecs = pdf[vec_col]
            codes = [None] * len(pdf)
            ok = [
                i
                for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
            ]
            if ok:
                V = np.stack([np.asarray(vecs.iloc[i], dtype="float64") for i in ok])
                parts = []
                for j in range(m):
                    Vj = V[:, j * dsub : (j + 1) * dsub]
                    D = (Vj * Vj).sum(1)[:, None] - 2.0 * (Vj @ books[j].T) + bn2[j][None, :]
                    parts.append(D.argmin(1))
                C = np.stack(parts, axis=1)
                for r, i in enumerate(ok):
                    codes[i] = C[r]
            yield pd.DataFrame({id_col: pdf[id_col], code_col: codes})

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector to ``m`` one-byte codes — nearest centroid
    per subspace. Pure Catalyst (slice + the same centroid-distance
    fold as IVF cell assignment), no UDF, no shuffle — and, because it
    is an expression that APPENDS a column to an arbitrary frame, the
    composable form (``knn_pq`` swaps in the Arrow gemm variant
    ``_pq_encode_gemm`` for its narrow corpus projection, where the
    interpreted fold's per-row cost dominates). At 100 TB the encode
    shrinks the stored/scanned bytes per vector from ``8·dim`` to
    ``m`` (e.g. 128-d float64 → 4-16 B, a 64-256× scan-volume
    reduction for the coarse pass)."""
    dsub = len(codebooks[0][0])
    # tinyint holds 0..127; classic 8-bit PQ (256 centroids) needs
    # smallint — an unconditional tinyint cast would WRAP codes
    # 128..255 negative and silently read the wrong LUT entries
    code_type = "tinyint" if max(len(b) for b in codebooks) <= 128 else "smallint"
    v = _as_double(F.col(vec_col))
    parts = []
    for j, book in enumerate(codebooks):
        sub = F.slice(v, j * dsub + 1, dsub)
        d = _centroid_dists(sub, book)
        parts.append(nearest_centroid(d).cast(code_type))
    return df.withColumn(code_col, F.array(*parts))


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 4,
    n_centroids: int = 16,
    rescore_factor: int = 4,
    n_train: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: list[list[list[float]]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Top-k cosine via PQ asymmetric-distance (ADC) coarse pass +
    full-precision rescore — the third ANN tier (beside hyperplane LSH
    and IVF) and the furthest-compressed one:

    * coarse pass: each corpus vector is represented by its ``m``-byte
      PQ code; the query side carries a per-query lookup table
      ``lut[j][c] = <q_subj, C_j[c]>`` (an ``m × n_centroids`` array
      built by one Catalyst fold over the codebook literal), so the
      approximate dot product is ``m`` table lookups per candidate —
      no O(dim) arithmetic and, crucially, no O(dim) scan bytes. The
      candidate norm ``|v|² ≈ Σ_j |C_j[code_j]|²`` is a
      query-INDEPENDENT codebook constant, folded the same way.
    * rescore: the top ``k·rescore_factor`` per query by ADC cosine
      join back their raw vectors for exact cosine, exactly like
      :func:`knn_quantized`.

    100 TB: the coarse scan reads ``m`` bytes + id per row — at
    m=8 over 768-d float32 that is ~384× less I/O than raw vectors —
    and the per-candidate work is m lookups; the rescore touches
    ``k·rescore_factor`` rows per query via an id equi-join. Unlike
    int8-SQ (exact ranking, 4-8×), PQ trades recall for compression;
    ``rescore_factor`` is the recall knob (pinned in tests)."""
    path = _resolve_impl(impl)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, dim, m=m, n_centroids=n_centroids, n_train=n_train, seed=seed,
            vec_col=vec_col, id_col=id_col,
        )
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    # corpus side: id + m-byte code only (the coarse-scan projection);
    # Arrow gemm encode on the production path, fold encode when the
    # codebooks are pinned grading literals (see _resolve_impl)
    if path == "arrow":
        codes = _pq_encode_gemm(
            _widen_for_fanout(corpus.select(id_col, vec_col)),
            codebooks, id_col=id_col, vec_col=vec_col,
        )
    else:
        codes = pq_encode(
            _widen_for_fanout(corpus.select(id_col, vec_col)),
            codebooks, vec_col=vec_col,
        ).select(id_col, "pq_code")

    if path == "arrow":
        q_rows = _collect_query_batch(queries, query_id_col, vec_col)
        q_id_type = dict(queries.dtypes)[query_id_col]
        coarse = _pq_coarse_topk_gemm(
            codes, q_rows, codebooks, k * rescore_factor,
            id_col, "pq_code", query_id_col, q_id_type,
        ).select(query_id_col, id_col)
        # rescore: raw vectors, query batch in the closure — no
        # broadcast-q join
        full = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        rescored = _cosine_vs_queries(
            coarse.join(full, id_col), "__cv", query_id_col, q_rows,
            [query_id_col, id_col],
        )
        return _topk_per_query(rescored, query_id_col, id_col, k)

    # query-independent per-code norms: ||C_j[c]||^2
    cnorms = [[sum(x * x for x in c) for c in book] for book in codebooks]
    cnorm_lit = F.lit(cnorms)

    qv = _as_double(F.col(vec_col))

    # NB: a pyspark higher-order-function lambda with a SECOND
    # parameter (even defaulted, `lambda c, _j=j`) is called with the
    # element INDEX as that second argument — a closure factory is the
    # only safe way to capture the loop variable
    def _sub_dot(j: int):
        return lambda c: F.aggregate(
            F.zip_with(F.slice(qv, j * dsub + 1, dsub), c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    lut = F.array(
        *[F.transform(F.lit(codebooks[j]), _sub_dot(j)) for j in range(m)]
    )
    qnorm = F.sqrt(
        F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = queries.select(
        F.col(query_id_col),
        lut.alias("__lut"),
        qnorm.alias("__qn"),
        qv.alias("__qv"),
    )

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    code_at = lambda j: F.element_at(F.col("pq_code"), (j + 1).cast("int")).cast("int")  # noqa: E731
    adc_dot = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(F.col("__lut"), (j + 1).cast("int")), code_at(j) + 1),
    )
    vnorm2 = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(cnorm_lit, (j + 1).cast("int")), code_at(j) + 1),
    )
    denom = F.col("__qn") * F.sqrt(vnorm2)
    scored = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", F.when(denom > 0, adc_dot / denom).otherwise(F.lit(0.0)))
    )
    coarse = _topk_per_query(scored, query_id_col, id_col, k * rescore_factor).select(
        query_id_col, id_col
    )
    full = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    rescored = (
        coarse.join(full, id_col)
        .join(F.broadcast(q.select(query_id_col, "__qv")), query_id_col)
        .withColumn("cosine", cosine_similarity(F.col("__qv"), F.col("__cv")))
    )
    return _topk_per_query(rescored, query_id_col, id_col, k)


def _pq_coarse_topk_gemm(
    codes: DataFrame,
    q_rows,
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str,
    code_col: str,
    query_id_col: str,
    q_id_type: str,
) -> DataFrame:
    """Arrow coarse pass of :func:`knn_pq`: the per-query ADC lookup
    tables ``lut[j][c] = <q_subj, C_j[c]>`` are built driver-side in
    numpy; per batch the approximate cosines are two fancy-indexing
    gathers over the (batch × m) code matrix — no q·n row fanout, no
    interpreted per-element fold — and the batch-local top-k feeds the
    shared k-bounded merge.

    Degenerate classes mirror the fold per (row, query): NULL query
    vector → 0.0 everywhere; query shorter than dim → NULL against
    valid codes (the fold's padded ``zip_with`` makes the whole LUT
    NULL while the denominator stays positive) but 0.0 against NULL
    codes (NULL ``vnorm2`` nulls the denominator → ``otherwise 0.0``);
    NULL/short corpus codes → 0.0; NaN query values → NaN (sorts
    first)."""
    import numpy as np

    books = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    dim = m * dsub
    cn = np.stack([(b * b).sum(1) for b in books])  # (m, n_centroids)
    luts: list = []      # (qid, L (m × n_cent), qn)
    short_q: list = []   # NULL-vs-valid-codes class
    null_q: list = []    # 0.0 everywhere
    for r in q_rows:
        qid, v = r[0], r[1]
        if v is None:
            null_q.append(qid)
        elif len(v) < dim:
            # (qid, qnorm): a zero-norm short query nulls the
            # denominator, so it scores 0.0 everywhere — the fold's
            # denom > 0 guard fires before the NULL LUT can
            qv = np.asarray(v, dtype="float64")
            short_q.append((qid, float(np.sqrt((qv * qv).sum()))))
        else:
            qv = np.asarray(v, dtype="float64")
            L = np.stack(
                [books[j] @ qv[j * dsub:(j + 1) * dsub] for j in range(m)]
            )
            luts.append((qid, L, np.sqrt((qv * qv).sum())))
    id_type = dict(codes.dtypes)[id_col]
    schema = (
        f"{query_id_col} {q_id_type}, {id_col} {id_type}, "
        "cosine double, __isnull boolean, __isnan boolean"
    )
    jj = np.arange(m)[:, None]

    def gen(it):
        import pandas as pd

        cols = [query_id_col, id_col, "cosine", "__isnull", "__isnan"]

        def emit(qid, cid, cos, isnull=False, isnan=False):
            o_q.append(qid)
            o_c.append(cid)
            o_v.append(cos)
            o_nl.append(isnull)
            o_nn.append(isnan)

        def k_smallest(sorted_ids, qid):
            picked = []
            for cid in sorted_ids:
                if cid == qid:
                    continue
                picked.append(cid)
                if len(picked) == k:
                    break
            return picked

        for pdf in it:
            o_q: list = []
            o_c: list = []
            o_v: list = []
            o_nl: list = []
            o_nn: list = []
            n = len(pdf)
            if n and (luts or short_q or null_q):
                ids = pdf[id_col].to_numpy()
                rows = pdf[code_col]
                order = pdf[id_col].argsort(kind="stable").to_numpy()
                rank = np.empty(n, dtype="int64")
                rank[order] = np.arange(n)
                ids_sorted = ids[order]
                ok = np.array(
                    [
                        i
                        for i in range(n)
                        if rows.iloc[i] is not None and len(rows.iloc[i]) == m
                    ],
                    dtype="int64",
                )
                bad_mask = np.ones(n, dtype=bool)
                bad_mask[ok] = False
                bad_sorted = [cid for cid in ids_sorted[bad_mask[order]]]
                for qid in null_q:
                    for cid in k_smallest(ids_sorted, qid):
                        emit(qid, cid, 0.0)
                ids_ok = ids[ok]
                rank_ok = rank[ok]
                ok_sorted = [
                    cid for cid in ids_sorted[~bad_mask[order]]
                ]
                for qid, qn in short_q:
                    for cid in k_smallest(bad_sorted, qid):
                        emit(qid, cid, 0.0)
                    for cid in k_smallest(ok_sorted, qid):
                        emit(qid, cid, 0.0, isnull=qn > 0.0)
                if len(ok) and luts:
                    C = np.stack(
                        [
                            np.asarray(rows.iloc[i], dtype="int64")
                            for i in ok
                        ]
                    ).T  # (m, n_ok)
                    vn = np.sqrt(cn[jj, C].sum(0))  # (n_ok,)
                    for qid, L, qn in luts:
                        for cid in k_smallest(bad_sorted, qid):
                            emit(qid, cid, 0.0)
                        with np.errstate(invalid="ignore", over="ignore"):
                            dots = L[jj, C].sum(0)
                            denom = qn * vn
                            col = np.divide(
                                dots,
                                denom,
                                out=np.zeros_like(dots),
                                where=denom != 0,
                            )
                        _emit_col_topk(np, col, ids_ok, rank_ok, qid, k, emit)
                elif luts:
                    for qid, _, _ in luts:
                        for cid in k_smallest(bad_sorted, qid):
                            emit(qid, cid, 0.0)
            yield pd.DataFrame(dict(zip(cols, [o_q, o_c, o_v, o_nl, o_nn])))

    return _finish_gemm_topk(
        codes.select(id_col, code_col).mapInPandas(gen, schema),
        query_id_col, id_col, k,
    )


def _train_quantizer(
    c: DataFrame,
    n_clusters: int,
    n_train: int,
    n_kmeans_iter: int,
    seed: int,
    id_col: str | None = None,
) -> list[list[float]]:
    """Shared k-means-quantizer prologue (cluster_embeddings / IVF /
    SemDeDup / PQ): bounded driver sample of the pre-validated ``__v``
    column -> Lloyd's iterations -> centroid list ([] when the sample
    is empty — callers decide their degenerate behavior).

    The sample is the bottom-``n_train`` rows by ``xxhash64(id, seed)``
    (the hash_sample_k minwise contract), NOT an unordered ``limit``
    — a bare limit takes whichever partitions answer first, so the
    trained centroids would differ across runs/repartitionings,
    breaking the repo's determinism contract (codebooks must be a pure
    function of (corpus, seed)). ``id_col=None`` falls back to hashing
    the vector itself — same determinism, collision-tolerant (two
    identical vectors are interchangeable as k-means training rows).
    The sort carries the key itself as tie-break (same as
    hash_sample_k's (hash, id)): equal hashes — duplicate ids, or a
    64-bit collision at the boundary — must not leave the pick to
    partition arrival order."""
    key = F.col(id_col) if id_col is not None else F.col("__v")
    sample = (
        c.withColumn("__hk", F.xxhash64(key, F.lit(seed)))
        .orderBy("__hk", key)
        .limit(n_train)
    )
    train = [r["__v"] for r in sample.select("__v").collect()]
    if not train:
        return []
    return _kmeans_centroids(train, n_clusters, n_iter=n_kmeans_iter, seed=seed)


def _cluster_assign_gemm(
    corpus: DataFrame,
    cents: list[list[float]],
    dim: int,
    vec_col: str,
) -> DataFrame:
    """Arrow path of :func:`cluster_embeddings`: one gemm per batch
    yields every centroid distance AND the prototypicality dot in the
    same pass (cosine = dot/(‖v‖·‖c‖), argmin over ‖v‖²−2·dot+‖c‖²).
    All input columns pass through unchanged; invalid vectors (NULL,
    wrong length, non-finite elements) get NULL cluster/cosine — the
    same contract as the fold path."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.asarray(cents, dtype="float64")
    cn2 = (C * C).sum(1)
    cn = np.sqrt(cn2)
    out_schema = StructType(
        corpus.schema.fields
        + [
            StructField("cluster", IntegerType()),
            StructField("centroid_cosine", DoubleType()),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            cl = pd.array([None] * n, dtype="Int32")
            cc = [None] * n
            ok, arrs = [], []
            for i, v in enumerate(pdf[vec_col]):
                if v is None or len(v) != dim:
                    continue
                a = np.asarray(v, dtype="float64")
                if not np.isfinite(a).all():
                    continue
                ok.append(i)
                arrs.append(a)
            if ok:
                V = np.stack(arrs)
                dots = V @ C.T
                vn2 = (V * V).sum(1)
                a_ = (vn2[:, None] - 2.0 * dots + cn2[None, :]).argmin(1)
                denom = np.sqrt(vn2) * cn[a_]
                cos = np.where(
                    denom > 0,
                    dots[np.arange(len(ok)), a_] / np.where(denom > 0, denom, 1.0),
                    0.0,
                )
                for r, i in enumerate(ok):
                    cl[i] = int(a_[r])
                    cc[i] = float(cos[r])
            out = pdf.copy()
            out["cluster"] = cl
            out["centroid_cosine"] = cc
            yield out[names]

    return corpus.mapInPandas(gen, out_schema)


def cluster_embeddings(
    corpus: DataFrame,
    dim: int,
    n_clusters: int = 16,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    impl: str = "auto",
) -> tuple[DataFrame, list[list[float]]]:
    """Corpus organization by embedding cluster — the grouping
    primitive behind domain-balanced mixtures (cluster the corpus,
    then re-weight or quota-sample per cluster, the DoReMi/DSIR-style
    deployment) and the shared front end of SemDeDup and IVF search.

    Returns ``(assigned, centroids)``: ``assigned`` is the corpus with
    a ``cluster`` column plus ``centroid_cosine`` (each row's cosine
    to its own centroid — the prototypicality score the keep-low/high
    curation rules rank on), and ``centroids`` the k×dim model.

    Shape: the quantizer is a driver-trained k-means on a bounded
    ``n_train`` sample; assignment + cosine are ONE narrow Catalyst
    projection over a centroid-literal array (no UDF, no join, no
    shuffle — plan-pinned in tests). Compose with
    ``stratified_sample_exact(assigned, quotas, "cluster")`` for exact
    per-domain mixtures or ``top_fraction_per_group`` for per-cluster
    curation.

    Invalid vectors (NULL, wrong dimension, NaN/Inf elements — real
    corpora have them) get ``cluster = NULL`` and NULL prototypicality,
    and are EXCLUDED from the training sample (an unguarded sample
    collect would crash driver-side k-means) — same validity contract
    as :func:`semantic_dedup`; count them via
    ``assigned.filter("cluster IS NULL")`` before quota sampling, since
    a NULL group key silently drops out of per-cluster operations."""
    valid = (
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(
            _as_double(F.col(vec_col)),
            lambda x: F.isnan(x) | x.isin(float("inf"), float("-inf")),
        )
    )
    c = corpus.withColumn(
        "__v", F.when(valid, _as_double(F.col(vec_col)))
    )
    # ``centroids=`` pins the quantizer (the deploy-an-index path AND
    # the oracle path — assignment + prototypicality become pure
    # corpus functions a SQL engine can recompute; graded as
    # part='cells' of x_embedding_near_dedup); default trains k-means
    # on a bounded sample.
    cents = (
        [[float(x) for x in cc] for cc in centroids]
        if centroids is not None
        else _train_quantizer(
            c.filter(valid), n_clusters, n_train, n_kmeans_iter, seed, id_col=id_col
        )
    )
    if not cents:
        # no valid vectors anywhere: every row is unassignable
        out = corpus.withColumn("cluster", F.lit(None).cast("int")).withColumn(
            "centroid_cosine", F.lit(None).cast("double")
        )
        return out, []

    if _resolve_impl(impl) == "arrow":
        return _cluster_assign_gemm(corpus, cents, dim, vec_col), cents

    cd = _centroid_dists(F.col("__v"), cents)
    cluster = nearest_centroid(cd).cast("int")
    # centroid norms are driver-known constants — one element_at per
    # row instead of an O(dim) fold over the picked centroid
    import math

    cnorms = [math.sqrt(sum(x * x for x in cc)) for cc in cents]
    pick = F.element_at(F.lit(cents), F.col("cluster") + 1)
    dot = F.aggregate(
        F.zip_with(F.col("__v"), pick, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(F.aggregate(F.col("__v"), F.lit(0.0), lambda acc, x: acc + x * x))
    nc = F.element_at(F.lit(cnorms), F.col("cluster") + 1)
    denom = nv * nc
    assigned = (
        c.withColumn("cluster", cluster)
        .withColumn(
            "centroid_cosine",
            F.when(denom > 0, dot / denom).otherwise(
                F.when(F.col("cluster").isNotNull(), F.lit(0.0))
            ),
        )
        .drop("__v")
    )
    return assigned, cents


# --------------------------------------------------------------------
# IVF-PQ — the composed billion-vector tier (coarse cells + residual
# product quantization, ADC inner-product scoring)
# --------------------------------------------------------------------


def train_ivfpq(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    m: int = 4,
    pq_ncent: int = 16,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVF-PQ index model (Jégou et al. 2011 §IV): a coarse
    k-means quantizer over the vectors, then per-subspace codebooks
    over the RESIDUALS ``v − c(v)`` of the same bounded training
    sample. Residual encoding is what makes the composition worth
    having: residual magnitudes are a cell-diameter fraction of the
    raw vectors, so the same m bytes quantize far more precisely than
    raw-vector PQ. Returns ``(centroids k×dim, codebooks m×pq_ncent×
    dim/m)`` — model parameters (KBs); the corpus never leaves the
    executors (same train-small/apply-wide contract as the other
    quantizers)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    import numpy as np

    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__v"))
    # _train_quantizer expects a pre-validated __v column (NULL /
    # wrong-dim rows would hand driver k-means a ragged array)
    cv = c.filter(F.col("__v").isNotNull() & (F.size("__v") == dim))
    cents = _train_quantizer(
        cv, n_centroids, n_train, n_kmeans_iter, seed, id_col=id_col
    )
    if not cents:
        raise ValueError("IVF-PQ training sample is empty")
    # residuals of the SAME sample (deterministic bottom-k, so the
    # second scan picks identical rows)
    from bigdata_quality_assessment_spark.operators.select import hash_sample_k

    rows = hash_sample_k(cv, n_train, id_col, seed=seed).select("__v").collect()
    V = np.asarray([r[0] for r in rows], dtype="float64")
    V = V[np.isfinite(V).all(1)]
    C = np.asarray(cents, dtype="float64")
    cells = ((V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]).argmin(1)
    R = V - C[cells]
    dsub = dim // m
    books = [
        _kmeans_centroids(
            R[:, j * dsub:(j + 1) * dsub].tolist(), pq_ncent,
            n_iter=n_kmeans_iter, seed=seed + 31 * j,
        )
        for j in range(m)
    ]
    return cents, books


def _ivfpq_index_gemm(
    corpus: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow index pass: ONE mapInPandas computes cell assignment
    (centroid-distance gemm + argmin) AND the residual PQ codes (per-
    subspace gemm + argmin) per batch. Output is the coarse-scan
    projection ``(id, __cell, __code)`` — 4 + m bytes of index per
    vector. NULL / wrong-length vectors get NULL cell+code (they
    probe-match nothing), mirroring the fold path."""
    import numpy as np

    C = np.asarray(cents, dtype="float64")
    cn2 = (C * C).sum(1)
    dim = C.shape[1]
    B = [np.asarray(b, dtype="float64") for b in books]
    bn2 = [(b * b).sum(1) for b in B]
    m = len(B)
    dsub = B[0].shape[1]
    code_type = "tinyint" if max(len(b) for b in books) <= 128 else "smallint"
    id_type = dict(corpus.dtypes)[id_col]
    schema = f"{id_col} {id_type}, __cell int, __code array<{code_type}>"

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            vecs = pdf[vec_col]
            cells = pd.array([None] * n, dtype="Int32")
            codes: list = [None] * n
            ok = [
                i for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
            ]
            if ok:
                V = np.stack(
                    [np.asarray(vecs.iloc[i], dtype="float64") for i in ok]
                )
                with np.errstate(invalid="ignore", over="ignore"):
                    a_ = (
                        (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + cn2[None, :]
                    ).argmin(1)
                    R = V - C[a_]
                    cd = np.empty((len(ok), m), dtype="int64")
                    for j in range(m):
                        S = R[:, j * dsub:(j + 1) * dsub]
                        cd[:, j] = (-2.0 * (S @ B[j].T) + bn2[j][None, :]).argmin(1)
                for r, i in enumerate(ok):
                    cells[i] = int(a_[r])
                    codes[i] = cd[r].astype(code_type.replace("tinyint", "int8").replace("smallint", "int16"))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__cell": cells, "__code": codes}
            )

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema)


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    pq_ncent: int = 16,
    rescore_factor: int = 4,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed tier (FAISS ``IVFx,PQy``
    shape) that the billion-vector deployments actually run: the coarse
    quantizer prunes the CANDIDATE SET (probe ``n_probe`` of
    ``n_centroids`` cells, as :func:`ivf_knn`) and residual product
    quantization prunes the BYTES (m codes per vector, as
    :func:`knn_pq` — but over residuals ``v − c(v)``, which are a
    cell-diameter fraction of the raw vectors and so quantize far more
    precisely at the same m). The index is ``4 + m`` bytes/vector; a
    query touches ``corpus·n_probe/n_centroids`` candidates and scores
    each with m table lookups.

    ADC inner-product scoring with the per-cell correction: with
    ``v̂ = c + r̂`` (decoded residual),

        dot(q, v̂)  = dot(q, c)  +  Σⱼ lut_q[j][codeⱼ]
        ‖v̂‖²       = ‖c‖² + 2·Σⱼ xc[cell][j][codeⱼ] + Σⱼ ‖Bⱼ[codeⱼ]‖²

    where ``lut_q[j] = Bⱼ·q_j`` is per-query (m·pq_ncent dots) and
    ``xc[cell][j][code] = <c_subj, Bⱼ[code]>`` is a query-INDEPENDENT
    model constant computed lazily per cell — never a k·m·pq_ncent
    table in the plan. Approximate cosine = dot/(‖q‖·‖v̂‖) ranks the
    coarse pass; the top ``k·rescore_factor`` rescore exactly.

    ``impl``: the production default indexes and scores per Arrow
    batch (gemm + fancy-index gathers); ``impl="sql"`` keeps the whole
    chain as Catalyst folds over pinned literals for DuckDB-replayable
    grading (requires ``centroids`` AND ``codebooks``)."""
    path = _resolve_impl(impl)
    if centroids is None or codebooks is None:
        if path == "sql":
            raise ValueError(
                "impl='sql' needs pinned centroids and codebooks"
            )
        cents, books = train_ivfpq(
            corpus, dim, n_centroids=n_centroids, m=m, pq_ncent=pq_ncent,
            n_train=n_train, n_kmeans_iter=n_kmeans_iter, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        cents = [[float(x) for x in cc] for cc in centroids]
        books = [[[float(x) for x in cc] for cc in bb] for bb in codebooks]
    m = len(books)
    dsub = len(books[0][0])

    # ---- index (corpus side): (id, cell, code) ----
    narrow = _widen_for_fanout(corpus.select(id_col, vec_col))
    if path == "arrow":
        index = _ivfpq_index_gemm(narrow, cents, books, id_col, vec_col)
    else:
        v = _as_double(F.col(vec_col))
        cd = _centroid_dists(v, cents)
        cell = nearest_centroid(cd).cast("int")
        cvec = F.element_at(F.lit(cents), cell + 1)
        resid = F.zip_with(v, cvec, lambda a, b: a - b)
        code_type = "tinyint" if max(len(b) for b in books) <= 128 else "smallint"
        parts = []
        for j, book in enumerate(books):
            sub = F.slice(resid, j * dsub + 1, dsub)
            d = _centroid_dists(sub, book)
            parts.append(nearest_centroid(d).cast(code_type))
        index = narrow.select(
            F.col(id_col),
            cell.alias("__cell"),
            F.array(*parts).alias("__code"),
        )

    # ---- query side: probe list (same shape as ivf_knn) ----
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv")
    )
    qd = _centroid_dists(F.col("__qv"), cents)
    ranked_cells = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(cents))),
            lambda i: F.struct(
                F.element_at(qd, i).alias("d"), (i - 1).cast("int").alias("cell")
            ),
        )
    )
    probes = F.transform(
        F.slice(ranked_cells, 1, n_probe), lambda s: s.getField("cell")
    )

    # ---- ADC coarse scoring over probed candidates ----
    if path == "arrow":
        q_rows = _collect_query_batch(queries, query_id_col, vec_col)
        qe = q.select(query_id_col, F.explode(probes).alias("__cell"))
        cands = index.join(F.broadcast(qe), "__cell").filter(
            F.col(id_col) != F.col(query_id_col)
        )
        scored = _ivfpq_score_gemm(
            cands, cents, books, q_rows, id_col, query_id_col
        )
        coarse = _topk_per_query(
            scored, query_id_col, id_col, k * rescore_factor
        ).select(query_id_col, id_col)
        full = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        rescored = _cosine_vs_queries(
            coarse.join(full, id_col), "__cv", query_id_col, q_rows,
            [query_id_col, id_col],
        )
        return _topk_per_query(rescored, query_id_col, id_col, k)

    # fold scoring: every constant rides the plan as a literal
    import numpy as np

    Cnp = np.asarray(cents, dtype="float64")
    Bnp = [np.asarray(b, dtype="float64") for b in books]
    cn2 = [float(sum(x * x for x in cc)) for cc in cents]
    bn2 = [[float(sum(x * x for x in cc)) for cc in book] for book in books]
    # xc[cell][j][code] = <c_subj, B_j[code]> — plain sequential sums,
    # embedded identically in the SQL twin (no cross-engine float risk)
    xc = [
        [
            [
                float(
                    sum(
                        cents[ci][j * dsub + t] * books[j][code][t]
                        for t in range(dsub)
                    )
                )
                for code in range(len(books[j]))
            ]
            for j in range(m)
        ]
        for ci in range(len(cents))
    ]

    def _sub_dot(j: int):
        return lambda c: F.aggregate(
            F.zip_with(
                F.slice(F.col("__qv"), j * dsub + 1, dsub), c,
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    lut = F.array(*[F.transform(F.lit(books[j]), _sub_dot(j)) for j in range(m)])
    qnorm = F.sqrt(
        F.aggregate(F.col("__qv"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    qe = q.select(
        query_id_col, "__qv",
        lut.alias("__lut"), qnorm.alias("__qn"),
        F.explode(probes).alias("__cell"),
    )
    joined = index.join(F.broadcast(qe), "__cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    idxs = F.sequence(F.lit(0), F.lit(m - 1))
    code_at = lambda j: F.element_at(F.col("__code"), (j + 1).cast("int")).cast("int")  # noqa: E731
    qdotc = F.aggregate(
        F.zip_with(
            F.col("__qv"), F.element_at(F.lit(cents), F.col("__cell") + 1),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc = F.aggregate(
        idxs, F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(F.col("__lut"), (j + 1).cast("int")), code_at(j) + 1),
    )
    xsum = F.aggregate(
        idxs, F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(
                F.element_at(F.lit(xc), F.col("__cell") + 1), (j + 1).cast("int")
            ),
            code_at(j) + 1,
        ),
    )
    bsum = F.aggregate(
        idxs, F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(F.lit(bn2), (j + 1).cast("int")), code_at(j) + 1),
    )
    vn2 = F.element_at(F.lit(cn2), F.col("__cell") + 1) + 2.0 * xsum + bsum
    denom = F.col("__qn") * F.sqrt(F.greatest(vn2, F.lit(0.0)))
    scored = joined.withColumn(
        "cosine",
        F.when(denom > 0, (qdotc + adc) / denom).otherwise(F.lit(0.0)),
    )
    coarse = _topk_per_query(
        scored, query_id_col, id_col, k * rescore_factor
    ).select(query_id_col, id_col)
    full = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    rescored = (
        coarse.join(full, id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn("cosine", cosine_similarity(F.col("__qv"), F.col("__cv")))
    )
    return _topk_per_query(rescored, query_id_col, id_col, k)


def _ivfpq_score_gemm(
    cands: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    q_rows,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Arrow ADC scorer for :func:`ivfpq_knn`: per batch, rows group
    by (cell, query); each group's approximate cosines are two
    fancy-index gathers over the code matrix plus the per-(query,cell)
    ``dot(q, c)`` constant. The per-cell correction tables compute
    lazily for the cells present in the batch — the k·m·pq_ncent
    cross table never materializes."""
    import numpy as np

    C = np.asarray(cents, dtype="float64")
    cn2 = (C * C).sum(1)
    B = [np.asarray(b, dtype="float64") for b in books]
    bn = np.stack([(b * b).sum(1) for b in B])  # (m, ncent)
    m = len(B)
    dsub = B[0].shape[1]
    dim = m * dsub
    qmap = {}
    for r in q_rows:
        if r[1] is None or len(r[1]) != dim:
            continue  # no probes were generated for it anyway
        qv = np.asarray(r[1], dtype="float64")
        L = np.stack([B[j] @ qv[j * dsub:(j + 1) * dsub] for j in range(m)])
        qmap[r[0]] = (qv, np.sqrt((qv * qv).sum()), L)
    dtypes = dict(cands.dtypes)
    schema = (
        f"{query_id_col} {dtypes[query_id_col]}, {id_col} {dtypes[id_col]}, "
        "cosine double"
    )
    jj = np.arange(m)[:, None]

    def gen(it):
        import pandas as pd

        xc_cache: dict = {}
        for pdf in it:
            n = len(pdf)
            out_cos = np.zeros(n)
            if n:
                groups: dict = {}
                cells = pdf["__cell"]
                qids = pdf[query_id_col]
                for i in range(n):
                    groups.setdefault(
                        (int(cells.iloc[i]), qids.iloc[i]), []
                    ).append(i)
                codes_col = pdf["__code"]
                for (cell, qid), idx in groups.items():
                    qm = qmap.get(qid)
                    if qm is None:
                        continue
                    qv, qn, L = qm
                    if cell not in xc_cache:
                        c = C[cell]
                        xc_cache[cell] = np.stack(
                            [
                                B[j] @ c[j * dsub:(j + 1) * dsub]
                                for j in range(m)
                            ]
                        )
                    xcm = xc_cache[cell]
                    Cd = np.stack(
                        [
                            np.asarray(codes_col.iloc[i], dtype="int64")
                            for i in idx
                        ]
                    ).T  # (m, g)
                    with np.errstate(invalid="ignore", over="ignore"):
                        dot = float(qv @ C[cell]) + L[jj, Cd].sum(0)
                        vn2 = np.maximum(
                            cn2[cell] + 2.0 * xcm[jj, Cd].sum(0)
                            + bn[jj, Cd].sum(0),
                            0.0,
                        )
                        denom = qn * np.sqrt(vn2)
                        cos = np.divide(
                            dot, denom,
                            out=np.zeros_like(dot), where=denom > 0,
                        )
                    out_cos[idx] = np.where(np.isnan(cos), 0.0, cos)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "cosine": out_cos,
                }
            )

    return cands.select(query_id_col, id_col, "__cell", "__code").mapInPandas(
        gen, schema
    )


def _cap_bucket_fanout(
    exploded: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int,
    seed: int = 0,
) -> DataFrame:
    """Bound the per-(table, bucket) fan-out of an exploded LSH bucket
    frame — the NATURAL-skew guard. Real embeddings cluster, so at web
    scale a few hot (table, bucket) keys can own millions of rows; the
    downstream equi-join then materializes |L_b|·|R_b| candidate pairs
    for those keys (AQE's skew split parallelizes the partition, but
    nothing bounds the CANDIDATE COUNT, which is the real cost).

    Mechanics (no per-bucket sort, nothing driver-sized): ONE map-side-
    combined count over the bucket keys keeps only the over-cap buckets
    (a tiny frame — broadcast), and rows in those buckets pass a
    deterministic hash threshold
    ``xxhash64(id, <bucket keys>, seed) % M < M·cap/n`` — a uniform,
    seed-stable subsample with EXPECTED size ``max_bucket`` per hot
    bucket. Hashing the COMPOSITE (id, table, bucket) rather than the
    id alone makes each hot bucket draw an independent subsample: an
    unlucky id loses SOME hot buckets, not all of them, so its recall
    in dense regions degrades proportionally instead of zeroing out. Rows in buckets at or under the cap are untouched,
    so recall only degrades inside hot buckets, proportionally to
    cap/|bucket| — the documented trade (a hot bucket is exactly where
    LSH's "sharing a bucket is evidence of similarity" signal is
    weakest, so the dropped candidates are the lowest-value ones).
    NULL bucket keys never join (invalid-vector rows) and are left
    alone here."""
    M = 1 << 20
    sizes = (
        exploded.filter(F.col(key_cols[-1]).isNotNull())
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket)
        .select(
            *key_cols,
            # bigint arithmetic: cap * M overflows int32 under ANSI
            (F.lit(max_bucket).cast("bigint") * F.lit(M) / F.col("__bn"))
            .cast("long")
            .alias("__thr"),
        )
    )
    return (
        exploded.join(F.broadcast(sizes), key_cols, "left")
        .filter(
            F.col("__thr").isNull()
            | (
                F.pmod(
                    F.xxhash64(
                        F.col(id_col),
                        *[F.col(c) for c in key_cols],
                        F.lit(seed),
                    ),
                    F.lit(M),
                )
                < F.col("__thr")
            )
        )
        .drop("__thr")
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[list[float]]] | None = None,
    impl: str = "auto",
    exclude_self: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate kNN JOIN: for every LEFT row, the top-k cosine
    neighbors among the RIGHT rows — the similarity join where BOTH
    sides are corpus-sized, which none of the query-batch tiers cover
    (their contract is a driver-sized query side). The standard
    dataset-enrichment shape: nearest reference example per training
    document, cross-corpus duplicate candidates, retrieval labels.

    Spark shape: both sides bucket through the SAME hyperplane tables
    (one gemm pass each, ``hyperplane_buckets``); candidates come from
    ONE equi-join on (table, bucket) — never a cross product — and are
    scored row-wise (:func:`_rowwise_cosine`: both vectors are
    corpus-sided, so neither can ride a closure); the per-left-row
    top-k is the two-phase ranking (no corpus-sized sort partition).
    Expected candidates per left row ≈ |right|·n_tables/2^n_planes.
    Recall rises with n_tables exactly as :func:`ann_hyperplane_knn`.

    Output: ``(left_id, right_id, cosine, rank)`` with rank 1..k per
    left row (rows with no same-bucket candidate produce nothing —
    count them by anti-joining the output back). Self-pairs are ALWAYS
    kept by default — colliding id column names are renamed, never
    used to drop pairs. Pass ``exclude_self=True`` to drop candidates
    whose two id VALUES are equal (the self-join / overlapping-corpus
    dedup semantics) BEFORE the top-k, so a self-match never consumes
    a rank slot.

    ``max_bucket`` (the natural-skew guard, :func:`_cap_bucket_fanout`)
    caps the RIGHT side's per-(table, bucket) fan-out: hot buckets keep
    a deterministic ~max_bucket-expected hash subsample, bounding
    candidates per left row at ~n_tables·max_bucket regardless of how
    hard the corpus clusters. Off by default (exact LSH semantics);
    recommended at web scale where one hot cluster key would otherwise
    materialize |L_b|·|R_b| pairs."""
    out_left = left_id if left_id != right_id else f"{left_id}_left"
    out_right = right_id if left_id != right_id else f"{right_id}_right"
    lb = hyperplane_buckets(
        _widen_for_fanout(left.select(F.col(left_id).alias(out_left), vec_col)),
        dim, n_planes, n_tables, seed, out_left, vec_col,
        planes=planes, impl=impl,
    )
    rb = hyperplane_buckets(
        _widen_for_fanout(right.select(F.col(right_id).alias(out_right), vec_col)),
        dim, n_planes, n_tables, seed, out_right, vec_col,
        planes=planes, impl=impl,
    )
    buckets = [F.col(f"bucket_{t}") for t in range(n_tables)]
    le = lb.select(
        out_left, F.col("__v").alias("__lv"),
        F.posexplode(F.array(*buckets)).alias("__t", "__b"),
    )
    re_ = rb.select(
        out_right, F.col("__v").alias("__rv"),
        F.posexplode(F.array(*buckets)).alias("__t", "__b"),
    )
    if max_bucket is not None:
        re_ = _cap_bucket_fanout(re_, ["__t", "__b"], out_right, max_bucket, seed)
    cands = (
        le.join(re_, ["__t", "__b"])
        .dropDuplicates([out_left, out_right])
    )
    if exclude_self:
        cands = cands.filter(F.col(out_left) != F.col(out_right))
    scored = _rowwise_cosine(
        cands, "__lv", "__rv", [out_left, out_right],
        impl=_resolve_impl(impl),
    )
    return _topk_per_query(scored, out_left, out_right, k)


def build_ivfpq_index(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    m: int = 4,
    pq_ncent: int = 16,
    n_train: int = 2048,
    n_kmeans_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Build the persistable IVF-PQ index: returns ``(index, centroids,
    codebooks)`` where ``index`` is ``(id, __cell int, __code
    array<tinyint>)`` — 4 + m bytes/vector from ONE Arrow pass over the
    corpus. Persist it CELL-PARTITIONED::

        index.write.partitionBy("__cell").parquet(path)

    and :func:`ivfpq_search` over the read-back frame prunes the scan
    to the probed cells (static ``isin`` predicate → partition pruning;
    at 100 TB a query batch reads n_probe/n_centroids of the index
    FILES, not just of the rows). The model (centroids + codebooks,
    KBs) is the caller's to store beside the index; building is one
    corpus scan, amortized over every future query batch."""
    if centroids is None or codebooks is None:
        cents, books = train_ivfpq(
            corpus, dim, n_centroids=n_centroids, m=m, pq_ncent=pq_ncent,
            n_train=n_train, n_kmeans_iter=n_kmeans_iter, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        cents = [[float(x) for x in cc] for cc in centroids]
        books = [[[float(x) for x in cc] for cc in bb] for bb in codebooks]
    index = _ivfpq_index_gemm(
        _widen_for_fanout(corpus.select(id_col, vec_col)),
        cents, books, id_col, vec_col,
    )
    return index, cents, books


def ivfpq_index_stats(
    index: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
) -> dict:
    """Maintenance statistics for a (possibly appended) IVF-PQ index —
    the cheap numbers a rebuild policy is stated in:

    * ``rel_residual`` — mean squared ADC reconstruction error
      ``‖v − (c_cell + ⊕_j B_j[code_j])‖²`` over the indexed vectors,
      normalized by mean ``‖v‖²``. A FROZEN model encodes drifted
      arrivals with growing residual (the quantizer no longer covers
      the data), which directly degrades ADC ranking quality.
    * ``occupancy_skew`` — max cell population over the ALL-cells mean
      ``n_vectors / len(centroids)`` (empty cells count toward the
      denominator: in the degenerate drift case where everything
      funnels into one cell, an occupied-only mean would read ~1.0 —
      "balanced" — exactly when pruning is most eroded). Drift funnels
      new arrivals into few cells, eroding the n_probe/n_centroids
      scan pruning that makes IVF cheap.
    * ``n_vectors`` — indexed (non-NULL-cell) count.

    One groupBy over the 4+m-byte index + one Arrow residual pass over
    the index⋈corpus vectors (``sample_mod`` > 1 hash-samples 1/mod of
    the ids — at 100 TB the residual is a statistic, not a census).
    Compare against the build-time stats with
    :func:`ivfpq_needs_rebuild`."""
    import numpy as np

    occ = (
        index.filter(F.col("__cell").isNotNull())
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.sum("n").alias("tot"),
        )
        .first()
    )
    C = np.asarray(centroids, dtype="float64")
    B = [np.asarray(b, dtype="float64") for b in codebooks]
    m, dsub = len(B), B[0].shape[1]
    joined = index.filter(F.col("__cell").isNotNull()).join(
        corpus.select(id_col, vec_col), id_col
    )
    if sample_mod > 1:
        joined = joined.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
        )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            V = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            ) if len(pdf) else np.zeros((0, C.shape[1]))
            cells = pdf["__cell"].to_numpy(dtype="int64") if len(pdf) else []
            recon = C[cells].copy() if len(pdf) else V
            if len(pdf):
                codes = np.stack(
                    [np.asarray(c, dtype="int64") for c in pdf["__code"]]
                )
                for j in range(m):
                    recon[:, j * dsub:(j + 1) * dsub] += B[j][codes[:, j]]
            r2 = ((V - recon) ** 2).sum(1)
            n2 = (V * V).sum(1)
            yield pd.DataFrame(
                {
                    "r2": [float(r2.sum())],
                    "n2": [float(n2.sum())],
                    "cnt": [len(pdf)],
                }
            )

    agg = (
        joined.select("__cell", "__code", vec_col)
        .mapInPandas(gen, "r2 double, n2 double, cnt long")
        .agg(F.sum("r2").alias("r2"), F.sum("n2").alias("n2"))
        .first()
    )
    rel = float(agg["r2"] / agg["n2"]) if agg["n2"] else 0.0
    return {
        "n_vectors": int(occ["tot"] or 0),
        "occupancy_skew": (
            float(occ["mx"] * len(centroids) / occ["tot"]) if occ["tot"] else 0.0
        ),
        "rel_residual": rel,
    }


def ivfpq_needs_rebuild(
    build_stats: dict,
    current_stats: dict,
    residual_factor: float = 1.5,
    skew_factor: float = 2.0,
) -> bool:
    """The rebuild trigger of the index maintenance contract
    (:func:`build_ivfpq_index` incremental appends encode against a
    FROZEN model — fine under stationary arrivals, silently lossy
    under drift): retrain + rebuild when the appended index's relative
    ADC residual grew ``residual_factor``× over build time (the
    quantizer stopped covering the data) or its cell-occupancy skew
    grew ``skew_factor``× (the coarse partitioner stopped pruning).
    Both statistics come from :func:`ivfpq_index_stats`; thresholds
    are policy, the defaults are conservative."""
    r0 = max(build_stats["rel_residual"], 1e-12)
    s0 = max(build_stats["occupancy_skew"], 1e-12)
    return (
        current_stats["rel_residual"] > residual_factor * r0
        or current_stats["occupancy_skew"] > skew_factor * s0
    )


def ivfpq_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    rescore_with: DataFrame | None = None,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a PREBUILT IVF-PQ index (:func:`build_ivfpq_index`, often
    read back from a cell-partitioned lake path). Probe cells compute
    driver-side from the query batch (same argmin-L2, ties to the
    lower cell, as the inline path) and land as a static
    ``__cell IN (...)`` predicate — on a ``partitionBy("__cell")``
    index that prunes whole files before the ADC scan. ``rescore_with``
    (the raw-vector corpus) enables the exact top-``k·rescore_factor``
    rescore; without it the ADC-approximate cosines rank directly
    (pure index-only search — nothing but the index is read)."""
    import numpy as np

    C = np.asarray(centroids, dtype="float64")
    q_rows = _collect_query_batch(queries, query_id_col, vec_col)
    probe_pairs = []
    dim = C.shape[1]
    for r in q_rows:
        if r[1] is None or len(r[1]) != dim:
            continue
        qv = np.asarray(r[1], dtype="float64")
        d = ((C - qv) ** 2).sum(1)
        for cell in np.argsort(d, kind="stable")[:n_probe]:
            probe_pairs.append((r[0], int(cell)))
    spark = index.sparkSession
    q_id_type = dict(queries.dtypes)[query_id_col]
    qe = local_frame(
        spark, probe_pairs, f"{query_id_col} {q_id_type}, __cell int"
    )
    cells = sorted({c for _, c in probe_pairs})
    cands = (
        index.filter(F.col("__cell").isin(cells))
        .join(F.broadcast(qe), "__cell")
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    scored = _ivfpq_score_gemm(
        cands, centroids, codebooks, q_rows, id_col, query_id_col
    )
    if rescore_with is None:
        return _topk_per_query(scored, query_id_col, id_col, k)
    coarse = _topk_per_query(
        scored, query_id_col, id_col, k * rescore_factor
    ).select(query_id_col, id_col)
    full = rescore_with.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    rescored = _cosine_vs_queries(
        coarse.join(full, id_col), "__cv", query_id_col, q_rows,
        [query_id_col, id_col],
    )
    return _topk_per_query(rescored, query_id_col, id_col, k)


def knn_label(
    unlabeled: DataFrame,
    labeled: DataFrame,
    dim: int,
    label_col: str = "label",
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weighted: bool = True,
    planes: list[list[list[float]]] | None = None,
    impl: str = "auto",
    max_bucket: int | None = None,
) -> DataFrame:
    """kNN label propagation: each unlabeled row takes the
    cosine-weighted (or plain-count) vote of its k nearest LABELED
    neighbors — the semi-supervised labeling step of a curation
    pipeline (domain/quality/language labels from a small curated
    reference set, fanned out over the full corpus).

    Built on :func:`knn_join` (both sides corpus-sized); the vote is
    one groupBy over the ≤ k·|unlabeled| join rows — label strings
    never touch the neighbor search. Returns ``(id, label_pred,
    confidence, n_votes)`` where confidence is the winning label's
    share of the (weighted) vote; rows with no same-bucket labeled
    neighbor are absent (left-join the output to find them). Negative
    cosines clamp to 0 weight (an anti-correlated neighbor should not
    cast a negative vote); ties break to the lexicographically
    smallest NON-NULL label — rows whose ``label_col`` is NULL are
    dropped from the labeled side before the neighbor search (an
    unlabeled row can neither vote nor consume a rank slot), and a row
    present in both sets never votes for itself
    (``knn_join(exclude_self=True)`` on the id values)."""
    lab = labeled.filter(F.col(label_col).isNotNull())
    nn = knn_join(
        unlabeled, lab.select(id_col, vec_col), dim, k=k,
        n_planes=n_planes, n_tables=n_tables, seed=seed,
        left_id=id_col, right_id=id_col, vec_col=vec_col,
        planes=planes, impl=impl, exclude_self=True,
        max_bucket=max_bucket,
    )
    # knn_join renames the colliding id columns
    left_c, right_c = f"{id_col}_left", f"{id_col}_right"
    w = (
        F.greatest(F.col("cosine"), F.lit(0.0))
        if weighted
        else F.lit(1.0)
    )
    votes = (
        nn.join(
            lab.select(
                F.col(id_col).alias(right_c), F.col(label_col)
            ),
            right_c,
        )
        .withColumn("__w", w)
        .groupBy(left_c, label_col)
        .agg(F.sum("__w").alias("__lw"), F.count(F.lit(1)).alias("__lc"))
    )
    tot = Window.partitionBy(left_c)
    ranked = (
        votes.withColumn("__tw", F.sum("__lw").over(tot))
        .withColumn("__tc", F.sum("__lc").over(tot))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(left_c).orderBy(
                    F.col("__lw").desc(), F.col(label_col).asc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    return ranked.select(
        F.col(left_c).alias(id_col),
        F.col(label_col).alias("label_pred"),
        F.when(F.col("__tw") > 0, F.col("__lw") / F.col("__tw"))
        .otherwise(F.lit(None).cast("double"))
        .alias("confidence"),
        F.col("__tc").alias("n_votes"),
    )
