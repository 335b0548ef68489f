"""Vector search: distributed brute-force cosine top-k + driver-side MMR.

Reference semantics: ``src/linkml_store/api/collection.py:531-623`` and
``index/indexer.py:158-211`` — embed query, cosine against every indexed
vector, sort desc, truncate. The reference materializes the ENTIRE collection
client-side (its main scalability cliff, collection.py:600); here scoring is
a native Column expression over the index DataFrame, so the scan, score, and
top-k all run distributed and only k rows come back to the driver.

That distributed plan is the route for stores past the local tier's gate.
``Collection.search`` serves gate-admitted stores in process instead: the
shadow index is built once per store version into
``operators.localexec.VectorIndex`` (``Indexer.collect_index``: one job
collects the rows and texts, the driver embeds them) and each later
search ranks it with
``localexec.knn_top`` (the kernel ``knn_search`` uses too) — the reference's
embed-once shadow index, without its per-search re-embedding of every row.

MMR (``utils/vector_utils.py:94-158``) is inherently sequential: we fetch a
bounded candidate pool (4*limit by default) via the top-k of either route,
then :func:`rank_pool` runs the iterative argmax on the driver — the
candidate pool, not the collection, bounds driver memory.
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkml_store_spark.functions.vector import cosine_similarity, vec_lit
from linkml_store_spark.index.indexer import INDEX_COLUMN
from linkml_store_spark.operators.localexec import row_dots
from linkml_store_spark.where import WhereClause, apply_where

#: above this dimensionality the unrolled JVM cosine expression stops being
#: JIT-friendly and the Arrow-batched numpy kernel takes over
NATIVE_COSINE_MAX_DIM = 128


def knn(
    df: DataFrame,
    query_vector: Sequence[float],
    vector_col: str = INDEX_COLUMN,
    k: int = 10,
    score_col: str = "score",
    kernel: Optional[str] = None,
    keep_vector: bool = True,
    metric: str = "cosine",
) -> DataFrame:
    """Distributed brute-force top-k: score every row, TakeOrdered k.

    Catalyst turns orderBy+limit into TakeOrderedAndProject — per-partition
    heaps of size k, no full sort, no full shuffle. This is the correct
    brute-force plan at any scale. Scoring strategy by dimensionality:
    dims <= NATIVE_COSINE_MAX_DIM unroll into a codegen'd JVM expression
    (no Python worker, embedding column never crosses to Arrow); larger
    dims use the Arrow-batched numpy kernel (``cosine_to_query`` /
    ``distance_to_query``) whose matmul throughput wins once the
    expression tree stops JIT-compiling. HOF-lambda cosine (interpreted)
    loses to both — measured 3.8x slower at 200k vectors. All kernels
    produce identical top-k.

    ``metric``: cosine (default) / dot rank DESCENDING; euclidean /
    manhattan rank ASCENDING (nulls last either way, so dimension-
    mismatched rows drop out of the top-k rather than topping it).
    Reference search is cosine-only (``utils/vector_utils.py:12-38``);
    the distance metrics mirror ``embedding_matcher``'s surface.
    """
    from linkml_store_spark.functions.vector import (
        ASCENDING_METRICS,
        cosine_to_query,
        cosine_to_query_native,
        distance_to_query,
        dot_to_query_native,
        l1_to_query_native,
        sqdist_to_query_native,
    )

    if metric not in ("cosine", "dot", "euclidean", "manhattan"):
        raise ValueError(f"knn: unsupported metric {metric!r}")
    if kernel is None:
        kernel = "native" if len(query_vector) <= NATIVE_COSINE_MAX_DIM else "arrow"
    # explicit override: per-ROW-COUNT the trade flips too — the JVM
    # expression's per-element bounds/null checks cost ~5-20x a fused numpy
    # matmul lane, so above ~100k rows kernel="arrow" wins despite the
    # Python-worker round trip (measured honestly in SCALING.md); at
    # bench-sized inputs "native" wins (no worker startup on the path).
    if kernel == "native":
        if metric == "cosine":
            score = cosine_to_query_native(query_vector)(F.col(vector_col))
        elif metric == "dot":
            score = dot_to_query_native(query_vector)(F.col(vector_col))
        elif metric == "euclidean":
            score = F.sqrt(sqdist_to_query_native(query_vector)(F.col(vector_col)))
        else:
            score = l1_to_query_native(query_vector)(F.col(vector_col))
    elif kernel == "arrow":
        if metric == "cosine":
            score = cosine_to_query(query_vector)(F.col(vector_col))
        else:
            score = distance_to_query(query_vector, metric)(F.col(vector_col))
    else:
        raise ValueError(f"unknown kernel: {kernel}")
    scored = df.withColumn(score_col, score)
    if not keep_vector:
        # TakeOrderedAndProject stores WHOLE rows in its per-partition heaps
        # and projects only at the end, so the vector payload (the widest
        # column by far) rides through every heap sift unless dropped BEFORE
        # the sort — measured ~1.5x end-to-end at 400k x 64-d. Callers that
        # need the vectors back (MMR re-ranking) keep the default.
        scored = scored.drop(vector_col)
    order = (
        F.asc_nulls_last(score_col)
        if metric in ASCENDING_METRICS
        else F.desc(score_col)
    )
    return scored.orderBy(order).limit(k)


def search_pool_size(
    limit: int, mmr_relevance_factor: Optional[float], candidate_multiplier: int = 4
) -> int:
    """Candidates to rank: ``limit``, or ``candidate_multiplier * limit``
    when MMR re-ranks them."""
    if mmr_relevance_factor is None:
        return limit
    return max(limit, candidate_multiplier * limit)


def vector_search(
    index_df: DataFrame,
    query_vector: Sequence[float],
    where: WhereClause = None,
    limit: int = 10,
    mmr_relevance_factor: Optional[float] = None,
    candidate_multiplier: int = 4,
    scored_pool_fn=None,
) -> List[Tuple[float, dict]]:
    """Search the shadow index; returns [(score, obj), ...] desc.

    ``where`` prefilters rows (pushed to the scan). With MMR, a candidate
    pool of ``candidate_multiplier * limit`` is fetched and re-ranked on the
    driver. ``scored_pool_fn(pool_size) -> DataFrame`` substitutes a
    different top-pool plan for the brute scan (Collection.search passes
    the auto-routed IVF probe here) while this single implementation keeps
    owning pool sizing, ranking, MMR, and the final trim.
    """
    pool = search_pool_size(limit, mmr_relevance_factor, candidate_multiplier)
    if scored_pool_fn is not None:
        top = scored_pool_fn(pool).collect()
    else:
        df = apply_where(index_df, where)
        top = knn(
            df, query_vector, k=pool, keep_vector=mmr_relevance_factor is not None
        ).collect()
    results = [
        (float(r["score"]), {k: v for k, v in r.asDict(recursive=True).items() if k != "score"})
        for r in top
    ]
    return rank_pool(results, query_vector, limit, mmr_relevance_factor)


def rank_pool(
    results: List[Tuple[float, dict]],
    query_vector: Sequence[float],
    limit: int,
    mmr_relevance_factor: Optional[float] = None,
) -> List[Tuple[float, dict]]:
    """The MMR and trim step over a best-first candidate pool of
    ``(score, obj)``; with MMR each obj carries its vector under
    ``INDEX_COLUMN``. Shared by the Spark plan above and the in-process
    route of ``Collection.search``."""
    if mmr_relevance_factor is not None:
        qv = np.asarray(query_vector, dtype=float)
        vecs = [np.asarray(obj[INDEX_COLUMN], dtype=float) for _, obj in results]
        order = mmr_diversified_search(qv, vecs, mmr_relevance_factor, top_n=limit)
        results = [results[i] for i in order]
    return results[:limit]


def mmr_diversified_search(
    query_vector: np.ndarray,
    vectors: List[np.ndarray],
    relevance_factor: float = 0.5,
    top_n: Optional[int] = None,
) -> List[int]:
    """Maximal Marginal Relevance: iteratively pick
    argmax(λ·rel − (1−λ)·max-sim-to-selected)
    (reference vector_utils.py:94-158)."""
    if not vectors:
        return []
    n = len(vectors)
    top_n = n if top_n is None else min(top_n, n)
    mat = np.stack(vectors)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    qn = np.linalg.norm(query_vector) or 1.0
    rel = row_dots(mat, query_vector) / (norms * qn)
    # each pick's similarity column, folded into a running max: only
    # top_n of the n x n similarity matrix is ever read
    max_sim = np.full(n, -np.inf)
    selected: List[int] = []
    remaining = set(range(n))
    while len(selected) < top_n and remaining:
        if not selected:
            best = int(np.argmax(rel))
        else:
            last = selected[-1]
            max_sim = np.maximum(
                max_sim, row_dots(mat, mat[last]) / (norms * norms[last])
            )
            best, best_score = -1, -np.inf
            for i in remaining:
                score = relevance_factor * rel[i] - (1 - relevance_factor) * max_sim[i]
                if score > best_score:
                    best, best_score = i, score
        selected.append(best)
        remaining.discard(best)
    return selected


#: find_matches auto-route gate, in candidate PAIRS (|L| x |R|). Measured
#: on local[32], 16-dim vectors: the crossJoin scores ~25M pairs in ~1.9 s
#: (fine interactively, exact); at 400k x 400k the same plan is 1.6e11
#: pairs — ~9 hours — while the routed IVF cogroup kernel measured 400 s
#: (SCALING.md round 11). 25M keeps every sf0.01/sf0.1 oracle on the
#: exact plan and trips the swap two orders of magnitude before the cliff.
FIND_MATCHES_MAX_EXACT_PAIRS = 25_000_000


def find_matches(
    left: DataFrame,
    right: DataFrame,
    vector_col: str = INDEX_COLUMN,
    left_id: str = "id",
    right_id: str = "id",
    metric: str = "cosine",
    top_n: int = 1,
    threshold: Optional[float] = None,
    exclude_self: bool = False,
    method: str = "auto",
    max_exact_pairs: int = FIND_MATCHES_MAX_EXACT_PAIRS,
    n_centroids: Optional[int] = None,
    nprobe: Optional[int] = None,
    left_rows: Optional[int] = None,
    right_rows: Optional[int] = None,
) -> DataFrame:
    """kNN between two collections (reference
    ``utils/embedding_matcher.py:104-361``): cross-score + per-left-row
    window top-n.

    Auto-routed like :meth:`Collection.knn`: ``method="auto"`` (default)
    counts both sides (one ``count(1)`` aggregate each, which reads no
    vector; pass ``left_rows``/``right_rows`` to skip the jobs) and, when
    ``|L| x |R| > max_exact_pairs`` and the metric is cosine, euclidean,
    or dot, swaps the crossJoin for
    ``operators.similarity.ivf_knn_join`` — a centroid-bucketed
    candidate equi-join shuffling ``|L|*nprobe + |R|`` rows instead of
    materializing the cross product (k-means buckets are natively L2,
    so euclidean rides the same probe structure; dot via the
    max-inner-product reduction). ``method="exact"`` pins the crossJoin
    (the reference's exact semantics); ``method="ivf"`` forces the
    bucketed plan (exact when ``nprobe == n_centroids``). The routed
    plan with ``nprobe < n_centroids`` is APPROXIMATE (IVF recall
    trade) — auto-routing warns once, stating how to pin exactness.
    Manhattan above the gate stays exact and warns — its pairwise L1
    has no matmul form for the bucket kernel.

    The score ``threshold`` composes with the IVF route by post-filtering:
    for a descending metric the threshold only drops rows ranked BELOW
    every kept row within a left_id, so rank numbers are identical
    whether the filter runs before or after ``row_number``.
    """
    from pyspark.sql.window import Window
    from linkml_store_spark.functions.vector import DISTANCE_METRICS

    lhs = left.select(F.col(left_id).alias("left_id"), F.col(vector_col).alias("__lv"))
    rhs = right.select(F.col(right_id).alias("right_id"), F.col(vector_col).alias("__rv"))

    route_ivf = method == "ivf"
    if method == "auto":
        # plain counts: column pruning answers count(1) without decoding a
        # vector, and the IVF route they may pick never reads the sizes
        from linkml_store_spark.where import fast_count

        nl = left_rows if left_rows is not None else fast_count(lhs)
        nr = right_rows if right_rows is not None else fast_count(rhs)
        left_rows, right_rows = nl, nr  # reuse downstream (sizing, salting)
        if nl * nr > max_exact_pairs:
            if metric in ("cosine", "euclidean", "dot"):
                route_ivf = True
            else:
                import warnings

                warnings.warn(
                    f"find_matches: {nl} x {nr} rows with metric={metric!r} "
                    f"runs the exact cross product ({nl * nr:.2e} pairs); "
                    f"only cosine/euclidean/dot auto-route to the IVF "
                    f"bucketed join. Consider one of those metrics or "
                    f"pre-filtering.",
                    stacklevel=2,
                )
    if route_ivf:
        if metric not in ("cosine", "euclidean", "dot"):
            raise ValueError(
                "method='ivf' supports cosine/euclidean/dot only"
            )
        from linkml_store_spark.operators.similarity import ivf_knn_join

        if n_centroids is None:
            # BALANCED sizing: per-left-row cost is probe assignment
            # (C*d) plus candidate scoring (|R|*nprobe/C * d) — equal at
            # C = sqrt(|R| * nprobe), which also bounds candidates per
            # row to ~C. Clamp keeps the k-means sample and centroid
            # broadcast bounded.
            nr_est = right_rows
            if nr_est is None:
                from linkml_store_spark.where import fast_count

                nr_est = fast_count(rhs)
            n_centroids = max(
                16, min(4096, int((nr_est * (nprobe or 8)) ** 0.5))
            )
        if nprobe is None:
            # a SMALL CONSTANT probe count, not a fraction of the bucket
            # domain: candidate volume is |L| * |R| * nprobe / C, so a
            # C/8 probe default would keep 1/8 of the cross product no
            # matter how large C grows. 8 probes at sqrt(N) centroids
            # gives ~8*|R|/sqrt(|R|) candidates per left row; raise
            # nprobe (up to C, = exact) for recall, not by default.
            nprobe = min(8, n_centroids)
        if method == "auto" and nprobe < n_centroids:
            import warnings

            warnings.warn(
                f"find_matches: auto-routing {left_rows} x {right_rows} "
                f"rows to the IVF bucketed join (nprobe={nprobe} of "
                f"{n_centroids} centroids) — results are APPROXIMATE "
                f"(the usual IVF recall trade). Pin method='exact' for "
                f"the cross product, or raise nprobe (= n_centroids is "
                f"exact).",
                stacklevel=2,
            )
        out = ivf_knn_join(
            left, right, vector_col=vector_col, left_id=left_id,
            right_id=right_id, k=top_n,
            n_centroids=n_centroids,
            nprobe=nprobe,
            exclude_self=exclude_self,
            right_rows=right_rows,
            metric=metric,
            left_rows=left_rows,
        )
        if threshold is not None:
            out = out.filter(
                F.col("score") <= threshold
                if metric == "euclidean"
                else F.col("score") >= threshold
            )
        return out
    # exact cross-score: the unrolled native pair kernel when both sides
    # are uniform-dim (guide §4 — the HOF metric lambdas run interpreted
    # per PAIR and, for cosine, recompute both norms per pair; the
    # unrolled forms are bit-identical by fold order, with cosine's
    # norms precomputed per ROW). Ragged or >128-dim columns keep the
    # HOF plan with its null-padding semantics.
    from linkml_store_spark.functions.vector import (
        norm_native,
        pair_cosine_native,
        pair_dim,
        PAIR_NATIVE_METRICS,
        vector_probe,
    )
    from linkml_store_spark.operators.dedup import pair_broadcast_fits

    # one (rows, min size, max size) aggregate per side feeds the native
    # kernel gate and the broadcast byte gate
    _nl, min_l, max_l = vector_probe(lhs, "__lv")
    n_r, min_r, max_r = vector_probe(rhs, "__rv")
    dim_l = pair_dim(min_l, max_l)
    dim_r = pair_dim(min_r, max_r)
    if dim_l is not None and dim_l == dim_r:
        if metric == "cosine":
            lhs = lhs.withColumn("__nl", norm_native(F.col("__lv"), dim_l))
            rhs = rhs.withColumn("__nr", norm_native(F.col("__rv"), dim_l))
            score = pair_cosine_native(
                F.col("__lv"), F.col("__rv"), dim_l,
                na=F.col("__nl"), nb=F.col("__nr"),
            )
        else:
            score = PAIR_NATIVE_METRICS[metric](
                F.col("__lv"), F.col("__rv"), dim_l
            )
    else:
        score = DISTANCE_METRICS[metric](F.col("__lv"), F.col("__rv"))
    # the |L|x|R| scoring loop runs on the STREAMED side's tasks, and a
    # single-file store scans as ONE partition — hash-repartition the
    # streamed side to the session's core count (scale-adaptive) and pin
    # the build side broadcast so the nested loop fans out (guide
    # §2.5-2.6). Same pairs, same scores; only the task layout changes.
    # The broadcast hint is GATED on the right side's bytes, rows ×
    # widest vector (round-13 advisory: with method='exact' pinned, or a
    # non-routable metric above the pair gate, the right side is
    # unbounded — an unconditional hint would push past the 8 GB
    # broadcast hard cap and fail where the planner-chosen crossJoin
    # completes); above the gate the planner keeps its own join choice.
    p = left.sparkSession.sparkContext.defaultParallelism
    build = F.broadcast(rhs) if pair_broadcast_fits(n_r, max_r) else rhs
    pairs = lhs.repartition(p, F.col("left_id")).crossJoin(build)
    if exclude_self:
        pairs = pairs.filter(F.col("left_id") != F.col("right_id"))
    scored = pairs.withColumn("score", score)
    if threshold is not None:
        asc_metrics = {"euclidean", "manhattan"}
        scored = scored.filter(
            F.col("score") <= threshold if metric in asc_metrics else F.col("score") >= threshold
        )
    order = F.asc("score") if metric in {"euclidean", "manhattan"} else F.desc("score")
    w = Window.partitionBy("left_id").orderBy(order, F.asc("right_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("left_id", "right_id", "score", "rank")
    )
