"""Vector math over array<float|double> columns.

Column-vs-column metrics are JVM expressions (F.zip_with / F.aggregate).
NOTE on the performance envelope: lambda bodies inside higher-order
functions run INTERPRETED (no whole-stage codegen through
LambdaFunction), so for the hot column-vs-broadcast-query scoring path
``cosine_to_query`` provides an Arrow-batched numpy kernel — measured
3.8x faster at 200k x 64-dim vectors with bit-identical top-k. Reference
math: ``src/linkml_store/utils/vector_utils.py:12-91`` (cosine,
euclidean, dot, manhattan; top-matches) and ``mmr_diversified_search``
(vector_utils.py:94-158).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_to_query_native(query_vector: Sequence[float]) -> "Column":
    """Fully-JVM cosine against one literal query vector: the dot product
    and row norm unroll into a codegen'd arithmetic expression (one array
    access + multiply-add per dimension), so no Python worker, no Arrow
    transfer of the embedding column, no interpreted HOF lambda.

    The per-query win at small scale is the eliminated Python round-trip
    (~100 ms on a warm session); at cluster scale the win is that the
    embedding column never leaves the JVM. Use for modest dims (the
    expression tree grows linearly; codegen splits huge methods but JIT
    quality degrades — ``knn`` switches to the Arrow kernel above
    ``NATIVE_COSINE_MAX_DIM``).
    """
    import math

    qn = math.sqrt(sum(float(x) * float(x) for x in query_vector))
    return lambda col: _native_cosine(col, [float(x) for x in query_vector], qn)


def _native_cosine(e: Column, qv: List[float], qn: float) -> Column:
    dot_e = None
    nrm = None
    for i, x in enumerate(qv):
        ei = e[i].cast("double")
        term = ei * F.lit(x)
        sq = ei * ei
        dot_e = term if dot_e is None else dot_e + term
        nrm = sq if nrm is None else nrm + sq
    # Size guard without branching the 64-term expression: one extra
    # element probed null-tolerantly. A vector LONGER than the query has a
    # non-null element at index len(qv), so the poison term turns the norm
    # (hence the score) NULL — mismatched rows drop out of the top-k
    # (desc sort is nulls-last) instead of silently scoring on their
    # prefix. Shorter vectors already fail loudly: ANSI mode makes the
    # plain e[i] access raise on out-of-bounds, matching the Arrow
    # kernel's error on ragged batches. Wrapping the whole unrolled
    # expression in when(size(e)=d, ...) instead measured ~2x slower
    # (cold-codegen penalty on the doubled branch body); the poison term
    # is measurement-identical to the unguarded expression.
    poison = F.when(F.get(e, len(qv)).isNull(), F.lit(0.0))
    nrm = nrm + poison
    # poison the dot too: greatest() IGNORES nulls, so a null norm alone
    # would otherwise let a longer vector score dot/1e-300 instead of null
    dot_e = dot_e + poison
    n = F.sqrt(nrm) * F.lit(qn)
    # zero-norm guard WITHOUT duplicating the unrolled norm inside a CASE
    # branch (the old when(n == 0, ...).otherwise(dot/n) embedded the whole
    # 64-term norm twice — double codegen size for the same result): a zero
    # norm implies a zero dot, so dot/max(n, tiny) is already 0.0
    return dot_e / F.greatest(n, F.lit(1e-300))


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot/(|a|·|b|) (reference vector_utils.py:12-38). Null-safe: returns
    null if either side is null; 0.0 if either norm is 0."""
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n == 0, F.lit(0.0)).otherwise(d / n)


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def manhattan_distance(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_to_query(query_vector: Sequence[float]) -> Column:
    """Arrow-native cosine of an array column against one broadcast query
    vector — the kNN hot path. Returns a callable-ready Column factory:
    ``df.withColumn("score", cosine_to_query(qv)(F.col("embedding")))``.

    Spark 4.1 ``arrow_udf``: the kernel receives the raw
    ``pyarrow.ListArray``, whose flattened values buffer is ONE contiguous
    numpy array — reshape + matmul with zero per-row Python objects. The
    pandas_udf form this replaces materialized a Series of 1 ndarray PER
    ROW before vstack-ing them back together (measured 0.375 s → 0.295 s
    honest full-re-execution at 400k × 64-d). Ragged or null-bearing
    batches fall back to the per-row conversion, whose error/NaN behavior
    matches the old kernel. Doubles are bit-identical to the pandas
    kernel (same float64 matmul over the same values)."""
    import numpy as np
    from pyspark.sql import types as T

    q = np.asarray(query_vector, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    dim = len(q)

    def _kernel(arr):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(arr)
        if n == 0:
            return pa.array([], type=pa.float64())
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        mm = pc.min_max(pc.list_value_length(arr)).as_py()
        if arr.null_count == 0 and mm["min"] == dim and mm["max"] == dim:
            # every row exactly dim-long: the values buffer IS the matrix
            vals = arr.flatten().to_numpy(zero_copy_only=False)
            M = vals.reshape(n, dim).astype(np.float64, copy=False)
        else:
            M = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in arr.to_pylist()]
            )
        norms = np.linalg.norm(M, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(norms == 0, 0.0, (M @ q) / norms)
        return pa.array(s, type=pa.float64())

    return F.arrow_udf(_kernel, T.DoubleType())


def dot_to_query_native(query_vector: Sequence[float]):
    """Fully-JVM dot product against one literal query vector (unrolled
    multiply-add chain; same shape as ``cosine_to_query_native``'s
    numerator). Pair with a precomputed row-norm column for the fastest
    all-JVM cosine: ``dot_to_query_native(q)(col) / (norm_col * |q|)`` —
    the scoring plan ``ivf_knn(method='native')`` uses. Needs the
    session's ``spark.sql.codegen.hugeMethodLimit`` aligned to the JIT's
    8000-byte compile refusal (session.get_spark sets it): a 64-term chain
    inside one whole-stage-codegen method exceeds that limit and runs
    JVM-INTERPRETED otherwise — measured 0.70 s vs 0.17 s at 400k rows."""
    return lambda col: _native_dot(col, [float(x) for x in query_vector])


def _native_dot(e: Column, qv: List[float]) -> Column:
    out = None
    for i, x in enumerate(qv):
        term = e[i].cast("double") * F.lit(x)
        out = term if out is None else out + term
    # same dimension guards as _native_cosine: a non-null element past
    # len(qv) turns the dot null, so LONGER vectors drop out of the top-k
    # (nulls-last); SHORTER vectors fail loudly — ANSI mode raises on the
    # out-of-bounds e[i] access, matching the Arrow kernel's error on
    # ragged batches
    return out + F.when(F.get(e, len(qv)).isNull(), F.lit(0.0))


def cosine_pairwise(a: Column, b: Column) -> Column:
    """Arrow-batched cosine between two array columns — the pair-join hot
    path (near-dup verify, semantic dedup). One numpy pass per Arrow batch
    replaces per-pair interpreted aggregate/zip_with folds (measured 5-8x
    on 64-d pairs, same wall cosine_to_query removed for the kNN path).
    Matches ``cosine_similarity`` except null inputs yield NaN rather than
    null (Arrow float lanes have no null slot) — both fail any threshold
    comparison, so filters behave identically; 0.0 if either norm is 0."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _kernel(va, vb):
        out = np.full(len(va), np.nan)
        mask = va.notna() & vb.notna()
        if mask.any():
            A = np.stack([np.asarray(v, dtype=float) for v in va[mask]])
            B = np.stack([np.asarray(v, dtype=float) for v in vb[mask]])
            dots = np.einsum("ij,ij->i", A, B)
            norms = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[np.asarray(mask)] = np.where(norms == 0, 0.0, dots / norms)
        return pd.Series(out)

    return F.pandas_udf(_kernel, T.DoubleType())(a, b)


def sqdist_to_query_native(query_vector: Sequence[float]):
    """Fully-JVM squared euclidean distance to one literal query vector
    (unrolled (e[i]-q[i])^2 chain — same codegen shape, dim guard, and
    hugeMethodLimit requirement as ``_native_dot``). ``sqrt`` at the
    call site when the metric is euclidean proper."""
    return lambda col: _native_sqdist(col, [float(x) for x in query_vector])


def _native_sqdist(e: Column, qv: List[float]) -> Column:
    out = None
    for i, x in enumerate(qv):
        d = e[i].cast("double") - F.lit(x)
        term = d * d
        out = term if out is None else out + term
    # same dimension guards as _native_dot: LONGER vectors go null (and
    # ascending sorts below use asc_nulls_last, so they drop out of the
    # top-k); SHORTER vectors raise on the out-of-bounds access under ANSI
    return out + F.when(F.get(e, len(qv)).isNull(), F.lit(0.0))


def l1_to_query_native(query_vector: Sequence[float]):
    """Fully-JVM manhattan distance to one literal query vector (unrolled
    |e[i]-q[i]| chain; guards as ``_native_sqdist``)."""
    qvf = [float(x) for x in query_vector]

    def _build(e: Column) -> Column:
        out = None
        for i, x in enumerate(qvf):
            term = F.abs(e[i].cast("double") - F.lit(x))
            out = term if out is None else out + term
        return out + F.when(F.get(e, len(qvf)).isNull(), F.lit(0.0))

    return _build


def distance_to_query(query_vector: Sequence[float], metric: str) -> Column:
    """Arrow-native distance/score of an array column against one
    broadcast query vector, for ``metric`` in dot/euclidean/manhattan —
    the high-dim sibling of ``cosine_to_query`` with the same
    ``pyarrow.ListArray`` zero-copy fast path (the flattened values
    buffer reshapes into the matrix; ragged or null-bearing batches fall
    back to the per-row conversion)."""
    import numpy as np
    from pyspark.sql import types as T

    if metric not in ("dot", "euclidean", "manhattan"):
        raise ValueError(f"distance_to_query: unsupported metric {metric!r}")
    q = np.asarray(query_vector, dtype=np.float64)
    dim = len(q)

    def _kernel(arr):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(arr)
        if n == 0:
            return pa.array([], type=pa.float64())
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        mm = pc.min_max(pc.list_value_length(arr)).as_py()
        if arr.null_count == 0 and mm["min"] == dim and mm["max"] == dim:
            vals = arr.flatten().to_numpy(zero_copy_only=False)
            M = vals.reshape(n, dim).astype(np.float64, copy=False)
        else:
            M = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in arr.to_pylist()]
            )
        if metric == "dot":
            s = M @ q
        elif metric == "euclidean":
            # |m-q|^2 = |m|^2 - 2 m.q + |q|^2 off one matmul; clip the
            # tiny negative residue float cancellation can leave
            s = np.sqrt(
                np.maximum(
                    (M * M).sum(axis=1) - 2.0 * (M @ q) + float(q @ q), 0.0
                )
            )
        else:
            s = np.abs(M - q[None, :]).sum(axis=1)
        return pa.array(s, type=pa.float64())

    return F.arrow_udf(_kernel, T.DoubleType())


#: widest vector the unrolled column-vs-column kernels below accept —
#: same envelope as the query-vector unrolls (the expression tree grows
#: linearly with dim; past this the HOF form's interpreted lambda beats
#: codegen'd megamorphic methods)
PAIR_NATIVE_MAX_DIM = 128


def _unrolled_fold(terms) -> Column:
    # the exact fold the HOF kernels evaluate — aggregate(..., lit(0.0),
    # acc + v) is ((0.0 + t0) + t1) + ... — so results are bit-identical
    s: Column = F.lit(0.0)
    for t in terms:
        s = s + t
    return s


def pair_dot_native(a: Column, b: Column, dim: int) -> Column:
    """Unrolled column-vs-column dot for vectors of known uniform ``dim``:
    one array access + multiply-add per dimension, fully codegen'd (the
    HOF ``dot`` runs its lambda interpreted per PAIR — the dominant cost
    of every all-pairs exact plan). Same fold order as ``dot`` →
    bit-identical values. Callers must ensure every non-null vector has
    exactly ``dim`` elements (see ``native_pair_dim``): the plain ``a[i]``
    access raises on shorter arrays under ANSI and silently prefixes
    longer ones, where the HOF null-pads — the uniform-dim gate is what
    makes the two agree."""
    return _unrolled_fold(a[i] * b[i] for i in range(dim))


def pair_cosine_native(
    a: Column, b: Column, dim: int,
    na: Column | None = None, nb: Column | None = None,
) -> Column:
    """Unrolled ``cosine_similarity`` for uniform-``dim`` vectors.
    ``na``/``nb`` accept PRECOMPUTED per-row norms (``norm_native``) so an
    n x m pair plan computes n+m norms instead of 2·n·m — the all-pairs
    operators project them before the join. Same guard expression as the
    HOF form (``when(n == 0, 0.0)``), same fold order → bit-identical."""
    n = (na if na is not None else norm_native(a, dim)) * (
        nb if nb is not None else norm_native(b, dim)
    )
    d = pair_dot_native(a, b, dim)
    return F.when(n == 0, F.lit(0.0)).otherwise(d / n)


def pair_euclidean_native(a: Column, b: Column, dim: int) -> Column:
    """Unrolled ``euclidean_distance`` (uniform ``dim``; same fold order)."""
    return F.sqrt(
        _unrolled_fold((a[i] - b[i]) * (a[i] - b[i]) for i in range(dim))
    )


def pair_manhattan_native(a: Column, b: Column, dim: int) -> Column:
    """Unrolled ``manhattan_distance`` (uniform ``dim``; same fold order)."""
    return _unrolled_fold(F.abs(a[i] - b[i]) for i in range(dim))


def norm_native(a: Column, dim: int) -> Column:
    """Unrolled ``norm`` for uniform-``dim`` vectors (same fold order)."""
    return F.sqrt(_unrolled_fold(a[i] * a[i] for i in range(dim)))


PAIR_NATIVE_METRICS = {
    "cosine": pair_cosine_native,
    "dot": pair_dot_native,
    "euclidean": pair_euclidean_native,
    "manhattan": pair_manhattan_native,
}


def vector_probe(df, vector_col: str):
    """``(rows, min size, max size)`` of a vector column in ONE aggregate
    job: the row count (every row, null vectors too) and the min/max
    ``size()`` over the non-null vectors (None, None when there are
    none). The exact-pair plans read all three from one probe per side —
    the count and width for the broadcast byte gate
    (``operators.dedup.pair_broadcast_fits``), the min/max for the
    native-kernel gate (:func:`pair_dim`)."""
    size = F.when(F.col(vector_col).isNotNull(), F.size(F.col(vector_col)))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(size).alias("mn"),
        F.max(size).alias("mx"),
    ).first()
    return row["n"], row["mn"], row["mx"]


def pair_dim(min_size, max_size, max_dim: int = PAIR_NATIVE_MAX_DIM):
    """Gate for the unrolled pair kernels, from a :func:`vector_probe`:
    the vector length when every non-null vector has it and it lies in
    (0, ``max_dim``], else None (→ caller keeps the HOF path, whose
    null-padding semantics ragged data needs)."""
    if min_size is None or min_size != max_size or not 0 < min_size <= max_dim:
        return None
    return min_size


def native_pair_dim(df, vector_col: str, max_dim: int = PAIR_NATIVE_MAX_DIM):
    """:func:`pair_dim` of a column, probed with one aggregate job
    (:func:`vector_probe`): None when the column is empty, all-null,
    ragged, or wider than ``max_dim``."""
    _n, mn, mx = vector_probe(df, vector_col)
    return pair_dim(mn, mx, max_dim)


#: metrics ranked ASCENDING (smaller is closer); the rest rank descending
ASCENDING_METRICS = frozenset({"euclidean", "manhattan"})

DISTANCE_METRICS = {
    "cosine": cosine_similarity,
    "dot": dot,
    "euclidean": euclidean_distance,
    "manhattan": manhattan_distance,
}


def vec_lit(v: Sequence[float]) -> Column:
    """A literal array<double> column from a Python vector (broadcast as a
    constant into codegen — no join needed for query-vector scoring)."""
    return F.array(*[F.lit(float(x)) for x in v])


def l2_normalize(a: Column) -> Column:
    n = norm(a)
    return F.when(n == 0, a).otherwise(F.transform(a, lambda x: x / n))
