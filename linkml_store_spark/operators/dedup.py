"""Deduplication operators for large-scale text pipelines.

Beyond the reference surface (north-star extension): exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup. All are pure DataFrame
compositions — hashing via ``F.hash``/``F.xxhash64`` (JVM, codegen), the only
shuffles are the groupBys/joins inherent to the algorithms.

Scale notes (100 TB):
  * exact dedup shuffles once on the hash of the dedup key;
  * MinHash: explode-to-shingles is the big intermediate — it never
    materializes (flows straight into per-doc min aggregation, map-side
    combined); candidate generation joins on (band_idx, band_hash), which is
    uniformly distributed by construction, so no skew;
  * pair verification is bounded by candidate count, not corpus size.
"""

from __future__ import annotations

import functools
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# --------------------------------------------------------------------- #
# exact
# --------------------------------------------------------------------- #
def exact_duplicates(
    df: DataFrame, key_cols: Optional[List[str]] = None, id_col: str = "doc_id"
) -> DataFrame:
    """Rows that duplicate an earlier row on ``key_cols`` (hash-groupBy).

    Returns the duplicate rows (keeping the min-id row as canonical), with
    ``dup_of`` pointing at the kept id. One shuffle on the key hash.
    """
    key_cols = key_cols or [c for c in df.columns if c != id_col]
    key = F.xxhash64(*[F.col(c) for c in key_cols])
    w = Window.partitionBy(key).orderBy(F.asc(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_of", F.first(F.col(id_col)).over(w))
        .filter(F.col("__rn") > 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, key_cols: Optional[List[str]] = None) -> DataFrame:
    """Keep one row per key (arbitrary winner — dropDuplicates semantics)."""
    return df.dropDuplicates(key_cols)


# --------------------------------------------------------------------- #
# shingles / tokens
# --------------------------------------------------------------------- #
def _tokens(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-shingles as an array<string> (distinct).

    IMPORTANT: pass a pre-materialized token ARRAY column (see
    ``_with_shingles``), not a raw text column — expressions referenced
    inside higher-order-function lambdas are re-evaluated per element
    (codegen subexpression elimination is disabled through LambdaFunction),
    so an inline ``split`` would re-split the text once per shingle
    (measured 7x slower at sf0.1).
    """
    toks = text_col
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _with_shingles(
    df: DataFrame, text_col: str, k: int, keep: List[str], out: str = "__sh"
) -> DataFrame:
    """Two-step projection: tokens first (split runs once per row), then
    shingles from the token array. The narrow (keep, text) projection is
    fanned out first so the tokenize+shingle stage — and everything
    narrow-chained on top (signature unrolls, explode self-joins) — runs
    on every core instead of the single task a one-row-group store scans
    as (round 12; no-op on pre-split inputs, layout-only)."""
    from linkml_store_spark.operators.scale import fan_out

    base = fan_out(
        df.select(*keep, F.col(text_col)),
        key=keep[0] if keep else None,
    )
    toked = base.select(*keep, _tokens(F.col(text_col)).alias("__toks"))
    return toked.select(*keep, _shingles(F.col("__toks"), k).alias(out))


# --------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------- #
def shingle_hash_sets(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    out: str = "shingle_hashes",
) -> DataFrame:
    """(id, distinct shingle-hash set as array<long>) — the exact-identity
    side of the minhash pipeline, factored out so verified dedup can
    persist/compare the SETS while signatures stay the LSH recall path.

    Hashing shape (shared with ``minhash_signatures``): each TOKEN string
    is hashed exactly once; shingle hash = xxhash64 of the k consecutive
    token hashes — no 20-byte shingle strings are ever built (string
    construction was ~30 s of the 500k-doc pipeline). Jaccard over these
    sets equals exact string-shingle Jaccard modulo 64-bit collisions
    (~n²·2⁻⁶⁴). Pure projection — no explode, no shuffle, whole-stage
    codegen."""
    from linkml_store_spark.operators.scale import fan_out

    k = shingle_size
    # fan the narrow (id, text) projection out before tokenize+hash —
    # this also parallelizes everything chained on top (the minhash
    # permutation kernel, band buckets): a one-row-group store scans as
    # ONE task otherwise (round 12; no-op on pre-split inputs)
    toked = fan_out(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__toks")
    )
    ht = toked.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)).alias("__ht"),
    )
    n = F.size(F.col("__ht"))
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))

    def shingle_hash(i: Column) -> Column:
        return F.xxhash64(
            *[F.element_at(F.col("__ht"), i + j) for j in range(k)]
        )

    # short docs (< k tokens): fold every token hash into one shingle hash,
    # mirroring _shingles' whole-text fallback
    whole = F.aggregate(
        F.col("__ht"), F.lit(0).cast("long"), lambda acc, h: F.xxhash64(acc, h)
    )
    return ht.select(
        F.col(id_col),
        F.array_distinct(
            F.when(n >= k, F.transform(idx, shingle_hash)).otherwise(
                F.array(whole)
            )
        ).alias(out),
    )


def exact_jaccard_sets(a: Column, b: Column) -> Column:
    """Exact Jaccard between two DISTINCT-element array columns, via one
    array_intersect (|A∪B| = |A|+|B|−|A∩B| avoids materializing the
    union)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, minhash array<bigint>[num_perm]) via seeded xxhash64 minima.

    Permutation i is simulated by re-hashing with seed i — standard
    one-pass minhash. The expensive part is hashing SHINGLE STRINGS
    (~20 bytes each), so each shingle is string-hashed exactly ONCE into a
    long (``__hs``), and the num_perm permutations integer-rehash that
    long: hashing 8 fixed bytes is several times cheaper than re-walking
    the string per permutation (at 500k docs / 26M shingles the string
    formulation evaluates 1.7B string hashes). Both steps are pure
    projections — NO explode, NO shuffle — inside whole-stage codegen.
    (The explode + 64-min-aggregates formulation was measured 4x slower:
    64 aggregate expressions push the generated aggregate past
    JIT-friendly size, and the exploded intermediate shuffles
    |docs|·|shingles| rows for no reason.)
    """
    hashed = shingle_hash_sets(df, text_col, id_col, shingle_size, out="__hs")

    # The num_perm permutation minima are the hot loop: num_perm × |shingles|
    # evaluations (1.7B at 500k docs). A `transform` lambda CANNOT whole-stage
    # codegen (lambda bodies run interpreted), measured ~147 s there — so this
    # one step drops to an Arrow-batched pandas UDF: numpy uint64 multiply-add
    # permutations (datasketch-style a*h+b, wrap-around is the mod-2^64) with
    # np.minimum.reduceat for the per-doc minima. Measured 13x faster than the
    # interpreted-lambda formulation; everything before it stays native.
    return hashed.select(
        F.col(id_col), _minhash_perm_udf(num_perm)(F.col("__hs")).alias("minhash")
    )


@functools.cache
def _minhash_perm_udf(num_perm: int):
    """Arrow-batched permutation-minima kernel, one per num_perm."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rng = np.random.RandomState(12345)
    A = (rng.randint(0, 2**63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.randint(0, 2**63, size=num_perm, dtype=np.uint64)

    def _kernel(hs):
        lens = hs.map(len).to_numpy()
        if lens.sum() == 0:
            return pd.Series([[0] * num_perm for _ in range(len(hs))])
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in hs]).astype(
            np.uint64
        )
        offsets = np.zeros(len(hs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        with np.errstate(over="ignore"):
            mins = np.empty((num_perm, len(hs)), dtype=np.uint64)
            for i in range(num_perm):
                vals = A[i] * flat + B[i]  # uint64 wrap = mod 2^64
                mins[i] = np.minimum.reduceat(vals, offsets)
        out = mins.T.astype(np.int64)
        return pd.Series(list(out))

    return F.pandas_udf(_kernel, T.ArrayType(T.LongType()))


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH banding projection: (id, band_idx, band_hash) — one row per
    band per doc. Shared by pairwise, cluster, and incremental dedup."""
    rows_per_band = num_perm // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx")
    banded = signatures.select(F.col(id_col), F.col("minhash"), band_idx)
    return banded.select(
        id_col,
        "band_idx",
        F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        "minhash",
                        F.col("band_idx") * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Banding: docs sharing any (band_idx, band_hash) bucket become
    candidate pairs (left_id < right_id). Self-join on the bucket key —
    uniform hash keys, no skew; bucket fanout bounded by collision rate."""
    banded = band_buckets(signatures, id_col, num_perm, bands)
    left = banded.select(
        F.col(id_col).alias("left_id"), "band_idx", "band_hash"
    )
    right = banded.select(
        F.col(id_col).alias("right_id"), "band_idx", "band_hash"
    )
    return (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )


def minhash_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing minhash slots."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(sig_a)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> verified near-dup pairs
    with estimated jaccard >= threshold.

    Signatures are persisted: the (expensive) shingle->minhash job feeds the
    banding join AND both sides of the verification join — without a persist
    it would run three times. The signature table is tiny relative to the
    corpus (num_perm longs per doc), so MEMORY_AND_DISK is safe at scale.
    """
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_size).persist()
    cand = lsh_candidate_pairs(sig, id_col, num_perm, bands)
    l = sig.select(F.col(id_col).alias("left_id"), F.col("minhash").alias("__ml"))
    r = sig.select(F.col(id_col).alias("right_id"), F.col("minhash").alias("__mr"))
    return (
        cand.join(l, "left_id")
        .join(r, "right_id")
        .withColumn("jaccard", minhash_jaccard(F.col("__ml"), F.col("__mr")))
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def minhash_dedup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_iterations: int = 5,
    signatures: Optional[DataFrame] = None,
) -> DataFrame:
    """Cluster-canonical dedup: (id, canonical_id) with NO pair
    materialization — the formulation that survives large duplicate
    clusters.

    ``signatures`` optionally supplies a precomputed
    ``minhash_signatures`` frame for exactly ``df``'s rows (callers that
    already materialized one, e.g. ``dedup_incremental``, skip the
    second tokenize+minhash pass).

    Pairwise dedup output is quadratic in cluster size (a 100-copy
    document yields C(100,2)=4950 pairs; measured 27M pairs / 445 s on a
    500k-doc corpus with 100x replication, vs seconds for this operator —
    SCALING.md). Instead, docs sharing any LSH band bucket are clustered
    by bipartite min-label propagation: a doc's label is the min over its
    buckets' labels, a bucket's label is the min over its docs' labels;
    iterate to a fixpoint (transitive closure across buckets). Each
    iteration is two keyed aggregations — linear shuffle volume, no
    self-join. Identical-doc cliques converge in one pass; chains need
    up to ``max_iterations``.

    Bucket co-membership is the standard "aggressive" corpus-dedup
    criterion (candidates are unverified); use ``minhash_dedup_pairs``
    when per-pair estimated-jaccard thresholds are required.
    """
    rows_per_band = num_perm // bands
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, num_perm, shingle_size)
    )
    band_idx = F.explode_outer(F.sequence(F.lit(0), F.lit(bands - 1))).alias(
        "band_idx"
    )
    edges = (
        sig.select(F.col(id_col), F.col("minhash"), band_idx)
        .select(
            id_col,
            F.xxhash64(
                F.col("band_idx"),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            "minhash",
                            F.col("band_idx") * rows_per_band + 1,
                            rows_per_band,
                        ),
                        lambda x: x.cast("string"),
                    ),
                ),
            ).alias("bucket"),
        )
        .persist()
    )
    # labels start as the id itself; each refinement is PERSISTED before the
    # fixpoint probe — iterative plans otherwise chain lineage and iteration
    # k re-executes iterations 1..k-1 (measured 4x slower on 500k docs)
    labels = edges.groupBy(id_col).agg(F.min(id_col).alias("label")).persist()
    labels.count()
    for _ in range(max_iterations):
        bucket_min = (
            edges.join(labels, id_col)
            .groupBy("bucket")
            .agg(F.min("label").alias("bucket_label"))
        )
        new_labels = (
            edges.join(bucket_min, "bucket")
            .groupBy(id_col)
            .agg(F.min("bucket_label").alias("label"))
            .persist()
        )
        # fixpoint check: any doc whose label still shrinks?
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col(id_col), F.col("label").alias("canonical_id"))


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #
def _md5_low64(t: Column) -> Column:
    """Low 64 bits (big-endian hex chars 17-32) of md5 as a signed long —
    bit-identical to DuckDB's ``('0x' || substr(md5(t),17,16))::UBIGINT``
    reinterpreted two's-complement, so simhash built on it is fully
    SQL-replayable (the dedup_simhash oracle)."""
    d = F.conv(F.substring(F.md5(t), 17, 16), 16, 10).cast("decimal(20,0)")
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    return F.when(d >= two63, d - two64).otherwise(d).cast("long")


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): per-token hash, sign-sum each bit, collapse
    to a fingerprint.

    Projection-only (no explode/groupBy shuffle): token hashes materialize
    once per row, then each bit's sign-sum is an ``aggregate`` over that
    array — the same two-step pattern as minhash_signatures, for the same
    codegen/shuffle reasons.

    ``token_hash``: "xxhash64" (one JVM instruction per token — the scale
    default) or "md5" (md5 low-64; ~3x the per-token cost but exactly
    reproducible in any engine with md5 — the variant the SQL value
    oracle replays end-to-end).
    """
    tok_fn = F.xxhash64 if token_hash == "xxhash64" else _md5_low64
    # fan out the narrow (id, text) projection BEFORE the fingerprint map
    # (guide §2.5 input skew, round 13 — measured at 10x SF: the 64
    # per-bit aggregate() passes over each row's token-hash array ran on
    # the scan's task layout, and a sub-128MB text table scans as ONE
    # split, serializing the whole simhash computation on a single core;
    # no-op on pre-split inputs)
    from linkml_store_spark.operators.scale import fan_out

    hashed = fan_out(df.select(id_col, text_col), key=id_col).select(
        F.col(id_col),
        F.transform(_tokens(F.col(text_col)), lambda t: tok_fn(t)).alias("__hs"),
    )
    hs = F.col("__hs")

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            hs,
            F.lit(0),
            lambda a, h: a
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_sums = [bit_sum(i) for i in range(bits)]
    fingerprint = None
    for i, b in enumerate(bit_sums):
        bit = F.when(b > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            b > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return hashed.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into ``blocks`` chunks;
    any pair within hamming <= blocks-1 shares at least one exact chunk, so
    join on (chunk_idx, chunk_value) then verify with POPCOUNT(xor).

    Fingerprints are persisted — the simhash job (explode + 64 bit-sums)
    feeds both sides of the blocking self-join.
    """
    fp = simhash(df, text_col, id_col, token_hash=token_hash).persist()
    width = 64 // blocks
    chunk_vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(blocks)
        ]
    )
    chunked = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(chunk_vals).alias("chunk_idx", "chunk_val"),
    )
    l = chunked.select(
        F.col(id_col).alias("left_id"), F.col("simhash").alias("__sl"), "chunk_idx", "chunk_val"
    )
    r = chunked.select(
        F.col(id_col).alias("right_id"), F.col("simhash").alias("__sr"), "chunk_idx", "chunk_val"
    )
    pairs = (
        l.join(r, on=["chunk_idx", "chunk_val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "__sl", "__sr")
        .distinct()
    )
    hamming = F.bit_count(F.col("__sl").bitwiseXOR(F.col("__sr")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


# --------------------------------------------------------------------- #
# n-gram Jaccard (exact, for candidate verification or small corpora)
# --------------------------------------------------------------------- #
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.5,
    candidates: Optional[DataFrame] = None,
    method: str = "index",
) -> DataFrame:
    """Exact Jaccard over word shingles.

    With ``candidates`` given (left_id, right_id), verifies only those
    pairs. Otherwise the candidate strategy is ``method``:

    * ``"index"`` — inverted index on shingles: explode (doc, shingle),
      self-equi-join on the shingle, count matches per pair (the count IS
      the intersection size because per-doc shingles are distinct); a
      **length filter** on the join (J >= t forces t*|A| <= |B| <= |A|/t)
      prunes pairs before the aggregation. Exact for ``threshold > 0``:
      any qualifying pair shares a shingle. Shuffle keys on shingles
      (high-cardinality, near-uniform); AQE splits hot stopword shingles.
    * ``"prefix"`` — PPJoin-style prefix filtering: shingles get a global
      rarity order (ascending document frequency), each doc indexes only
      its first ``n - ceil(t*n) + 1`` shingles in that order, candidates
      come from the prefix self-join, and each candidate verifies exactly
      on the full arrays. Any pair with J >= t must share a prefix shingle
      in BOTH prefixes (the smallest common shingle in the global order
      sits within each side's prefix), so the result is exactly the
      all-pairs answer — but hot shingles almost never survive into a
      prefix, so the candidate join stays bounded on stopword-heavy
      corpora where the inverted index blows up.
    """
    sh = _with_shingles(df, text_col, shingle_size, keep=[id_col])
    if candidates is None:
        if threshold <= 0:
            raise ValueError("threshold must be > 0 for the candidate paths")
        if method == "prefix":
            cands = _jaccard_prefix_candidates(sh, id_col, threshold)
            return ngram_jaccard_pairs(
                df, text_col, id_col, shingle_size, threshold, candidates=cands
            )
        if method != "index":
            raise ValueError(f"unknown method: {method!r}")
        # explode_outer + isNotNull, NOT plain explode: Catalyst infers
        # `size(arr) > 0` from explode and pushes it below the projection,
        # re-evaluating the whole tokenize+shingle expression in the scan
        # filter (2x CPU). explode_outer has no such inference; our shingle
        # arrays are never empty/null so the results are identical.
        # The set size rides along with each exploded row (computed once
        # per row in the same projection — no extra join).
        exs = (
            sh.select(
                F.col(id_col).alias("__id"),
                F.size("__sh").alias("__n"),
                F.explode_outer("__sh").alias("__s"),
            )
            .filter(F.col("__s").isNotNull())
        )
        left = exs.select(
            F.col("__id").alias("left_id"), "__s", F.col("__n").alias("__nl")
        )
        right = exs.select(
            F.col("__id").alias("right_id"), "__s", F.col("__n").alias("__nr")
        )
        t = float(threshold)
        inter = (
            left.join(right, "__s")
            .filter(F.col("left_id") < F.col("right_id"))
            # length filter: prune the pair BEFORE the aggregation shuffle
            .filter(
                (F.col("__nr") >= F.lit(t) * F.col("__nl"))
                & (F.col("__nl") >= F.lit(t) * F.col("__nr"))
            )
            .groupBy("left_id", "right_id", "__nl", "__nr")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        union = F.col("__nl") + F.col("__nr") - F.col("__inter")
        return (
            inter.withColumn("jaccard", F.col("__inter") / union)
            .filter(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard")
        )
    else:
        pairs = (
            candidates.join(
                sh.select(F.col(id_col).alias("left_id"), F.col("__sh").alias("__shl")),
                "left_id",
            ).join(
                sh.select(F.col(id_col).alias("right_id"), F.col("__sh").alias("__shr")),
                "right_id",
            )
        )
        # pin the verify stage's parallelism (guide §2, round 13 —
        # measured at 10x SF): the exact array_intersect/union over word
        # shingles is CPU-heavy per PAIR, but the pair rows are small in
        # BYTES, so AQE coalesced the post-join stage to 2 partitions and
        # serialized ~20 s of verify CPU on two cores. An explicit
        # numPartitions repartition is exempt from AQE coalescing; the
        # count is the session's core count (scale-adaptive), and the
        # exchange moves only the candidate pairs (already the smallest
        # frame in the plan). Values unchanged — same pairs, same jaccard.
        p = pairs.sparkSession.sparkContext.defaultParallelism
        pairs = pairs.repartition(p, F.col("left_id"), F.col("right_id"))
    inter = F.size(F.array_intersect("__shl", "__shr"))
    union = F.size(F.array_union("__shl", "__shr"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def _jaccard_prefix_candidates(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """PPJoin prefix index -> candidate (left_id, right_id) pairs.

    Global shingle order = (document frequency asc, shingle asc) — rarity
    first, a total order with no global rank materialization. A doc of n
    shingles indexes its first ``n - ceil(t*n) + 1`` shingles in that
    order; the prefix self-join on the shingle yields every pair that can
    reach J >= t (see ngram_jaccard_pairs docstring for why), and only
    those candidates pay the exact verification.
    """
    from pyspark.sql.window import Window

    ex = (
        sh.select(
            F.col(id_col).alias("__id"),
            F.size("__sh").alias("__n"),
            F.explode_outer("__sh").alias("__s"),
        )
        .filter(F.col("__s").isNotNull())
    )
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy(F.col("__df").asc(), F.col("__s").asc())
    prefix = (
        ex.join(dfreq, "__s")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.col("__n") - F.ceil(F.lit(float(threshold)) * F.col("__n")) + 1
        )
        .select("__id", "__s", "__n")
    )
    t = float(threshold)
    l = prefix.select(F.col("__id").alias("left_id"), "__s", F.col("__n").alias("__nl"))
    r = prefix.select(F.col("__id").alias("right_id"), "__s", F.col("__n").alias("__nr"))
    return (
        l.join(r, "__s")
        .filter(F.col("left_id") < F.col("right_id"))
        .filter(
            (F.col("__nr") >= F.lit(t) * F.col("__nl"))
            & (F.col("__nl") >= F.lit(t) * F.col("__nr"))
        )
        .select("left_id", "right_id")
        .distinct()
    )


# --------------------------------------------------------------------- #
# embedding cosine near-dup
# --------------------------------------------------------------------- #
#: byte gate for pinning F.broadcast on the build side of the exact
#: all-pairs plans (round-13 advisory: the hint was unconditional — a big
#: right side would hit Spark's 8 GB broadcast hard cap and FAIL where the
#: planner-chosen nested loop merely ran slowly). Bytes, not rows: 1M
#: 64-dim double vectors frame to ~0.6 GB and broadcast, 1M 1024-dim ones
#: are ~8.3 GB and keep the planner's own join choice.
PAIR_BROADCAST_MAX_BYTES = 1 << 30

#: per-row framing of a broadcast (id, vector) row beyond its doubles:
#: the row header, the id, and the array's offset, length and null words
PAIR_BROADCAST_ROW_OVERHEAD = 64


def pair_broadcast_fits(rows: int, max_size) -> bool:
    """True when a build side of ``rows`` rows whose widest vector holds
    ``max_size`` doubles (a ``functions.vector.vector_probe``) is small
    enough to pin as a broadcast: rows × (max_size × 8 + the row
    overhead) within :data:`PAIR_BROADCAST_MAX_BYTES`."""
    width = (max_size or 0) * 8 + PAIR_BROADCAST_ROW_OVERHEAD
    return rows * width <= PAIR_BROADCAST_MAX_BYTES


def embedding_near_dup_pairs_exact(
    df: DataFrame,
    vector_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs exact cosine baseline — the oracle-checkable reference
    result the LSH variant's recall is measured against. Quadratic in row
    count: use ``embedding_near_dup_pairs`` (LSH) at scale.

    Scoring is the unrolled native pair kernel when the vectors are
    uniform-dim (guide §4: the HOF lambda runs INTERPRETED per pair and
    recomputes both norms n² times — measured 49.5 s for 20k x 20k
    64-dim pairs at sf0.1; the unrolled dot over per-ROW precomputed
    norms is bit-identical by fold order). Ragged/wide columns keep the
    HOF plan."""
    from linkml_store_spark.functions.vector import (
        cosine_similarity,
        norm_native,
        pair_cosine_native,
        pair_dim,
        vector_probe,
    )

    # one probe job: the row count and width gate the broadcast, the
    # min/max width gates the native kernel
    n_rows, min_size, max_size = vector_probe(df, vector_col)
    dim = pair_dim(min_size, max_size)
    l = df.select(F.col(id_col).alias("left_id"), F.col(vector_col).alias("__vl"))
    r = df.select(F.col(id_col).alias("right_id"), F.col(vector_col).alias("__vr"))
    if dim is not None:
        l = l.withColumn("__nl", norm_native(F.col("__vl"), dim))
        r = r.withColumn("__nr", norm_native(F.col("__vr"), dim))
        score = pair_cosine_native(
            F.col("__vl"), F.col("__vr"), dim,
            na=F.col("__nl"), nb=F.col("__nr"),
        )
    else:
        score = cosine_similarity(F.col("__vl"), F.col("__vr"))
    # the n² scoring loop runs on the STREAMED side's tasks, and a
    # single-file store scans as ONE partition — hash-repartition the
    # streamed side to the session's core count (scale-adaptive, not a
    # constant) and pin the build side broadcast so the nested loop
    # fans out (guide §2.5-2.6: the whole quadratic stage was one task).
    # Same pairs, same scores — only the task layout changes. The hint
    # is gated on bytes (pair_broadcast_fits): past the gate the planner
    # keeps its own join choice instead of hard-failing the exact
    # baseline at the broadcast cap.
    p = df.sparkSession.sparkContext.defaultParallelism
    build = F.broadcast(r) if pair_broadcast_fits(n_rows, max_size) else r
    return (
        l.repartition(p, F.col("left_id"))
        .crossJoin(build)
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("cosine", score)
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vector_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.95,
    hyperplanes: int = 16,
    seed: int = 42,
    n_tables: int = 4,
) -> DataFrame:
    """Near-dup pairs with cosine >= threshold, via random-hyperplane LSH
    bucketing + within-bucket exact verify.

    Multi-probe recall: a single 16-bit signature misses pairs that flip any
    one plane (P[all agree] ≈ (1-θ/π)^16), so ``n_tables`` independent
    signature tables are probed and their candidates unioned — recall
    1-(1-p)^T at T× candidate cost, the standard LSH recall/cost dial.
    Hyperplanes are deterministic from ``seed`` and enter the plan as
    literals (broadcast by codegen, no join). Candidates dedup on
    (left, right) before the exact cosine verify.
    """
    import numpy as np

    from linkml_store_spark.functions.vector import cosine_similarity, dot, vec_lit

    rng = np.random.RandomState(seed)
    dim = len(df.select(vector_col).first()[0])

    base = df.select(F.col(id_col), F.col(vector_col))
    sig_cols = []
    for t in range(n_tables):
        planes = rng.randn(hyperplanes, dim)
        sig: Column = F.lit(0).cast("long")
        for i in range(hyperplanes):
            d = dot(F.col(vector_col), vec_lit(planes[i]))
            sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
        sig_cols.append(sig.alias(f"__sig{t}"))
    # one pass computes every table's signature; persisted because each
    # table's bucket self-join reads it twice
    signed = base.select(id_col, vector_col, *sig_cols).persist()

    cand = None
    for t in range(n_tables):
        l = signed.select(
            F.col(id_col).alias("left_id"), F.col(f"__sig{t}").alias("__b")
        )
        r = signed.select(
            F.col(id_col).alias("right_id"), F.col(f"__sig{t}").alias("__b")
        )
        p = l.join(r, "__b").filter(F.col("left_id") < F.col("right_id")).select(
            "left_id", "right_id"
        )
        cand = p if cand is None else cand.union(p)
    cand = cand.distinct()

    lv = signed.select(F.col(id_col).alias("left_id"), F.col(vector_col).alias("__vl"))
    rv = signed.select(F.col(id_col).alias("right_id"), F.col(vector_col).alias("__vr"))
    # exact verify via the unrolled pair kernel when uniform-dim (the HOF
    # lambda is interpreted per candidate pair; bit-identical fold order)
    from linkml_store_spark.functions.vector import (
        native_pair_dim,
        norm_native,
        pair_cosine_native,
    )

    vdim = native_pair_dim(df, vector_col)
    if vdim is not None:
        lv = lv.withColumn("__nl", norm_native(F.col("__vl"), vdim))
        rv = rv.withColumn("__nr", norm_native(F.col("__vr"), vdim))
        score = pair_cosine_native(
            F.col("__vl"), F.col("__vr"), vdim,
            na=F.col("__nl"), nb=F.col("__nr"),
        )
    else:
        score = cosine_similarity(F.col("__vl"), F.col("__vr"))
    return (
        cand.join(lv, "left_id")
        .join(rv, "right_id")
        .withColumn("cosine", score)
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


# ------------------------------------------------------------------ #
# incremental (continuous-ingestion) dedup against a stored band index
# ------------------------------------------------------------------ #

def dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    verify_threshold: Optional[float] = None,
) -> DataFrame:
    """Deduplicate a NEW batch against everything ever ingested, without
    touching the corpus itself: the only persisted state is the band
    index (band_idx, band_hash, id) — fixed rows per doc, appended
    (never rewritten) per batch.

    A new doc is a duplicate iff it shares any band bucket with the
    index (same criterion as ``minhash_dedup_groups``); survivors are
    then deduped within the batch (transitively, via the cluster
    operator) and their buckets appended. Returns the surviving rows.

    ``verify_threshold`` switches on EXACT-VERIFIED mode (the same
    precision upgrade ``ngram_jaccard_pairs`` gives the one-shot path):
    the index additionally persists each survivor's distinct shingle-hash
    set (``<index_path>_sets``), band collisions become candidates only,
    and a doc is removed iff a candidate pair's exact shingle Jaccard
    clears the threshold — so banding contributes recall, never false
    positives. Within-batch dedup becomes verified-pair connected
    components (min-id canonical). At threshold >= 0.9 banding recall is
    1 − (1 − t⁴)¹⁶ ≈ 1 − 4e-8 per pair, making the output equal to the
    all-pairs exact answer — which is what lets a SQL oracle replay the
    whole incremental run (``__spark_entry__.py`` dedup_incremental).

    Scale shape: one shuffle join of the batch's buckets against the
    index on uniformly-hashed keys; the corpus is never re-scanned —
    cost per batch is O(batch + matching index slice). Verified mode
    adds the per-candidate set join (touches only colliding index rows)
    and one extra tokenize+hash projection over the batch.
    """
    import os

    from linkml_store_spark.operators.scale import stage_checkpoint

    spark = new_df.sparkSession
    # Compute the expensive tokenize+hash projections exactly ONCE per
    # batch (guide §5 localCheckpoint, §1.2 "don't compute things
    # twice"): this function runs several actions (the survivor
    # checkpoint plus two index appends), and within the survivor plan
    # alone the shingle-set subtree is referenced up to three times (the
    # candidate verification join and both sides of the within-batch
    # pair join) and the signature subtree twice (collision buckets and
    # within-batch candidates). Left lazy, every reference re-tokenizes
    # the batch — measured ~7 full text passes per batch at sf0.1. The
    # checkpoint is executor-local and within-invocation only (nothing
    # persists across calls); the appends below reuse these frames via
    # id semi-joins instead of re-deriving from text.
    sets_path = index_path.rstrip("/") + "_sets"
    if verify_threshold is not None:
        # signatures are the permutation minima OVER the shingle-hash
        # set, so compute the set once and derive the signature from it
        # (bit-identical to minhash_signatures: same shingle_hash_sets
        # values, same kernel)
        sets = stage_checkpoint(shingle_hash_sets(
            new_df, text_col, id_col, shingle_size
        ))
        sig = sets.select(
            F.col(id_col),
            _minhash_perm_udf(num_perm)(F.col("shingle_hashes")).alias(
                "minhash"
            ),
        )
        sig = stage_checkpoint(sig)
    else:
        sets = None
        sig = stage_checkpoint(minhash_signatures(
            new_df, text_col, id_col, num_perm, shingle_size
        ))
    buckets = band_buckets(sig, id_col, num_perm, bands)

    if os.path.exists(index_path):
        stored = spark.read.parquet(index_path)
        if verify_threshold is not None and not os.path.exists(sets_path):
            # the bucket index exists but the shingle-set sidecar does
            # not: this index was built WITHOUT verify_threshold (or the
            # sidecar was lost). Failing fast beats the alternatives —
            # spark.read would raise an opaque path error, and an empty
            # sidecar would silently never match, permanently disabling
            # dup detection against the indexed docs (round-9 advisor
            # finding).
            raise ValueError(
                f"dedup_incremental(verify_threshold=...) against "
                f"{index_path!r}: the shingle-set sidecar {sets_path!r} "
                "is missing — this index was built without verified "
                "mode. Rebuild the index with verify_threshold set, or "
                "call without verify_threshold to continue in banded "
                "mode."
            )
        if verify_threshold is None:
            dup_ids = (
                buckets.join(stored, ["band_idx", "band_hash"], "left_semi")
                .select(id_col)
                .distinct()
            )
        else:
            stored_sets = spark.read.parquet(sets_path)
            cand = (
                buckets.join(
                    stored.select(
                        "band_idx",
                        "band_hash",
                        F.col(id_col).alias("__idx_id"),
                    ),
                    ["band_idx", "band_hash"],
                )
                .select(id_col, "__idx_id")
                .distinct()
            )
            dup_ids = (
                cand.join(sets, id_col)
                .join(
                    stored_sets.select(
                        F.col(id_col).alias("__idx_id"),
                        F.col("shingle_hashes").alias("__hs_idx"),
                    ),
                    "__idx_id",
                )
                .filter(
                    exact_jaccard_sets(
                        F.col("shingle_hashes"), F.col("__hs_idx")
                    )
                    >= verify_threshold
                )
                .select(id_col)
                .distinct()
            )
        fresh = new_df.join(dup_ids, id_col, "left_anti")
    else:
        fresh = new_df

    # within-batch transitive dedup (first batch: the whole batch)
    if verify_threshold is None:
        groups = minhash_dedup_groups(
            fresh,
            text_col,
            id_col,
            num_perm,
            bands,
            shingle_size,
            signatures=sig.join(fresh.select(id_col), id_col, "left_semi"),
        )
        keep_ids = groups.filter(
            F.col(id_col) == F.col("canonical_id")
        ).select(id_col)
    else:
        from linkml_store_spark.operators.graph import connected_components

        fresh_ids = fresh.select(id_col)
        fsig = sig.join(fresh_ids, id_col, "left_semi")
        cand_pairs = lsh_candidate_pairs(fsig, id_col, num_perm, bands)
        fsets = sets.join(fresh_ids, id_col, "left_semi")
        pairs = (
            cand_pairs.join(
                fsets.select(
                    F.col(id_col).alias("left_id"),
                    F.col("shingle_hashes").alias("__hl"),
                ),
                "left_id",
            )
            .join(
                fsets.select(
                    F.col(id_col).alias("right_id"),
                    F.col("shingle_hashes").alias("__hr"),
                ),
                "right_id",
            )
            .filter(
                exact_jaccard_sets(F.col("__hl"), F.col("__hr"))
                >= verify_threshold
            )
            .select("left_id", "right_id")
        )
        cc = connected_components(
            pairs,
            src="left_id",
            dst="right_id",
            nodes=fresh_ids.select(F.col(id_col).alias("node")),
        )
        keep_ids = cc.filter(F.col("node") == F.col("component")).select(
            F.col("node").alias(id_col)
        )
    survivors = fresh.join(keep_ids, id_col, "left_semi")
    # materialize BEFORE appending: the survivors' lineage contains the
    # index read, so a lazy result re-evaluated after the append would
    # match each doc against its own just-written buckets (and return
    # nothing)
    survivors = stage_checkpoint(survivors)

    # the appended rows are exactly the already-computed per-row
    # projections restricted to the survivors (signatures/sets are
    # deterministic per-row maps, so subset-then-compute equals
    # compute-then-subset) — semi-join the checkpointed frames instead
    # of re-tokenizing the survivor text
    surv_ids = survivors.select(id_col)
    surv_buckets = buckets.join(surv_ids, id_col, "left_semi")
    # SETS sidecar first, buckets second: a failure between the two
    # appends must leave the index in a state later batches can survive.
    # Order matters — a doc with buckets but no shingle set would collide
    # as a candidate and then silently never verify (permanently
    # undetectable dup); a doc with a shingle set but no buckets merely
    # never collides, identical to a crash BEFORE either append (the doc
    # is re-processed/re-appended next run). (Round-9 advisor finding.)
    if verify_threshold is not None:
        sets.join(surv_ids, id_col, "left_semi").write.mode("append").parquet(
            sets_path
        )
    surv_buckets.write.mode("append").parquet(index_path)
    return survivors
